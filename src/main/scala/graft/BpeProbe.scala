package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.text.Bpe

/** Round-12 diagnostic (VERDICT r11 next #6): measure where the
  * replace-chain BPE compilation breaks as the merge table grows, and
  * compare against the broadcast merge-loop kernel
  * ([[graft.text.BpeTokenCount]]) at the same rule counts.
  *
  * `runMain graft.BpeProbe [sfDir] [maxRules]` — prints one line per
  * (form, nRules): plan/analysis seconds, execution seconds, whether
  * the stage kept whole-stage codegen. Escalation stops once a single
  * step passes 60 s — the answer at that point is already "dead".
  */
object BpeProbe {

  /** Deterministic well-formed merge table of size n: each side is a
    * base char or the product of an earlier rule (the defining BPE
    * property — also what makes sequential-pass == priority-loop). */
  def syntheticMerges(n: Int): Seq[(String, String)] = {
    val pool = scala.collection.mutable.ArrayBuffer[String](
      (('a' to 'z') ++ ('0' to '9')).map(_.toString): _*)
    (0 until n).map { i =>
      val a = pool((i * 7 + 3) % pool.size)
      val b = pool((i * 13 + 5) % pool.size)
      pool += (a + b)
      (a, b)
    }
  }

  /** Compile an arbitrary well-formed table to the replace-chain form —
    * the [[Bpe.compiled]] construction with a CJK symbol plane (one
    * distinct single char per rule, outside the word alphabet). */
  def replaceChain(merges: Seq[(String, String)], textCol: Column): Column = {
    val sym = scala.collection.mutable.Map[String, String]()
    val rules = merges.zipWithIndex.map { case ((a, b), i) =>
      def of(t: String): String = if (t.length == 1) t else sym(t)
      val s = (0x4E00 + i).toChar.toString
      val rule = (of(a) + of(b), s)
      sym(a + b) = s
      rule
    }
    val symClass = (0x4E00 until (0x4E00 + merges.size)).map(_.toChar).mkString
    val merged = rules.foldLeft(lower(textCol)) { case (acc, (p, s)) =>
      replace(acc, lit(p), lit(s))
    }
    length(regexp_replace(merged, "[^a-z0-9'" + symClass + "]", "")).cast("long")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val maxRules = args.drop(1).headOption.map(_.toInt).getOrElse(3200)
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    val docs = Tables.documents(spark, sfDir).select("text").cache()
    docs.count()

    def step(label: String, n: Int, colOf: Seq[(String, String)] => Column): Double = {
      val merges = syntheticMerges(n)
      val t0 = System.nanoTime()
      val df = docs.select(sum(colOf(merges)).as("total"))
      val plan = df.queryExecution.executedPlan.toString
      val tPlan = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val total = df.collect()(0).getLong(0)
      val tExec = (System.nanoTime() - t1) / 1e9
      val wsc = plan.contains("WholeStageCodegen")
      println(f"$label%-14s n=$n%5d  plan=$tPlan%8.2fs  exec=$tExec%8.2fs  " +
        f"wholeStageCodegen=$wsc  total=$total")
      tPlan + tExec
    }

    var n = 40
    var chainDead = false
    while (n <= maxRules) {
      if (!chainDead) {
        val t = try step("replace-chain", n, m => replaceChain(m, col("text")))
        catch { case e: Throwable =>
          println(s"replace-chain  n=$n  FAILED: ${e.getClass.getSimpleName}: " +
            s"${Option(e.getMessage).getOrElse("").take(120)}")
          Double.MaxValue
        }
        if (t > 60) { chainDead = true; println(s"replace-chain: stopping escalation at n=$n") }
      }
      step("merge-kernel", n, m => Bpe.tokenCountLargeVocab(spark, col("text"), m))
      n *= 2
    }
    spark.stop()
  }
}
