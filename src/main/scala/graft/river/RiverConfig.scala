package graft.river

/** What the river's import reads from the reference's configuration
  * surface (HBaseRiver.java:60-130). Connection fields (`hosts`,
  * `port`) become the source path; ES index/type become the sink path.
  * The reference settings with no field here are operators
  * (`batchSize` → `River.assignBatches`, `idField` → `River.extractId`,
  * `normalizeFields` → `River.normalizeField`, `columnSeparator` →
  * `River.parseQualifier`, `deleteOld` → `River.deleteOldKeys`,
  * `charset` → Spark's `decode(payload, charset)`) or the caller's
  * polling schedule (`interval`: `StreamingRiver.run` drains what has
  * landed and stops); README's migration table maps each.
  */
final case class RiverConfig(
    sourcePath: String,            // ref: hosts/port/table — where rows come from; no
                                   // library code reads it (the caller builds the
                                   // stream), kept because the benchmark
                                   // (perfbench's Main) constructs it by name
    sinkPath: String,              // ref: index/type — where docs land
    keyCol: String = "event_id",   // ref: rowKey → doc _id
    tsCol: String = "ts",          // ref: cell timestamp driving the watermark
    family: Option[String] = None, // ref: family (HBaseRiver.java:79)
    qualifiers: Seq[String] = Nil, // ref: qualifiers comma-list (":85); Nil = all
    sinkSchemaDdl: Option[String] = None) // ref: customMapping (":122) — declared
                                          // sink schema (Spark DDL), enforced at
                                          // every upsert like the ES mapping is
                                          // at index bootstrap
