package graft
package registry

import org.apache.spark.sql.functions._

/** SURVEY §2 Multimodal: binary columns and typed metadata. */
private[graft] object MultimodalQueries {

  val queries: Seq[Query] = Seq(
    Query("mm_binary_meta", (s, dir) =>
      multimodal.Multimodal.binaryMeta(Tables.documents(s, dir)),
      Some("""SELECT doc_id, octet_length(encode(text)) AS n_bytes,
             |       upper(substring(hex(encode(text)), 1, 8)) AS magic_hex,
             |       md5(text) AS md5_hex
             |FROM documents""".stripMargin)),

    // payload-level exact dedup: same-bytes uploads grouped by content
    // checksum, keeper + wasted-bytes accounting. The synthetic corpus
    // has no byte-identical payloads, so the wiring injects
    // deterministic re-uploads (every 20th doc again under id+10000 —
    // the dedup_containment inject-then-detect discipline) so the
    // detector demonstrably fires; both engines build the same frame.
    Query("mm_payload_dedup", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val reuploads = docs.filter(col("doc_id") % 20 === 0)
        .withColumn("doc_id", col("doc_id") + 10000L)
      multimodal.Multimodal.payloadDedup(docs.unionByName(reuploads))
    }, Some("""WITH corpus AS (
              |  SELECT doc_id, text FROM documents
              |  UNION ALL
              |  SELECT doc_id + 10000, text FROM documents WHERE doc_id % 20 = 0)
              |SELECT md5_hex, count(*) AS n_copies, min(doc_id) AS keeper_id,
              |       min(n_bytes) AS n_bytes,
              |       (count(*) - 1) * min(n_bytes) AS wasted_bytes
              |FROM (SELECT doc_id, md5(text) AS md5_hex,
              |             octet_length(encode(text)) AS n_bytes
              |      FROM corpus)
              |GROUP BY md5_hex HAVING count(*) > 1""".stripMargin)),

    Query("mm_feature_stub", (s, dir) =>
      // exploded to one scalar row per dimension so the result is
      // hashable/sortable by any downstream comparer (an array<double>
      // column is opaque to hash-based gates)
      multimodal.Multimodal.featureExtract(Tables.documents(s, dir), 8)
        .select(col("doc_id"), col("n_bytes"),
          posexplode(col("features")).as(Seq("dim_idx", "feature")))
        .select(col("doc_id"), col("n_bytes"),
          col("dim_idx").cast("long").as("dim_idx"), col("feature")),
      // the stub decoder is mean-byte-per-slice over the UTF-8 payload —
      // reproduced here from hex(encode(text)) with nibble arithmetic;
      // double ops in the same order as the stub (sum → /len → /255)
      Some("""WITH t AS (SELECT doc_id, hex(encode(text)) AS h,
             |                  octet_length(encode(text)) AS n FROM documents),
             |d AS (SELECT doc_id, h, n, unnest(range(0, 8)) AS dim_idx FROM t),
             |s AS (SELECT doc_id, h, n, dim_idx,
             |             (n * dim_idx) // 8 AS lo, (n * (dim_idx + 1)) // 8 AS hi FROM d)
             |SELECT doc_id, CAST(n AS BIGINT) AS n_bytes, CAST(dim_idx AS BIGINT) AS dim_idx,
             |       CASE WHEN hi = lo THEN 0.0
             |            ELSE CAST(list_sum(list_transform(range(lo, hi),
             |                   i -> 16 * (strpos('0123456789ABCDEF', substring(h, CAST(2*i+1 AS INT), 1)) - 1)
             |                        + (strpos('0123456789ABCDEF', substring(h, CAST(2*i+2 AS INT), 1)) - 1))) AS DOUBLE)
             |                 / (hi - lo) / 255.0 END AS feature
             |FROM s""".stripMargin)),

    Query("mm_frame_sample", (s, dir) =>
      multimodal.Multimodal.frameSample(Tables.documents(s, dir), 256, 4),
      Some("""WITH t AS (SELECT doc_id, text, length(text) // 256 + 1 AS n_frames FROM documents),
             |e AS (SELECT doc_id, text, n_frames, unnest(range(0, n_frames, 4)) AS frame_idx FROM t)
             |SELECT doc_id, frame_idx,
             |       md5(substring(text, CAST(frame_idx * 256 + 1 AS INT), 256)) AS frame_sig,
             |       n_frames
             |FROM e""".stripMargin))
  )
}
