package graft.model

/** Core data model of the CDC/ingest engine.
  *
  * Mirrors the reference's fundamental record abstraction — the partitioned,
  * offset-ordered record (reference: common/.../RecordReader.java:34,
  * source/.../S3SourceRecord.java:3-19) — re-expressed as a typed Spark row
  * per BASELINE.json `input_hint`:
  * `(repo, path, commit, lang, content)` upsert/delete change events.
  */
final case class ChangeEvent(
    partition: Int,   // shuffle partition, like the reference's TopicPartition
    offset: Long,     // monotonically increasing per partition (Long, never Int:
                      // the reference truncates in S3Offset.compareTo:46-49)
    op: String,       // "upsert" | "delete"
    repo: String,
    path: String,
    commit: String,   // 40-hex, null for deletes
    lang: String,
    content: String   // payload; null for deletes; invariant = sha256(content)
)

/** Per-partition lineage/commit record (the audit trail the north star asks
  * for: per-partition throughput, lag, lineage).
  */
final case class LineageRow(
    batchId: Long,
    partition: Int,
    firstOffset: Long,
    lastOffset: Long,
    numEvents: Long,
    numUpserts: Long,
    numDeletes: Long,
    // writer identity: batch ids restart at 0 for a new writer (appId
    // fencing), so (batchId, partition) alone is not a unique audit key
    // across writer generations
    appId: String = ""
)
