package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic chunk assignment — the Spark-native re-expression of the
  * reference's block-GZIP rollover (sink/.../BlockGZIPFileWriter.java:183-208:
  * finish the gzip member when accumulated raw bytes pass
  * `compressed_block_size`, start the next chunk at
  * `firstOffset = prev.firstOffset + prev.numRecords`).
  *
  * Instead of a sequential writer loop we declare the chunk id as a pure
  * function of the offset-ordered prefix byte sum:
  *
  *   chunkId = floor(bytesBefore / threshold)
  *
  * which is one window expression, identical at any parallelism, and keeps
  * every chunk's uncompressed size < threshold + one record (the reference's
  * greedy writer has the same "one record may straddle" property for records
  * larger than the threshold). Chunk descriptors then exactly tile both the
  * offset space and the byte space — the invariant asserted by the ported
  * BlockGZIPFileWriterTest (sink/.../BlockGZIPFileWriterTest.java:110-160).
  *
  * Scale note: the window partitions by `partition`, so at 10^10 events the
  * running sum shuffles once on the same key the data is already grouped by
  * downstream; no global ordering is ever required.
  */
object Chunker {

  /** Add `bytes_uncompressed` (payload size) and `chunk_id` columns.
    * Input must have (partition, offset, content?) columns; chunking is per
    * `partition` in `offset` order.
    */
  def assignChunks(changes: DataFrame, thresholdBytes: Long): DataFrame = {
    require(thresholdBytes > 0)
    val w = Window
      .partitionBy(col("partition"))
      .orderBy(col("offset"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // payload size: content bytes + a fixed per-record framing overhead of 1
    // (the reference counts the trailing delimiter too,
    // TrailingDelimiterFormat.java:49-64). Content-less batches (meta-trio
    // only, which the journal contract permits) chunk by record count.
    // octet_length (UTF-8 BYTES), not length (chars): the rollover threshold
    // models the reference's uncompressed BYTE budget; char counts undercount
    // multibyte payloads
    val recBytes =
      if (changes.columns.contains("content"))
        coalesce(octet_length(col("content")).cast("long"), lit(0L)) + 1L
      else lit(1L)
    // integer `div` (IntegralDivide), not floor(double /): Divide coerces
    // longs to double, which loses integer precision past 2^53 bytes of
    // prefix sum — real at the 100 TB design point — and would misassign
    // boundary records. (Decimal division is no better: its HALF_UP-rounded
    // quotient can cross the floor boundary for thresholds > 2e6.) Built
    // with call_function on Column refs, not a SQL string, so a column
    // rename fails at analysis instead of being re-parsed from text.
    changes
      .withColumn("bytes_uncompressed", recBytes)
      .withColumn("_run_bytes", sum(col("bytes_uncompressed")).over(w))
      .withColumn("chunk_id", call_function("div",
        col("_run_bytes") - col("bytes_uncompressed"), lit(thresholdBytes)))
      .drop("_run_bytes")
  }

  /** Roll chunk assignments up to one row per (partition, chunk_id):
    * `first_record_offset`, `num_records`, `max_offset` and
    * `byte_length_uncompressed` — the journal append's manifest stats (port
    * of common/.../json/ChunkDescriptor.java:8-22 +
    * BlockGZIPFileWriter.java:52-60).
    */
  def chunkStats(withChunks: DataFrame): DataFrame =
    withChunks
      .groupBy(col("partition"), col("chunk_id"))
      .agg(
        min(col("offset")).as("first_record_offset"),
        count(lit(1)).as("num_records"),
        max(col("offset")).as("max_offset"),
        sum(col("bytes_uncompressed")).as("byte_length_uncompressed"))

  /** [[chunkStats]] plus `byte_offset`: the running sum of preceding
    * chunks' byte lengths within the partition, so descriptors tile the
    * byte space exactly as the reference's index JSON does.
    */
  def chunkDescriptors(withChunks: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("partition")).orderBy(col("chunk_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    chunkStats(withChunks).withColumn("byte_offset",
      sum(col("byte_length_uncompressed")).over(w) - col("byte_length_uncompressed"))
  }
}
