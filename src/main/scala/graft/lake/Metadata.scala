package graft.lake

import com.fasterxml.jackson.annotation.JsonProperty
import com.fasterxml.jackson.databind.annotation.JsonDeserialize
import graft.model.LineageRow

import scala.collection.immutable.SortedMap

/* The tables' on-disk metadata, one case class per file kind, written and
  * read by [[Json]] — typed classes that Jackson serializes, like the
  * reference's `ChunkDescriptor` and the index written from it
  * (common/.../json/ChunkDescriptor.java:8-22, BlockGZIPFileWriter.java:242-250).
  * Field order is the order on disk.
  *
  * Jackson's Scala module sees a field's generic types erased, so a map or
  * sequence of primitives names its boxed key and value types with
  * `@JsonDeserialize` (else the read fails on `java.lang.Object`).
  */

/** `snapshot.json`: the table's current version and the manifest naming
  * it, with the batch and the writer that committed it. The CAS contract of
  * [[CommitStore.putIfVersion]] reads only `version`, and its idempotency
  * compares content byte for byte: a roll-forward that publishes on a live
  * claimer's behalf presents the bytes the claimer's own retry will, as
  * both serialize this class.
  */
final case class Snapshot(version: Long, manifest: String, batchId: Long, appId: String)

/** What [[SnapshotLog]] reads from either table's manifest: the header,
  * the checkpoint cadence, and a delta's change (keys removed, entries added
  * — an added entry replaces any live entry with the same key).
  */
private[lake] trait LogManifest[K, E] {
  def version: Long
  def batchId: Long
  def appId: String
  def checkpointVersion: Long
  def delta: Boolean
  def removedKeys: Seq[K]
  def addedEntries: Seq[E]
}

/** One live lake data file: the (partition, sub-bucket) it holds and the
  * schema version it was written under. Checkpoint shards list these.
  */
final case class FileEntry(partition: Int, sub: Int, path: String, schemaId: Int)

/** A lake manifest (`manifest-{v:012d}.json`). A checkpoint lists its live
  * files through `shards` (shard key "p-g" → shard path); a delta records
  * the buckets it `touched` and the files it `added`.
  */
final case class LakeManifest(
    version: Long,
    batchId: Long,
    appId: String,
    subBuckets: Int,
    checkpointVersion: Long,
    @JsonDeserialize(keyAs = classOf[java.lang.Integer], contentAs = classOf[java.lang.Long])
    watermarks: SortedMap[Int, Long],
    schemas: Seq[String], // StructType JSON, oldest first
    shards: Option[SortedMap[String, String]] = None,
    touched: Option[Seq[(Int, Int)]] = None,
    added: Option[Seq[FileEntry]] = None,
    lineage: Seq[LineageRow]) extends LogManifest[(Int, Int), FileEntry] {
  def delta: Boolean = touched.isDefined
  def removedKeys: Seq[(Int, Int)] = touched.getOrElse(Nil)
  def addedEntries: Seq[FileEntry] = added.getOrElse(Nil)
}

/** One block of a journal file: the per-chunk stats that make ranged
  * resume possible (the reference's `ChunkDescriptor`).
  */
final case class JournalChunk(
    @JsonProperty("first_record_offset") firstRecordOffset: Long,
    @JsonProperty("num_records") numRecords: Long,
    @JsonProperty("byte_offset") byteOffset: Long,
    @JsonProperty("byte_length_uncompressed") byteLengthUncompressed: Long)

/** One journal data file: one partition's rows of one append. */
final case class JournalFile(
    partition: Int,
    path: String,
    @JsonProperty("first_record_offset") firstRecordOffset: Long,
    @JsonProperty("max_offset") maxOffset: Long,
    chunks: Seq[JournalChunk])

final case class NextOffset(nextOffset: Long)

/** A journal manifest. A checkpoint lists every live file in `files`; a
  * delta lists an append's new files in `added` and a truncate's dropped
  * paths in `removed`.
  */
final case class JournalManifest(
    version: Long,
    batchId: Long,
    appId: String,
    schema: String, // StructType JSON
    checkpointVersion: Long,
    @JsonDeserialize(keyAs = classOf[java.lang.Integer])
    partitions: SortedMap[Int, NextOffset],
    files: Option[Seq[JournalFile]] = None,
    added: Option[Seq[JournalFile]] = None,
    removed: Option[Seq[String]] = None) extends LogManifest[String, JournalFile] {
  def delta: Boolean = added.isDefined
  def removedKeys: Seq[String] = removed.getOrElse(Nil)
  def addedEntries: Seq[JournalFile] = added.getOrElse(Nil)
}

/** `pending-delete/v{v:012d}-{appId}.json`: the paths the journal truncate
  * committing version v drops — a commit intent, written before the commit
  * and honored only if that commit landed.
  */
final case class Tombstone(paths: Seq[String])
