package graft.lake

import graft.operators.Chunker
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}

import scala.collection.immutable.SortedMap

/** The chunked, offset-keyed change journal — the Spark-native port of the
  * reference sink's storage trio (SURVEY.md §1.3):
  *
  *   - data file per (partition, append): `data/part-{p:05d}-{appId}-{firstOffset:012d}.parquet`
  *     ↔ `{topic}-{partition:05d}-{firstOffset:012d}.gz`
  *     (BlockGZIPFileWriter.java:161-163; zero-padded fixed width so
  *     lexicographic = numeric order, load-bearing in the reference's
  *     resume skip, S3FilesReader.java:167)
  *   - manifest JSON with per-file chunk lists (`JournalChunk`, the
  *     reference's ChunkDescriptor)
  *     ↔ `…index.json` (BlockGZIPFileWriter.java:242-250)
  *   - `snapshot.json` pointer, atomically swapped
  *     ↔ `last_chunk_index.{topic}-{partition}.txt` cursor (S3Writer.java:138-153)
  *
  * Exactly-once story, identical to the reference's: file names derive only
  * from (partition, firstOffset) — never wall clock (fixing the reference's
  * date-prefix nondeterminism, S3Writer.java:129-136) — so a retried batch
  * overwrites the same files with the same bytes instead of appending, and
  * the snapshot pointer is the single source of truth.
  */
final class ChangeJournal(
    val root: String,
    spark: SparkSession,
    val chunkBytes: Long = 64L * 1024 * 1024,
    val appId: String = "graft",
    val checkpointEvery: Int = 16,
    commitStore: CommitStore = RenameCommitStore) {
  private val io = new TableIO(root, spark, commitStore)

  /** The versioned log this journal runs on. Entries are the manifest's
    * files, keyed by path. A delta records only its commit's change —
    * `added` (an append's new files) and/or `removed` (a truncate's dropped
    * paths) — SURVEY.md §4.1 applied to the journal: commit JSON is
    * O(change), never O(journal history). Truncation in particular stays
    * O(dead), not O(kept): at long retention the kept set is the big one.
    */
  private val log = new SnapshotLog[String, JournalFile, JournalManifest](io, appId,
    "journal", checkpointEvery, new LogCodec[String, JournalFile, JournalManifest] {
      def key(f: JournalFile) = f.path
      def checkpoint(m: JournalManifest) = m.files.getOrElse(Nil)
      def ordered(fs: Seq[JournalFile]) = fs
    })

  // ---- snapshot / manifest ---------------------------------------------

  /** committed batch id, or -1 for a fresh table */
  def lastBatchId: Long = log.pin().batchId

  /** Per-partition next offset to write — the port of S3Writer.fetchOffset
    * (S3Writer.java:83-127): last chunk's `first_record_offset + num_records`;
    * missing table ⇒ empty map ⇒ 0 everywhere (the 404 case, :101-107).
    */
  def nextOffsets(): Map[Int, Long] = nextOffsetsOf(log.pin().manifest)

  /** the manifest's partitions→nextOffset map (nextOffsets / append /
    * truncate each read it from their own pinned manifest)
    */
  private def nextOffsetsOf(m: Option[JournalManifest]): Map[Int, Long] =
    m.map(_.partitions.map { case (p, n) => p -> n.nextOffset }).getOrElse(Map.empty)

  /** every schema version the journal has committed; last is current */
  private def schemasOf(h: Head[JournalManifest]): IndexedSeq[StructType] =
    h.manifest.map(m => SchemaEvolution.ladder(m.schemas)).getOrElse(IndexedSeq.empty)

  // ---- append (the sink) ------------------------------------------------

  /** Append one batch of change events. Idempotent per `batchId` (epoch
    * fencing: a batch id at or below the committed one is a replay and is
    * skipped — the foreachBatch analogue of Connect redelivering after a
    * RetriableException, S3SinkTask.java:222-224). Rows at offsets already
    * journaled are dropped (at-least-once dedup, the monotonic gate of
    * S3SourceTask.updateOffsets:198-207).
    *
    * Returns the number of rows appended.
    */
  def append(batch: DataFrame, batchId: Long): Long = {
    // journal stores the batch under its schema ladder (schema-flexible:
    // evolved payload columns flow through; only the meta trio is required
    // — validate BEFORE any plan references the columns)
    val required = Seq("partition", "offset", "op")
    require(required.forall(batch.columns.contains),
      s"change batch must carry ${required.mkString(",")}; got ${batch.columns.mkString(",")}")

    // ONE snapshot read pins the whole plan (see [[Head]]): fence, CAS
    // baseline, schema ladder, resume offsets
    val h = log.pin()
    if (log.isReplayOf(h, batchId)) return 0L // fenced replay: already durable

    // the journal's schema ladder is KNOWN at every commit (this batch's
    // columns merged over the current rung), so persist it — a caught-up
    // reader must not have to open parquet footers to learn it (that scan
    // grows O(total journal files) with history). This append's files are
    // written under the last rung, so a reader reads them under it.
    val ladder = SchemaEvolution.evolve(schemasOf(h), batch.schema)

    val next = nextOffsetsOf(h.manifest)

    // offset-skip gate (P2): drop rows the journal already has — an
    // O(1)-per-row literal lookup, not a broadcast join (the join shipped a
    // fresh broadcast per job: the chunk-stats pass AND the data write);
    // rationale in LakeTable.offsetGate
    val fresh0 = LakeTable.offsetGate(batch, next, strict = false)

    // deterministic chunk assignment; chunks restart per file (= per append
    // per partition), exactly like the reference where every flushed .gz file
    // carries its own chunk list starting at byte 0 (BlockGZIPFileWriter is
    // created anew per PartitionWriter, S3SinkTask.java:173-178).
    // Scanned twice (chunk stats collect + data-file write) but NOT
    // persisted: the stats pass computes its window over 4 pruned columns,
    // while a persist materializes every column into the cache — a full
    // extra memory-bandwidth pass that measured slower and scaled worse
    // than the recompute on the scaling bench (same finding as
    // LakeTable.merge). Recompute is safe: sources are deterministic.
    val chunkStats = Chunker.chunkStats(Chunker.assignChunks(fresh0, chunkBytes)).collect()
    if (chunkStats.isEmpty) {
      commitManifest(h, Nil, next, batchId, ladder)
      return 0L
    }

    val byPartition = chunkStats.groupBy(_.getInt(0))
      .map { case (p, chunks) => p -> chunks.sortBy(_.getLong(1)) }
    // One file per touched partition, written from the gated batch, not the
    // chunk-annotated frame, so a payload column named like a chunk column
    // keeps its values; sorted by offset, which gives parquet row-group
    // min/max stats their pruning power on resume reads. Each is published
    // at its offset-keyed name, appId-qualified like the lake's data files:
    // deterministic for THIS writer's retry (same name overwrites, the
    // reference's offset-keyed dedup story) but never collidable with a
    // raced peer, whose publish would otherwise overwrite a committed,
    // manifest-referenced file before its own commit loses the CAS
    val published = io.writeBuckets(SchemaEvolution.align(fresh0, ladder.last)
        .repartition(io.writeTasks(byPartition.size), col("partition")),
        s"append-$appId-$batchId", Seq("partition"), Seq("offset"),
        ladder.last.fieldNames.toSeq) { (key, src) =>
      val p = key.head
      val chunks = byPartition.getOrElse(p, throw new IllegalStateException(
        s"journal append staged partition $p, which the stats pass never " +
          "saw — batch source must be deterministic across scans"))
      // The write evaluated the batch a second time (no persist): the
      // parquet footer must agree with the stats pass's row count, else the
      // source violated the determinism precondition and the manifest's
      // chunk descriptors would silently disagree with the file. Footer
      // read is one metadata fetch — cheap insurance that turns silent
      // corruption into a loud failure, before anything is published.
      val statRows = chunks.map(_.getLong(3)).sum
      val footerRows = io.parquetRowCount(src)
      require(footerRows == statRows,
        s"journal append stats/write divergence on partition $p: stats saw " +
          s"$statRows rows, write produced $footerRows — batch source must " +
          "be deterministic across scans")
      f"data/part-$p%05d-$appId-${chunks.map(_.getLong(2)).min}%012d.parquet"
    }
    val newFiles = byPartition.toSeq.sortBy(_._1).map { case (p, chunks) =>
      // chunks tile the file's byte space from 0
      val byteOffsets = chunks.scanLeft(0L)(_ + _.getLong(5))
      JournalFile(p,
        published.getOrElse(Seq(p), throw new IllegalStateException(
          s"journal append staged no file for partition $p (stats saw rows) — " +
            "batch source must be deterministic across scans")),
        chunks.map(_.getLong(2)).min, chunks.map(_.getLong(4)).max,
        chunks.toSeq.zip(byteOffsets).map { case (r, at) =>
          JournalChunk(r.getLong(2), r.getLong(3), at, r.getLong(5))
        }, ladder.size - 1)
    }

    val newNext = next ++ byPartition.map { case (p, chunks) =>
      p -> (chunks.map(_.getLong(4)).max + 1L)
    }
    commitManifest(h, newFiles, newNext, batchId, ladder)
    chunkStats.map(_.getLong(3)).sum
  }

  /** Retention truncation — the Kafka log-retention / S3 lifecycle analogue
    * (the reference's archives are bounded the same way: by bucket lifecycle
    * policy, not by the connector). Drops whole journal files whose every
    * offset is at or below the per-partition watermark — typically the
    * lake's committed watermarks after a MERGE, when the events are durable
    * downstream; without this the journal grows without bound at 10^10
    * events. Files straddling the watermark are kept whole (readFrom's row
    * filter handles the overlap). Resume offsets (`nextOffsets`) are
    * untouched. Returns the number of files dropped from the manifest.
    *
    * Physical reclamation is DEFERRED: dropping a file from the manifest is
    * immediate (a `removed` commit — O(dead paths) JSON, independent of how
    * many files are kept, so long-retention journals truncate in constant
    * metadata cost), but its bytes are reclaimed only once `graceMs` has
    * passed since the drop. A concurrent reader that resolved the previous
    * snapshot's listing can therefore finish its scan; a data file's mtime
    * could not give that guarantee, because it says when the file was
    * WRITTEN, not when a reader could last have planned to read it.
    *
    * Before committing version v the truncate writes a COMMIT INTENT,
    * `pending-delete/v{v:012d}-{appId}.json`, naming the dropped paths. It
    * is written at the drop, so its own mtime is the drop time. The reap
    * honors an intent only if manifest v landed as this writer's commit
    * and removed those paths; an intent whose commit never landed is void
    * and simply goes. So a crash anywhere in the pass leaves either an
    * intent (reaped once ripe) or nothing dropped — never an unreferenced
    * file no pass reclaims. A retry of the same version overwrites its
    * intent; `appId` keeps racing writers' intents apart.
    */
  def truncate(watermarks: Map[Int, Long],
      graceMs: Long = 24L * 3600 * 1000): Int = {
    // one pinned head for the whole pass (see [[Head]]): the plan, the
    // ladder carried over and the commit baseline are one version
    val h = log.pin()
    val dead = log.files(h).filter(f => watermarks.get(f.partition).exists(f.maxOffset <= _))
    if (dead.nonEmpty) {
      val paths = dead.map(_.path)
      // atomic, never a bare create: a torn intent would fail every reap's parse
      io.writeAtomic(new Path(pendingDir, f"v${h.version + 1}%012d-$appId.json"),
        Json.write(Tombstone(paths)))
      commitManifest(h, Nil, nextOffsetsOf(h.manifest), h.batchId, schemasOf(h),
        removed = paths)
    }
    reapPending(graceMs, if (dead.nonEmpty) h.version + 1 else h.version)
    // crashed peers' abandoned staging reclaims at maintenance cadence,
    // not per-append — off the commit hot path (BENCH/BASELINE.md, r07)
    io.sweepStaleStaging()
    dead.size
  }

  private def pendingDir = new Path(io.rootPath, "pending-delete")
  /** a commit intent's name: the version it commits and its writer */
  private val intentName = """v(\d{12,})-([A-Za-z0-9._-]+)\.json""".r

  /** Reclaim the commit intents whose grace window has passed: the listed
    * mtime says so, so an unripe intent is never opened. An intent above
    * the `committed` version may be a peer's commit still in flight, so it
    * waits too. Every ripe intent is validated against its manifest first;
    * then the honored ones' paths go, then the manifests below the newest
    * honored checkpoint (no live fold chain reaches them, and any reader
    * that could still resolve one planned before the grace window), then
    * the intents themselves. A crash anywhere re-runs the same steps from
    * the intents; every delete is idempotent, so concurrent reapers are
    * safe too.
    */
  private def reapPending(graceMs: Long, committed: Long): Unit = {
    val listed = io.listOrEmpty(pendingDir)
    if (listed.isEmpty) return
    val cutoff = System.currentTimeMillis() - graceMs
    // exact names only: a crash-leaked writeAtomic tmp (….json.tmp-*) is
    // never parsed as if complete, just deleted once past the grace window
    val leaked = listed.filter(TableIO.leakedTmp(_, cutoff))
    val ripe = listed.toSeq.flatMap(st => st.getPath.getName match {
      case intentName(v, app) if st.getModificationTime <= cutoff && v.toLong <= committed =>
        Some((st.getPath, v.toLong, app))
      case _ => None
    })
    // (manifest, paths) of each intent whose commit landed; a concurrent
    // reaper may have taken an intent already
    val honored = ripe.flatMap { case (p, v, app) =>
      io.readIfExists(p).map(Json.read[Tombstone](_).paths).flatMap(paths =>
        log.manifestAt(v).filter(m => m.appId == app && paths.forall(m.removedKeys.toSet))
          .map(_ -> paths))
    }
    honored.flatMap(_._2).foreach(rel => io.fs.delete(new Path(io.rootPath, rel), false): Unit)
    if (honored.nonEmpty) {
      val below = honored.map(_._1.checkpointVersion).max
      log.retire(log.horizon(below), below): Unit
    }
    ripe.foreach { case (p, _, _) => io.fs.delete(p, false): Unit }
    leaked.foreach(st => io.fs.delete(st.getPath, false): Unit)
    // cosmetic empty-dir cleanup once everything listed is gone, best-effort
    // ONLY: a concurrent truncator may add an intent after our listing
    // (non-recursive delete of a non-empty dir throws), and a concurrent
    // reaper may have removed the dir already — both races are benign
    if (ripe.length + leaked.length == listed.length)
      try io.fs.delete(pendingDir, false): Unit
      catch { case _: java.io.IOException => () }
  }

  /** Commit this batch's change — `added` files and/or `removed` paths
    * (truncation) — on top of the pinned head's listing, written as a delta
    * except at checkpoint cadence or first commit. Returns the manifest
    * written.
    */
  private def commitManifest(planned: Head[JournalManifest], added: Seq[JournalFile],
      next: Map[Int, Long], batchId: Long, ladder: IndexedSeq[StructType],
      removed: Seq[String] = Nil): JournalManifest =
    log.commit(planned, batchId, Delta(removed, added)) { c =>
      JournalManifest(c.version, c.batchId, c.appId, ladder.last.json,
        Some(ladder.init.map(_.json)).filter(_.nonEmpty), c.checkpointVersion,
        SortedMap.from(next.map { case (p, o) => p -> NextOffset(o) }),
        files = if (c.full) Some(c.files) else None,
        added = if (c.full) None else Some(added),
        removed = if (removed.nonEmpty) Some(removed) else None)
    }

  // ---- read / replay (the source) ---------------------------------------

  /** Read the whole journal in (partition, offset) order-independent form.
    * Callers order explicitly — Spark must never rely on listing order
    * (the reference leans on S3 lexicographic listing, S3FilesReader.java:54-59;
    * we make ordering a declared property of the plan instead).
    */
  def read(): DataFrame = readFrom(Map.empty)

  /** Resume read: everything after `committed` (exclusive) per partition.
    * File-level pruning via manifest max_offset replaces the reference's
    * skip-whole-files-behind-the-cursor (S3FilesReader.java:164-171); the
    * residual row filter replaces its in-file record-skip loop (:256-260) —
    * parquet row-group stats prune the rest.
    *
    * Each file is read under the schema version it was written with, from
    * the manifest, never a footer merge (no footer-reading job per read),
    * then aligned to the current one (see [[SchemaEvolution.read]]).
    */
  def readFrom(committed: Map[Int, Long]): DataFrame = {
    val h = log.pin()
    val files = log.files(h).filter(f => committed.get(f.partition).forall(f.maxOffset > _))
    // fully-caught-up resume must still carry the journal's schema, not a
    // zero-column frame (downstream selects/aggs would fail to resolve); an
    // empty journal carries the meta trio
    val ladder = Some(schemasOf(h)).filter(_.nonEmpty).getOrElse(IndexedSeq(StructType(Seq(
      StructField("partition", IntegerType),
      StructField("offset", LongType),
      StructField("op", StringType)))))
    val df = SchemaEvolution.read(spark, ladder,
      files.map(f => f.schemaId -> new Path(io.rootPath, f.path).toString))
    // residual row filter as the O(1) literal gate (LakeTable.offsetGate):
    // no broadcast join in the resume-read plan, and the predicate stays in
    // the scan's own stage
    if (committed.isEmpty) df
    else LakeTable.offsetGate(df, committed, strict = true)
  }

  /** Manifest chunk descriptors as a DataFrame (for tests and metrics). */
  def chunkIndex(): DataFrame = {
    val rows = for {
      f <- log.files(log.pin())
      c <- f.chunks
    } yield (f.partition, f.path, c.firstRecordOffset, c.numRecords, c.byteOffset,
      c.byteLengthUncompressed)
    spark.createDataFrame(rows).toDF(
      "partition", "path", "first_record_offset", "num_records",
      "byte_offset", "byte_length_uncompressed")
  }
}
