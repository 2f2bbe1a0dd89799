package graft.pipeline

import graft.lake.{ChangeJournal, LakeTable}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The CDC ingest pipeline: change-event stream → journal append (chunked,
  * offset-keyed) → MERGE into the lake table, inside one epoch-fenced
  * `foreachBatch` commit — the Structured Streaming re-expression of the
  * reference's put()/flush() cycle (sink/.../S3SinkTask.java:106-134):
  *
  *   put() buffering            → micro-batch accumulation
  *   flush(offsets)             → foreachBatch(batchDF, batchId)
  *   Connect offset commit      → checkpointLocation commit log
  *   RetriableException redeliver → Spark batch retry, safe because both the
  *     journal append and the lake merge are idempotent per batchId
  *
  * Crash with only one of the two commits landed is safe in EITHER order
  * (they run concurrently, see applyBatch): each table fences on its own
  * committed batchId, so on replay the landed side is a no-op and the other
  * side applies — the pair is effectively atomic under at-least-once
  * redelivery without requiring journal-before-lake ordering.
  */
/** Opt-in in-pipeline maintenance cadence. The reference connector gets
  * retention "for free" from S3 lifecycle policy on its bucket (SURVEY.md
  * §2.0 journal-retention row); this engine owns its files, so a
  * long-running streaming deployment must own the reclaim cadence too — or
  * the journal grows without bound. Every `everyNBatches` committed
  * batches the pipeline truncates the journal to the LAKE's committed
  * watermarks (events safely merged and replayable from the table itself;
  * files straddling the watermark are kept whole) and, if `vacuumKeepLast
  * >= 1`, vacuums old lake snapshots. Both calls are idempotent
  * maintenance over committed state: a crash between the batch commit and
  * the maintenance pass costs nothing but deferred cleanup, and a batch
  * REPLAY re-running them is harmless by the same idempotence.
  */
final case class RetentionPolicy(
    everyNBatches: Int,
    journalGraceMs: Long = 24L * 3600 * 1000,
    vacuumKeepLast: Int = 0, // 0 = no snapshot vacuum
    orphanGraceMs: Long = 24L * 3600 * 1000) {
  require(everyNBatches >= 1, "retention cadence must be >= 1 batch")
}

object CdcPipeline {
  /** Test seam: invoked at each retention-cadence hit, AFTER the batch's
    * data commits and BEFORE any maintenance runs. Specs throw NonFatal to
    * simulate a transient maintenance IO failure (caught — the stream
    * survives) and InterruptedException to simulate a kill in the
    * commit→maintenance window (propagates — restart must converge).
    * Production never touches it.
    */
  @volatile private[graft] var maintenanceHook: Long => Unit = _ => ()

  /** Consecutive transient maintenance failures tolerated before the
    * defer-and-retry contract is judged non-convergent and the stream
    * fails loudly (see the catch in applyBatch).
    */
  private[graft] val maxMaintenanceFailures = 3
}

final class CdcPipeline(
    spark: SparkSession,
    journalRoot: String,
    lakeRoot: String,
    chunkBytes: Long = 64L * 1024 * 1024,
    subBuckets: Int = 16,
    journalEnabled: Boolean = true,
    appId: String = "graft",
    retention: Option[RetentionPolicy] = None,
    commitStore: graft.lake.CommitStore = graft.lake.RenameCommitStore) {
  // appId is the writer identity for epoch fencing (Delta's txnAppId
  // pattern). A restart resuming THE SAME checkpoint must reuse the same
  // appId (fencing replays); a run with a FRESH checkpoint must use a NEW
  // appId, or its restarted batch numbering would be swallowed as replays.
  // Tie it to the checkpoint location in streaming deployments.

  // the CommitStore seam reaches the deployment surface here: a production
  // pipeline on an object store passes its store once and BOTH tables'
  // publish protocols ride it (ReliabilitySpec drives this composition on
  // the simulated-S3 store end to end)
  val journal = new ChangeJournal(journalRoot, spark, chunkBytes, appId,
    commitStore = commitStore)
  val lake = new LakeTable(lakeRoot, spark, subBuckets, appId,
    commitStore = commitStore)

  // consecutive transient maintenance failures (driver-side, foreachBatch
  // runs batches serially); reset on the first cadence hit that converges
  private var maintenanceFailures = 0

  private def defer(batchId: Long, e: Throwable): Unit = {
    maintenanceFailures += 1
    if (maintenanceFailures >= CdcPipeline.maxMaintenanceFailures)
      throw new IllegalStateException(
        s"retention maintenance failed $maintenanceFailures " +
          "consecutive cadence hits — not transient; failing the " +
          "stream rather than leaking history unbounded", e)
    System.err.println(s"[graft] WARN: retention maintenance failed " +
      s"after batch $batchId ($maintenanceFailures consecutive; " +
      s"escalates at ${CdcPipeline.maxMaintenanceFailures}; will " +
      s"retry at the next cadence hit): $e")
  }

  /** Apply one micro-batch (the foreachBatch body). Idempotent per batchId.
    *
    * Journal append and lake merge are independent dataflows over the same
    * batch, each idempotent and fenced by its own committed batchId, so they
    * run CONCURRENTLY (batch wall = max, not sum — the Spark scheduler
    * interleaves their jobs). Crash-ordering is safe in both directions: if
    * only the journal committed, replay re-runs the merge (journal append is
    * a fenced no-op); if only the lake committed, replay re-runs the append
    * (merge is the no-op). This replaces the reference's strictly serial
    * data→index→cursor upload (S3Writer.java:61-81) where the serialization
    * was load-bearing only because its two artifacts shared one cursor.
    */
  def applyBatch(batch: DataFrame, batchId: Long): Unit = {
    if (journalEnabled) {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      import scala.concurrent.ExecutionContext.Implicits.global
      import scala.util.Try
      val j = Future(journal.append(batch, batchId))
      val m = Future(lake.merge(batch, batchId))
      // settle BOTH before propagating any failure: rethrowing while the
      // other future is still running would leave an orphaned merge/append
      // racing the retried batch (same staging dir, same batchId fence)
      val jr = Try(Await.result(j, Duration.Inf))
      val mr = Try(Await.result(m, Duration.Inf))
      jr.get: Unit
      mr.get: Unit
    } else lake.merge(batch, batchId): Unit
    // maintenance AFTER the batch's own commits: truncating to the lake's
    // committed watermarks can only ever drop journal files whose events
    // the lake already holds durably, so the pair (commit, maintain) needs
    // no atomicity — a crash in between merely defers cleanup to the next
    // cadence hit, and a replayed batch re-running it is an idempotent no-op
    retention.foreach { r =>
      if ((batchId + 1) % r.everyNBatches == 0) {
        // maintenance is DEFERRABLE by design (the whole retention model is
        // "cleanup converges eventually"), so a transient IO failure inside
        // it must not kill the stream the way a data-commit failure rightly
        // does — log loudly and retry at the next cadence hit, the same
        // degrade-not-die contract as the GC horizon read (SnapshotLog.horizon)
        try {
          // test seam (PipelineFailureSpec): runs after the batch's data
          // commits and before any maintenance. Specs throw NonFatal here to
          // simulate a transient maintenance IO failure (caught below, the
          // stream survives) and a fatal InterruptedException to simulate
          // the process dying in the commit→maintenance window (propagates,
          // the query fails with the data durable and this cadence hit unrun)
          CdcPipeline.maintenanceHook(batchId)
          if (journalEnabled) journal.truncate(lake.watermarks(), r.journalGraceMs): Unit
          if (r.vacuumKeepLast >= 1)
            lake.vacuum(r.vacuumKeepLast, r.orphanGraceMs): Unit
          maintenanceFailures = 0
        } catch {
          // Only transient-shaped failures defer: an invariant violation
          // (require / IllegalState from truncate or vacuum — a broken
          // manifest chain, corrupt metadata) would fail IDENTICALLY every
          // cadence hit forever while the stream quietly never cleans up,
          // so it escalates immediately. A LOST CAS is the one
          // IllegalStateException that is NOT invariant-shaped: its own
          // contract is "re-read and retry", and the next cadence hit does
          // exactly that — so it defers (but still counts: losing every
          // cadence hit means a misconfigured second writer, which should
          // surface). Repeated "transient" failures are transient in name
          // only — after N consecutive cadence hits the defer-and-retry
          // contract has demonstrably not converged and the stream fails
          // loudly rather than leak history unbounded.
          case e: graft.lake.ConcurrentCommitException => defer(batchId, e)
          case e: IllegalStateException => throw e
          case e: IllegalArgumentException => throw e
          case scala.util.control.NonFatal(e) => defer(batchId, e)
        }
      }
    }
  }

  /** Batch-mode driver for tests and bench: split a static, deterministic
    * change log into `nBatches` micro-batches by offset range and apply them
    * in order. `crashAfter` simulates a kill between batches (the ported
    * restart test, system_test/run.py:224-257): processing stops after that
    * batch id; re-running with the same args resumes — already-applied
    * batches are fenced no-ops, which is exactly the exactly-once claim.
    */
  def runBatches(
      changes: DataFrame,
      nBatches: Int,
      crashAfter: Option[Long] = None,
      replayFrom: Long = 0L): Unit = {
    require(nBatches > 0)
    // Persist the change log ONCE: every batch slice filters the same
    // deterministic input, and each applyBatch consumes it twice (journal
    // append ∥ lake merge). Without the cache that is 2×nBatches full
    // source scans + md5 partition re-derivations — this was 54% of the
    // round-1 bench. The bounds aggregate below doubles as the warm-up
    // action. (A real streaming deployment never replays the source like
    // this; runBatches is the deterministic test/bench driver.)
    val cached = changes.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val bounds = cached.groupBy().agg(
        min(col("offset")).as("lo"), max(col("offset")).as("hi")).collect()(0)
      if (bounds.isNullAt(0)) return
      val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
      val span = math.max(1L, (hi - lo + 1 + nBatches - 1) / nBatches)
      var b = replayFrom
      var stopped = false
      while (b < nBatches && !stopped) {
        val (a, z) = (lo + b * span, lo + (b + 1) * span)
        applyBatch(cached.filter(col("offset") >= a && col("offset") < z), b)
        stopped = crashAfter.exists(b >= _) // simulated kill between batches
        b += 1
      }
    } finally cached.unpersist(blocking = false): Unit
  }

  /** Streaming mode over any [[ChangeSource]] — the boundary is a SEAM:
    * [[FileTailSource]] here (no broker in the sandbox),
    * [[KafkaChangeSource]] in a production deployment, swapped by config
    * without touching the ingest. Caller owns query lifecycle; use
    * `processAllAvailable()` in tests.
    */
  def stream(source: ChangeSource, checkpointDir: String): StreamingQuery =
    source.load(spark)
      .writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch, batchId)
      }
      .start()

  /** File-tail convenience overload (the pre-seam signature). */
  def stream(sourceDir: String, checkpointDir: String,
      schema: org.apache.spark.sql.types.StructType,
      maxFilesPerTrigger: Int = 10): StreamingQuery =
    stream(FileTailSource(sourceDir, schema, maxFilesPerTrigger), checkpointDir)
}
