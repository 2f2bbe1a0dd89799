package graft

import graft.gen.ChangeGen
import graft.lake.{LakeTable, SchemaEvolution, TableIO}
import graft.pipeline.CdcPipeline
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** MERGE semantics + exactly-once + schema evolution, verified against the
  * independent batch oracle (FIXTURES.md §5) by per-row sha256(content)
  * equality — the port of the reference's restart/no-duplicates integration
  * assertions (S3ConnectorIntegrationTest.binaryWithKeys:173-212,
  * system_test/run.py:224-257).
  */
class LakeSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  /** compare lake state vs oracle by (repo, path, sha256(content), offset) */
  private def assertMatchesOracle(lake: LakeTable,
      changes: org.apache.spark.sql.DataFrame): Unit = {
    val got = lake.read()
      .select(col("repo"), col("path"), sha2(col("content"), 256).as("sha"),
        col("offset"))
    val want = ChangeGen.oracleFinalState(changes)
      .select(col("repo"), col("path"), sha2(col("content"), 256).as("sha"),
        col("offset"))
    val extra = got.exceptAll(want).count()
    val missing = want.exceptAll(got).count()
    assert(extra === 0L && missing === 0L,
      s"lake != oracle: $extra extra rows, $missing missing rows")
  }

  test("single merge equals the LWW oracle (upserts + deletes)") {
    val changes = ChangeGen.changes(spark, 2000, nKeys = 300, partitions = 4,
      deletePct = 15)
    val lake = new LakeTable(SparkTestSession.tempDir("lake1"), spark, subBuckets = 4)
    lake.merge(changes, 0L)
    assertMatchesOracle(lake, changes)
  }

  test("lineage rows equal a groupBy over the gate-admitted input") {
    // every committed (batchId, partition) lineage row, merge's return value
    // and the watermarks against an independent recomputation from the
    // batch itself: overlapping slices redeliver offsets the offset gate
    // must drop, deletes count separately, a full redelivery commits no
    // lineage, and a batch from another SparkSession merges against state
    // read through the constructor session
    import org.apache.spark.sql.DataFrame
    val changes = ChangeGen.changes(spark, 2500, nKeys = 200, partitions = 4,
      deletePct = 15)
    val lake = new LakeTable(SparkTestSession.tempDir("lakelin"), spark,
      subBuckets = 4)
    type Lin = (Long, Int, Long, Long, Long, Long, Long)
    def expected(batch: DataFrame, batchId: Long): Set[Lin] = {
      val wm = lake.watermarks()
      val admitted = wm.foldLeft(lit(true)) { case (acc, (p, w)) =>
        acc && (col("partition") =!= p || col("offset") > w)
      }
      batch.filter(admitted).groupBy("partition").agg(
        min("offset"), max("offset"), count(lit(1)),
        sum(when(col("op") === "upsert", 1L).otherwise(0L)),
        sum(when(col("op") === "delete", 1L).otherwise(0L)))
        .collect().map(r => (batchId, r.getInt(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5))).toSet
    }
    def committed(batchId: Long): Set[Lin] = lake.lineage()
      .filter(col("batchId") === batchId)
      .select("batchId", "partition", "firstOffset", "lastOffset",
        "numEvents", "numUpserts", "numDeletes")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toSet
    def mergeAndCheck(batch: DataFrame, batchId: Long): Long = {
      val want = expected(batch, batchId)
      val applied = lake.merge(batch, batchId)
      assert(committed(batchId) === want, s"lineage of batch $batchId")
      assert(applied === want.toSeq.map(_._5).sum,
        s"merge($batchId) must return its lineage's numEvents sum")
      applied
    }
    // per-partition offsets run 0..624; each slice re-delivers the previous
    // slice's last 40 offsets
    (0 until 5).foreach { b =>
      val batch = changes.filter(
        col("offset") >= math.max(0, b * 120 - 40) && col("offset") < (b + 1) * 120)
      assert(mergeAndCheck(batch, b.toLong) > 0L)
      assertMatchesOracle(lake, changes.filter(col("offset") < (b + 1) * 120))
    }
    assert(expected(changes.filter(col("offset") < 600), 5L).isEmpty)

    // a full redelivery applies nothing, keeps the watermarks, commits no
    // lineage, and its commit is still timed
    val wmBefore = lake.watermarks()
    def commitSeconds: Double =
      Option(LakeTable.phaseSeconds.get("commit")).fold(0.0)(_.doubleValue)
    val commitBefore = commitSeconds
    assert(mergeAndCheck(changes.filter(col("offset") < 600), 5L) === 0L)
    assert(lake.watermarks() === wmBefore)
    assert(commitSeconds > commitBefore,
      "the all-rows-gated commit must be recorded in phaseSeconds")

    // ChangeGen is a pure function of (seed, id): the 3500-event log built
    // on a second session is a superset of the 2500 already merged, and
    // LWW over both equals LWW over the 3500 alone
    val more = ChangeGen.changes(spark.newSession(), 3500, nKeys = 200,
      partitions = 4, deletePct = 15)
    assert(mergeAndCheck(more, 6L) > 0L)
    assert(lake.watermarks() === more.groupBy("partition").agg(max("offset"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap)
    assertMatchesOracle(lake, more)
  }

  test("the merge write job is one Exchange and one Sort") {
    // the plan-shape half of the merge's one-exchange design: the union of
    // batch and touched state, the LWW reduce and the clustered write share
    // one hash exchange on the file key and one sort; the offset gate is a
    // literal (no broadcast), and no interpreted CollectMetrics node sits in
    // the write's hot path
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.catalyst.expressions.Attribute
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.{CollectMetricsExec, SortExec}
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
    val changes = ChangeGen.changes(spark, 800, nKeys = 100, partitions = 4,
      deletePct = 10)
    val lake = new LakeTable(SparkTestSession.tempDir("lakeplan"), spark,
      subBuckets = 4)
    val frames = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    TableIO.planHook = (tag, df) => if (tag == "merge") frames += df
    try {
      lake.merge(changes.filter(col("offset") < 100), 0L) // no state yet
      lake.merge(changes.filter(col("offset") >= 100), 1L) // gated, with state
    } finally TableIO.planHook = (_, _) => ()
    assert(frames.size === 2)
    frames.foreach { df =>
      val plan = SparkTestSession.initialPlan(df)
      val shuffles = plan.collect { case e: ShuffleExchangeExec => e }
      assert(shuffles.size === 1, plan)
      val keys = shuffles.head.outputPartitioning match {
        case h: HashPartitioning => h.expressions.collect { case a: Attribute => a.name }
        case other => fail(s"expected a hash exchange, got $other\n$plan")
      }
      assert(keys === Seq("partition", "_sub"), plan)
      assert(plan.collect { case s: SortExec => s }.size === 1, plan)
      assert(plan.collect { case c: CollectMetricsExec => c }.isEmpty, plan)
      assert(plan.collect { case b: BroadcastExchangeExec => b }.isEmpty, plan)
    }
    assertMatchesOracle(lake, changes)
  }

  test("the compact write job is one Exchange and one Sort") {
    // compact's exchange on the new file key clusters one task per bucket,
    // and the write's own sort is the only one
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.catalyst.expressions.Attribute
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.SortExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val changes = ChangeGen.changes(spark, 600, nKeys = 100, partitions = 4,
      deletePct = 10)
    val lake = new LakeTable(SparkTestSession.tempDir("lakecplan"), spark,
      subBuckets = 4)
    lake.merge(changes, 0L)
    val frames = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    TableIO.planHook = (tag, df) => if (tag == "compact") frames += df
    try lake.compact(8)
    finally TableIO.planHook = (_, _) => ()
    assert(frames.size === 1)
    val plan = SparkTestSession.initialPlan(frames.head)
    val shuffles = plan.collect { case e: ShuffleExchangeExec => e }
    assert(shuffles.size === 1, plan)
    shuffles.head.outputPartitioning match {
      case h: HashPartitioning =>
        assert(h.expressions.collect { case a: Attribute => a.name } === Seq("partition", "_sub"), plan)
      case other => fail(s"expected a hash exchange, got $other\n$plan")
    }
    assert(plan.collect { case s: SortExec => s }.size === 1, plan)
    assertMatchesOracle(lake, changes)
  }

  test("payload columns named like engine internals are stored, or refused") {
    // the bucketed write's directory copies never overwrite a payload
    // column; the merge's own `_sub` and `_new` refuse the batch instead
    val changes = ChangeGen.changes(spark, 400, nKeys = 60, partitions = 4,
      deletePct = 0)
    val batch = changes
      .withColumn("_pp", concat(lit("pp-"), col("offset").cast("string")))
      .withColumn("_ss", (col("offset") * 3).cast("int"))
      .withColumn("_b0", col("offset") + 7L)
    val lake = new LakeTable(SparkTestSession.tempDir("lakeinternal"), spark,
      subBuckets = 4)
    lake.merge(batch, 0L)
    val got = lake.read()
    assert(got.count() === ChangeGen.oracleFinalState(changes).count())
    assert(got.filter(col("_pp") === concat(lit("pp-"), col("offset").cast("string")) &&
      col("_ss") === col("offset") * 3 && col("_b0") === col("offset") + 7L)
      .count() === got.count(), "payload columns must read back as written")
    assertMatchesOracle(lake, changes)

    val version = lake.currentVersion
    def files(dir: String) = Option(new java.io.File(lake.root, dir).list).toSeq.flatten.toSet
    val dataFiles = files("data")
    Seq("_sub", "_NEW").foreach { c =>
      val e = intercept[IllegalArgumentException](
        lake.merge(changes.withColumn("offset", col("offset") + 1000L)
          .withColumn(c, lit(1)), 1L))
      assert(e.getMessage.contains(c))
    }
    assert(lake.currentVersion === version, "a refused batch commits nothing")
    assert(files("data") === dataFiles && files("_staging").isEmpty, "and writes nothing")
    assertMatchesOracle(lake, changes)
  }

  test("multi-batch merge equals oracle; watermarks advance") {
    val changes = ChangeGen.changes(spark, 3000, nKeys = 200, partitions = 4,
      deletePct = 20)
    val p = new CdcPipeline(spark, SparkTestSession.tempDir("j2"),
      SparkTestSession.tempDir("lake2"), chunkBytes = 4096, subBuckets = 4)
    p.runBatches(changes, 6)
    assertMatchesOracle(p.lake, changes)
    val wm = p.lake.watermarks()
    val maxOff = changes.groupBy("partition").agg(max("offset")).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(wm === maxOff)
  }

  test("time travel reads any kept snapshot; vacuum prunes history") {
    val changes = ChangeGen.changes(spark, 2000, nKeys = 150, partitions = 4,
      deletePct = 15)
    val lake = new LakeTable(SparkTestSession.tempDir("laketv"), spark, subBuckets = 4)
    val half0 = changes.filter(col("offset") < 150)
    lake.merge(half0, 0L)
    lake.merge(changes.filter(col("offset") >= 150), 1L)
    assert(lake.currentVersion === 1L)

    // AS OF version 0 == oracle over the first batch only
    val got = lake.readVersion(0L)
      .select(col("repo"), col("path"), sha2(col("content"), 256).as("sha"))
    val want = ChangeGen.oracleFinalState(half0)
      .select(col("repo"), col("path"), sha2(col("content"), 256).as("sha"))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)

    // vacuum to the current snapshot: superseded v0-only files and the v0
    // manifest go away; current state is untouched; v0 is no longer readable
    val liveCount = lake.read().count()
    val lineageBefore = lake.lineage().count()
    val (dataGone, manifestsGone) = lake.vacuum(keepLast = 1)
    assert(dataGone > 0, "vacuum must delete superseded bucket files")
    assert(manifestsGone === 1)
    assert(lake.read().count() === liveCount)
    assertMatchesOracle(lake, changes)
    intercept[IllegalArgumentException](lake.readVersion(0L))
    // the audit trail outlives snapshot GC (archived from doomed manifests)
    assert(lake.lineage().count() === lineageBefore)
    // idempotent: nothing left to collect
    assert(lake.vacuum(keepLast = 1) === ((0, 0)))
    assert(lake.lineage().count() === lineageBefore)
  }

  test("a garbage gc-horizon.txt degrades to a listing and heals") {
    // the horizon is advisory: unreadable content must cost a root listing,
    // never a failed vacuum, lineage read or retention pass (CdcPipeline
    // escalates an IllegalArgumentException, so a throw here would kill the
    // stream on every restart)
    val changes = ChangeGen.changes(spark, 500, nKeys = 60, partitions = 2)
    def batch(b: Int) = changes.filter(col("offset") >= b * 50 && col("offset") < b * 50 + 50)
    val root = SparkTestSession.tempDir("lakehorizon")
    val lake = new LakeTable(root, spark, subBuckets = 2)
    (0 until 3).foreach(b => lake.merge(batch(b), b.toLong))
    val horizonPath = java.nio.file.Paths.get(root, "gc-horizon.txt")
    def horizon(): Long = java.nio.file.Files.readString(horizonPath).trim.toLong
    def garble(): Unit = {
      java.nio.file.Files.deleteIfExists( // hadoop LocalFS checksum sidecar
        java.nio.file.Paths.get(root, ".gc-horizon.txt.crc"))
      java.nio.file.Files.writeString(horizonPath, "not a version\n"): Unit
    }
    assert(lake.vacuum(keepLast = 2, orphanGraceMs = 0L)._2 === 1)
    assert(horizon() === 1L)
    val lineage = lake.lineage().collect().toSet
    garble()
    assert(lake.lineage().collect().toSet === lineage)
    lake.merge(batch(3), 3L)
    // the listing finds version 1 the oldest on disk; vacuum retires it
    assert(lake.vacuum(keepLast = 2, orphanGraceMs = 0L)._2 === 1)
    assert(horizon() === 2L, "vacuum heals the horizon")
    garble()
    val p = new CdcPipeline(spark, SparkTestSession.tempDir("lakehorizon-j"), root,
      subBuckets = 2, retention = Some(graft.pipeline.RetentionPolicy(everyNBatches = 1,
        journalGraceMs = 0L, vacuumKeepLast = 2, orphanGraceMs = 0L)))
    p.applyBatch(batch(4), 4L) // a retention cadence hit
    assert(horizon() === 3L, "the pipeline's retention pass heals the horizon")
    assert(lake.currentVersion === 4L)
    assertMatchesOracle(lake, changes)
  }

  test("delta manifests: commits record only touched buckets; chains resolve") {
    import graft.lake.Json
    val changes = ChangeGen.changes(spark, 2400, nKeys = 200, partitions = 4,
      deletePct = 10)
    val root = SparkTestSession.tempDir("lakedelta")
    val lake = new LakeTable(root, spark, subBuckets = 4, checkpointEvery = 4)
    val n = 6 // v0 ckpt, v1-v3 deltas, v4 ckpt (cadence), v5 delta
    (0 until n).foreach { b =>
      lake.merge(changes.filter(col("offset") >= b * 100 && col("offset") < (b + 1) * 100), b.toLong)
    }
    def manifestJson(v: Int) = Json.parse(new String(
      java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(root, f"manifest-$v%012d.json"))))
    // cadence: full (sharded checkpoint) at 0 and 4, deltas elsewhere
    assert(!manifestJson(0).has("touched") && manifestJson(0).has("shards"))
    (1 to 3).foreach(v => assert(manifestJson(v).has("touched") &&
      !manifestJson(v).has("shards"), s"v$v must be a delta"))
    assert(!manifestJson(4).has("touched"), "v4 must checkpoint (cadence 4)")
    assert(manifestJson(5).has("touched"))
    // a delta's JSON is O(touched buckets), and added ⊆ touched
    val d = manifestJson(5)
    import scala.jdk.CollectionConverters._
    val touched = d.get("touched").elements().asScala
      .map(t => (t.get(0).asInt, t.get(1).asInt)).toSet
    val added = d.get("added").elements().asScala
      .map(f => (f.get("partition").asInt, f.get("sub").asInt)).toSet
    assert(added.subsetOf(touched))
    assert(touched.size <= 16, "touched is bounded by partitions × subBuckets")
    // current state equals the oracle (resolution folds the chain correctly)
    assertMatchesOracle(lake,
      changes.filter(col("offset") < (n * 100).toLong))
    // time travel to a mid-chain delta version resolves too
    val got2 = lake.readVersion(2L)
      .select(col("repo"), col("path"), sha2(col("content"), 256).as("sha"))
    val want2 = ChangeGen.oracleFinalState(changes.filter(col("offset") < 300))
      .select(col("repo"), col("path"), sha2(col("content"), 256).as("sha"))
    assert(got2.exceptAll(want2).isEmpty && want2.exceptAll(got2).isEmpty)
    // a FRESH instance (cold cache, resolution from disk only) reads the same
    val cold = new LakeTable(root, spark, subBuckets = 4, checkpointEvery = 4)
    assertMatchesOracle(cold, changes.filter(col("offset") < (n * 100).toLong))
    // vacuum to keepLast=1: keepFrom=5 is a delta -> materialized in place;
    // all manifests below are deleted, table still reads, audit trail intact
    val lineageBefore = lake.lineage().count()
    val (dataGone, manifestsGone) = lake.vacuum(keepLast = 1)
    assert(manifestsGone === 5)
    assert(dataGone > 0)
    assert(!manifestJson(5).has("touched") && manifestJson(5).has("shards"),
      "vacuum must materialize the oldest kept delta as a checkpoint")
    assertMatchesOracle(lake, changes.filter(col("offset") < (n * 100).toLong))
    assert(lake.lineage().count() === lineageBefore)
    // and a new writer over the vacuumed table keeps working
    val after = new LakeTable(root, spark, subBuckets = 4, checkpointEvery = 4)
    after.merge(changes.filter(col("offset") >= (n * 100).toLong), n.toLong)
    assertMatchesOracle(after, changes)
  }

  test("sharded checkpoints reuse untouched partitions' shards") {
    import graft.lake.Json
    import scala.jdk.CollectionConverters._
    val changes = ChangeGen.changes(spark, 1200, nKeys = 120, partitions = 4,
      deletePct = 0)
    val root = SparkTestSession.tempDir("lakeshard")
    val lake = new LakeTable(root, spark, subBuckets = 4, checkpointEvery = 3)
    // v0: all partitions; v1, v2: ONLY partition 0; v3: checkpoint (cadence)
    lake.merge(changes.filter(col("offset") < 100), 0L)
    lake.merge(changes.filter(col("offset") >= 100 && col("offset") < 150)
      .filter(col("partition") === 0), 1L)
    lake.merge(changes.filter(col("offset") >= 150 && col("offset") < 200)
      .filter(col("partition") === 0), 2L)
    lake.merge(changes.filter(col("offset") >= 200 && col("offset") < 250)
      .filter(col("partition") === 0), 3L)
    def shards(v: Int): Map[String, String] = Json.parse(new String(
      java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(root, f"manifest-$v%012d.json"))))
      .get("shards").fields().asScala
      .map(e => e.getKey -> e.getValue.asText).toMap
    val s0 = shards(0)
    val s3 = shards(3)
    assert(s3("0-0") !== s0("0-0"), "touched partition 0 must get a fresh shard")
    (1 to 3).foreach { p =>
      assert(s3(s"$p-0") === s0(s"$p-0"),
        s"untouched partition $p must reuse the v0 shard")
    }
    // resolution through reused shards still equals the oracle
    val want = changes.filter(col("offset") < 250 &&
      (col("partition") === 0 || col("offset") < 100))
    assertMatchesOracle(lake, want)
  }

  test("delta cadence is unobservable: delta lake ≡ full-manifest lake") {
    // model-based check of the whole §4.1 machinery: the SAME operation
    // sequence (merges, a re-bucketing compact, a vacuum) applied to a lake
    // committing deltas (cadence 3, tiny shard groups) and to one
    // committing a full checkpoint every time must yield identical state,
    // watermarks, and lineage at every step — the manifest representation
    // must never be observable through the API.
    val changes = ChangeGen.changes(spark, 2400, nKeys = 160, partitions = 4,
      deletePct = 15)
    val a = new LakeTable(SparkTestSession.tempDir("lakeEqA"), spark,
      subBuckets = 4, checkpointEvery = 3, shardGroupSize = 2)
    val b = new LakeTable(SparkTestSession.tempDir("lakeEqB"), spark,
      subBuckets = 4, checkpointEvery = 1)
    def assertSame(): Unit = {
      val sa = a.read().select(col("repo"), col("path"), col("offset"),
        sha2(col("content"), 256))
      val sb = b.read().select(col("repo"), col("path"), col("offset"),
        sha2(col("content"), 256))
      assert(sa.exceptAll(sb).isEmpty && sb.exceptAll(sa).isEmpty,
        "state diverged between delta and full-manifest lakes")
      assert(a.watermarks() === b.watermarks())
      assert(a.lineage().count() === b.lineage().count())
    }
    (0 until 5).foreach { i =>
      val batch = changes.filter(
        col("offset") >= i * 120 && col("offset") < (i + 1) * 120)
      a.merge(batch, i.toLong); b.merge(batch, i.toLong)
      assertSame()
    }
    a.compact(8); b.compact(8)
    assertSame()
    val batch5 = changes.filter(col("offset") >= 600 && col("offset") < 720)
    a.merge(batch5, 5L); b.merge(batch5, 5L)
    assertSame()
    a.vacuum(keepLast = 2); b.vacuum(keepLast = 2)
    assertSame()
    // time travel to the post-compact version agrees too
    val va = a.readVersion(a.currentVersion - 1)
      .select(col("repo"), col("path"), sha2(col("content"), 256))
    val vb = b.readVersion(b.currentVersion - 1)
      .select(col("repo"), col("path"), sha2(col("content"), 256))
    assert(va.exceptAll(vb).isEmpty && vb.exceptAll(va).isEmpty)
  }

  test("a new writer's restarted batch numbering is not swallowed as replays") {
    val changes = ChangeGen.changes(spark, 1000, nKeys = 100, partitions = 4)
    val root = SparkTestSession.tempDir("lakeapp")
    val a = new LakeTable(root, spark, subBuckets = 4, appId = "ckpt-A")
    a.merge(changes.filter(col("offset") < 100), 0L)
    a.merge(changes.filter(col("offset") >= 100 && col("offset") < 150), 1L)
    // same app, same batchId => fenced replay
    assert(a.merge(changes.filter(col("offset") < 100), 1L) === -1L)
    // NEW app (fresh checkpoint) restarts numbering at 0 with genuinely new
    // data — must apply, not fence; overlap rows dedup on watermarks
    val b = new LakeTable(root, spark, subBuckets = 4, appId = "ckpt-B")
    val applied = b.merge(changes.filter(col("offset") >= 100), 0L)
    assert(applied > 0L, "fresh-app batch 0 must not be fenced")
    assertMatchesOracle(b, changes)
  }

  test("compact re-buckets; new layout is table metadata and survives merges") {
    val changes = ChangeGen.changes(spark, 2000, nKeys = 150, partitions = 4,
      deletePct = 10)
    val lake = new LakeTable(SparkTestSession.tempDir("lakecp"), spark, subBuckets = 4)
    val half0 = changes.filter(col("offset") < 150)
    lake.merge(half0, 0L)
    assert(lake.layoutSubBuckets === 4)

    lake.compact(8)
    assert(lake.layoutSubBuckets === 8)
    // state unchanged by the layout change
    val got = lake.read()
      .select(col("repo"), col("path"), sha2(col("content"), 256).as("sha"))
    val want = ChangeGen.oracleFinalState(half0)
      .select(col("repo"), col("path"), sha2(col("content"), 256).as("sha"))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)

    // a NEW pipeline instance constructed with the stale default must merge
    // against the committed layout, not its constructor arg
    val lake2 = new LakeTable(lake.root, spark, subBuckets = 4)
    lake2.merge(changes.filter(col("offset") >= 150), 1L)
    assert(lake2.layoutSubBuckets === 8)
    assertMatchesOracle(lake2, changes)
  }

  test("recommendSubBuckets pins the measured sizing rule's arithmetic") {
    import graft.lake.LakeTable.recommendSubBuckets
    val MiB = 1L << 20
    // the rule's own published example (BENCH/BASELINE.md r06): 100 TiB
    // over 256 partitions at a 256 MiB target ⇒ 1600 sub-buckets
    assert(recommendSubBuckets(100L << 40, 256, 256 * MiB) === 1600)
    // a 512 MiB target halves the count
    assert(recommendSubBuckets(100L << 40, 256, 512 * MiB) === 800)
    // the 64 MB file floor wins over the target: 96 MiB per partition at a
    // 64 MiB target would round to 2 buckets of 48 MiB — the floor caps at 1
    assert(recommendSubBuckets(4 * 96 * MiB, 4, 64 * MiB) === 1)
    // tiny tables never go below one bucket
    assert(recommendSubBuckets(10 * MiB, 4) === 1)
    assert(recommendSubBuckets(0L, 1) === 1)
    // malformed inputs fail loudly, never mis-size silently
    intercept[IllegalArgumentException](recommendSubBuckets(1L << 40, 0))
    intercept[IllegalArgumentException](
      recommendSubBuckets(1L << 40, 4, 32 * MiB)) // below the 64 MB floor
  }

  test("compactToTargetFileSize applies the rule where compact re-buckets") {
    val changes = ChangeGen.changes(spark, 2000, nKeys = 150, partitions = 4,
      deletePct = 10)
    val lake = new LakeTable(SparkTestSession.tempDir("lakecpt"), spark,
      subBuckets = 8)
    lake.merge(changes, 0L)
    assert(lake.layoutSubBuckets === 8)
    // sf-gate-scale live bytes are far below one 256 MB target file per
    // partition, so the rule must collapse the layout to 1 bucket — and the
    // applied count must be table metadata like any compact()
    val applied = lake.compactToTargetFileSize()
    assert(applied === 1)
    assert(lake.layoutSubBuckets === 1)
    assertMatchesOracle(lake, changes)
  }

  test("crash + restart + full replay is exactly-once (fenced, idempotent)") {
    val changes = ChangeGen.changes(spark, 2000, nKeys = 150, partitions = 4,
      deletePct = 10)
    val jr = SparkTestSession.tempDir("j3")
    val lr = SparkTestSession.tempDir("lake3")
    val p1 = new CdcPipeline(spark, jr, lr, chunkBytes = 4096, subBuckets = 4)
    p1.runBatches(changes, 8, crashAfter = Some(2L)) // die after batch 2
    val p2 = new CdcPipeline(spark, jr, lr, chunkBytes = 4096, subBuckets = 4)
    p2.runBatches(changes, 8) // cold restart, replays everything from batch 0
    assertMatchesOracle(p2.lake, changes)
    // journal too: every offset exactly once
    val dupes = p2.journal.read().groupBy("partition", "offset").count()
      .filter(col("count") > 1).count()
    assert(dupes === 0L)
    assert(p2.journal.read().count() === 2000L)
  }

  test("hot-key skew (80% one repo) merges correctly") {
    val changes = ChangeGen.changes(spark, 3000, nKeys = 100, partitions = 4,
      hotPct = 80, deletePct = 10)
    val lake = new LakeTable(SparkTestSession.tempDir("lake4"), spark, subBuckets = 4)
    lake.merge(changes, 0L)
    assertMatchesOracle(lake, changes)
  }

  test("schema evolution: column add + int->long widen mid-stream") {
    val base = ChangeGen.changes(spark, 600, nKeys = 80, partitions = 2, deletePct = 0)
    val b0 = base.filter(col("offset") < 100)
      .withColumn("stars", (pmod(col("offset"), lit(100L))).cast("int"))
    // keys whose keyId ends in 1 never appear in b1, so some rows survive
    // under the old schema (license absent) — the mixed-file read path
    val b1 = base.filter(col("offset") >= 100 && !col("path").rlike("File\\d*1\\."))
      .withColumn("stars", col("offset") * 1000000L) // widened to long
      .withColumn("license", concat(lit("apache-"), pmod(col("offset"), lit(2L)))) // added
    val lake = new LakeTable(SparkTestSession.tempDir("lake5"), spark, subBuckets = 4)
    lake.merge(b0, 0L)
    assert(lake.currentSchema.get("stars").dataType === IntegerType)
    lake.merge(b1, 1L)
    val sch = lake.currentSchema.get
    assert(sch("stars").dataType === LongType, "stars must widen int->long")
    assert(sch.fieldNames.contains("license"), "license must be added")
    val rows = lake.read()
    // old rows (only in b0) readable under the evolved schema with null license
    val oldRows = rows.filter(col("offset") < 100)
    assert(oldRows.count() > 0)
    assert(oldRows.filter(col("license").isNotNull).count() === 0)
    // values survived the widen
    val sample = rows.filter(col("offset") >= 100).limit(1).collect()(0)
    assert(sample.getAs[Long]("stars") === sample.getAs[Long]("offset") * 1000000L)

    // ---- soft drop extends the ladder: no file rewrite, reads project the
    // column away, history keeps it, and the tail's still-sent column stays
    // dropped -------------------------------------------------------------
    val preDropVersion = lake.currentVersion
    val filesBefore = new java.io.File(lake.root, "data").listFiles().map(_.getName).toSet
    lake.dropColumn("stars")
    assert(!lake.currentSchema.get.fieldNames.contains("stars"))
    assert(new java.io.File(lake.root, "data").listFiles().map(_.getName).toSet
      === filesBefore, "a soft drop must rewrite no data file")
    assert(!lake.read().columns.contains("stars"),
      "reads must no longer project the dropped column")
    assert(lake.read().count() === rows.count(), "all rows stay readable")
    // time travel to the pre-drop snapshot still shows the column's values
    val old = lake.readVersion(preDropVersion)
    assert(old.columns.contains("stars") &&
      old.filter(col("stars").isNotNull).count() > 0)
    // the CDC tail keeps sending the dropped column: merge must IGNORE it,
    // not resurrect it (while still applying the batch's other columns)
    val b2 = base.filter(col("offset") < 50)
      .withColumn("offset", col("offset") + 10000L) // past the watermarks
      .withColumn("stars", col("offset") * 7L)
      .withColumn("license", lit("mit"))
    lake.merge(b2, 2L)
    assert(!lake.currentSchema.get.fieldNames.contains("stars"),
      "a still-sent dropped column must not re-enter the schema")
    assert(!lake.read().columns.contains("stars"))
    assert(lake.read().filter(col("license") === "mit").count() > 0,
      "the batch's surviving columns must still apply")

    // guard rails: merge identity and unknown columns refuse to drop
    intercept[IllegalArgumentException](lake.dropColumn("repo"))
    intercept[IllegalArgumentException](lake.dropColumn("no_such_column"))
  }

  test("incompatible schema change fails fast") {
    val m = intercept[IllegalArgumentException] {
      SchemaEvolution.merge(
        StructType(Seq(StructField("x", LongType))),
        StructType(Seq(StructField("x", StringType))))
    }
    assert(m.getMessage.contains("incompatible"))
  }

  test("widen ladder") {
    assert(SchemaEvolution.widen(IntegerType, LongType) === Some(LongType))
    assert(SchemaEvolution.widen(FloatType, DoubleType) === Some(DoubleType))
    assert(SchemaEvolution.widen(IntegerType, DoubleType) === Some(DoubleType))
    assert(SchemaEvolution.widen(LongType, IntegerType) === Some(LongType))
    assert(SchemaEvolution.widen(StringType, LongType) === None)
  }

  test("schema merge resolves case-insensitively, keeps lake spelling") {
    // a case-drifted binlog column is the SAME column (Spark's own default
    // resolution), never a duplicate and never silently nulled
    val cur = StructType(Seq(StructField("lang", StringType, nullable = true)))
    val in = StructType(Seq(StructField("Lang", StringType, nullable = true)))
    val merged = SchemaEvolution.merge(cur, in)
    assert(merged.fieldNames.toSeq === Seq("lang"))
    // align maps the drifted spelling onto the target's
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(org.apache.spark.sql.Row("scala"))), in)
    val aligned = SchemaEvolution.align(df, merged)
    assert(aligned.columns.toSeq === Seq("lang"))
    assert(aligned.collect()(0).getString(0) === "scala")
    // true case conflicts within ONE schema fail fast
    val conflicted = StructType(Seq(
      StructField("x", LongType), StructField("X", LongType)))
    intercept[IllegalArgumentException] { SchemaEvolution.merge(cur, conflicted) }
  }

  test("a lake column absent from the batch flips to nullable") {
    // the batch fabricates nulls for the missing column; a non-nullable
    // schema over null-bearing files would be a false constraint Catalyst
    // trusts for filter simplification
    val cur = StructType(Seq(
      StructField("content", StringType, nullable = true),
      StructField("score", LongType, nullable = false)))
    val in = StructType(Seq(StructField("content", StringType, nullable = true)))
    val merged = SchemaEvolution.merge(cur, in)
    assert(merged("score").nullable, "absent-in-batch column must be nullable")
  }

  // r8: the per-partition offset gate became an O(1) array-literal lookup
  // (LakeTable.offsetGate) instead of a broadcast join — pin its semantics
  // against the join formulation across the shapes that differ: gated vs
  // ungated partitions, a partition ABOVE the array bound (mid-stream
  // expansion), boundary offsets under strict (>) and non-strict (>=), and
  // the sparse-key fallback path.
  test("offsetGate literal lookup equals the join formulation") {
    import org.apache.spark.sql.DataFrame
    val rows = Seq(
      (0, 0L), (0, 10L), (0, 11L), // gated at 10
      (1, 5L), (1, 6L),            // gated at 6 (boundary)
      (2, 99L),                    // ungated partition inside the array
      (7, 3L),                     // partition past the gate map entirely
      // out-of-domain partitions: the join formulation ADMITS them (left-
      // join null gate), so the literal path must too — without its domain
      // guard, -1 threw (element_at index 0), -2 silently resolved FROM THE
      // END of the array (gated against partition maxP's watermark), and
      // Int.MaxValue overflowed in `partition + 1` under ANSI mode
      (-1, 4L), (-2, 0L), (Int.MaxValue, 1L))
    val batch = spark.createDataFrame(rows).toDF("partition", "offset")
    val gate = Map(0 -> 10L, 1 -> 6L)
    def joinGate(df: DataFrame, g: Map[Int, Long], strict: Boolean): DataFrame = {
      val gDf = broadcast(spark.createDataFrame(g.toSeq).toDF("partition", "_g"))
      df.join(gDf, Seq("partition"), "left")
        .filter(col("_g").isNull ||
          (if (strict) col("offset") > col("_g") else col("offset") >= col("_g")))
        .drop("_g")
    }
    def rowsOf(df: DataFrame): Set[(Int, Long)] =
      df.collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    for (strict <- Seq(true, false)) {
      val got = rowsOf(LakeTable.offsetGate(batch, gate, strict))
      val want = rowsOf(joinGate(batch, gate, strict))
      assert(got === want, s"strict=$strict: literal gate diverged from join")
    }
    assert(rowsOf(LakeTable.offsetGate(batch, gate, strict = true)) ===
      Set((0, 11L), (2, 99L), (7, 3L), (-1, 4L), (-2, 0L), (Int.MaxValue, 1L)),
      "strict gate: only strictly-newer, ungated and out-of-domain rows survive")
    // sparse keys force the broadcast-join fallback; same semantics
    val sparse = Map(0 -> 10L, 1000000 -> 5L)
    assert(rowsOf(LakeTable.offsetGate(batch, sparse, strict = true)) ===
      rowsOf(joinGate(batch, sparse, strict = true)),
      "sparse-key fallback diverged from join")
  }
}
