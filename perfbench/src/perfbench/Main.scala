package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._
import scala.util.Try

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.gen.ChangeGen
import graft.pipeline.{CdcPipeline, RetentionPolicy}
import graft.sources.GzArchive
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One benchmark run in this JVM: set up, run one workload in a closed loop
  * (one client; the next operation starts when the previous one returned),
  * check the outputs against an oracle, and write the raw timings and
  * counters as JSON to `--out`. The number of timed operations is fixed by
  * `--seconds` and the workload's nominal operation time, so that runs of
  * two versions of the engine do the same work. The metrics are derived
  * from that file by `perfbench/metrics.py`.
  *
  * With `--trace 1` the run also records spans around every call into the
  * engine's public `pipeline`, `lake` and `sources` functions, counts
  * filesystem operations and Spark task metrics per layer, and calls the
  * layers one by one instead of through `CdcPipeline.applyBatch` (journal
  * append and lake merge on two futures, then maintenance, as `applyBatch`
  * does), so that each layer gets its own span.
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: String, out: String, tiny: Boolean)

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("work"), need("out"), m.get("size").contains("tiny"))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val cores = Runtime.getRuntime.availableProcessors
    val traced = a.trace
    val b = SparkSession.builder()
      .master(s"local[$cores]").appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.ui.enabled", false)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
    if (traced) b
      .config("spark.hadoop.fs.file.impl", classOf[CountingLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[CountingLocalFs].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (traced) {
      val fs = new org.apache.hadoop.fs.Path(a.work).getFileSystem(spark.sparkContext.hadoopConfiguration)
      require(fs.isInstanceOf[CountingLocalFileSystem],
        s"traced run needs the counting filesystem, got ${fs.getClass.getName}")
    }
    // "all" runs every workload in turn, for the smoke test
    val names = if (a.workload == "all") Seq("ingest_bulk", "ingest_trickle", "archive_roundtrip")
      else Seq(a.workload)
    val docs = try names.map { w =>
      val wa = if (names.size > 1) a.copy(workload = w, work = s"${a.work}/$w") else a
      val probe = new Probe(spark, traced)
      probe.mark("session")
      val result = w match {
        case "ingest_bulk" => new Ingest(spark, wa, probe, Ingest.bulk(a.tiny)).run()
        case "ingest_trickle" => new Ingest(spark, wa, probe, Ingest.trickle(a.tiny)).run()
        case "archive_roundtrip" => new Archive(spark, wa, probe, Archive.shape(a.tiny)).run()
        case _ => throw new IllegalArgumentException(s"unknown workload $w")
      }
      probe.mark("end")
      val stamp = Map(
        "workload" -> w, "seed" -> a.seed, "seconds" -> a.seconds,
        "trace" -> traced, "nproc" -> cores,
        "xmx_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
        "master" -> s"local[$cores]", "shuffle_partitions" -> cores,
        "lake_codec" -> sys.props.getOrElse("graft.lake.codec", "zstd"),
        "journal_codec" -> spark.conf.getOption("spark.sql.parquet.compression.codec").getOrElse("snappy"),
        "java" -> sys.props("java.version"))
      result ++ Map("stamp" -> stamp, "peak_rss_mb" -> Probe.peakRssMb(),
        "marks" -> probe.marks.toMap, "trace" -> probe.dump())
    } finally spark.stop()
    val doc = if (names.size > 1) docs else docs.head
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    Files.write(Paths.get(a.out), mapper.writeValueAsBytes(doc))
  }
}

/** Spans, per-operation counters and the Spark listener of a traced run;
  * with tracing off every method just runs its body.
  */
final class Probe(spark: SparkSession, val on: Boolean) {
  private val t0 = System.nanoTime()
  private val spans = ArrayBuffer.empty[Map[String, Any]]
  private val records = ArrayBuffer.empty[Map[String, Any]]
  private val nextId = new java.util.concurrent.atomic.AtomicInteger(0)
  private val listener = if (on) Some(new JobGroupMetrics) else None
  listener.foreach(spark.sparkContext.addSparkListener)
  private var gcAtStart = 0L
  private var gcAtEnd = 0L

  private def now = (System.nanoTime() - t0) / 1e9

  def open(): Int = nextId.getAndIncrement()

  /** Time `body` as span `name` of operation `op`, under span `parent`, with
    * Spark job group `name#op` set on this thread while it runs.
    */
  def span[T](name: String, op: Long, parent: Int, id: Int = -1)(body: => T): T =
    if (!on) body
    else {
      val sid = if (id >= 0) id else open()
      val sc = spark.sparkContext
      val start = now
      sc.setJobGroup(s"$name#$op", name, interruptOnCancel = false)
      try body
      finally {
        sc.clearJobGroup()
        val end = now
        spans.synchronized {
          spans += Map("id" -> sid, "name" -> name, "op" -> op,
            "parent" -> parent, "start" -> start, "end" -> end)
        }
      }
    }

  /** JVM uptime at named points of the run, traced or not. */
  val marks = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  def mark(name: String): Unit = marks(name) = Probe.uptime()

  def record(r: Map[String, Any]): Unit = if (on) records.synchronized(records += r)

  def fsOps(): Map[String, Long] = if (on) FsOps.snapshot() else Map.empty

  def timedPhase(start: Boolean): Unit = {
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
    if (start) gcAtStart = gc else gcAtEnd = gc
  }

  def dump(): Map[String, Any] = {
    listener.foreach(_.drain(spark.sparkContext))
    Map("spans" -> spans.toSeq, "records" -> records.toSeq,
      "groups" -> listener.map(_.snapshot()).getOrElse(Map.empty),
      "gc_s" -> (gcAtEnd - gcAtStart) / 1e3, "cores" -> spark.sparkContext.defaultParallelism)
  }
}

object Probe {
  def secs(t: Long): Double = (System.nanoTime() - t) / 1e9

  def peakRssMb(): Double =
    Try(Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).get)
      .getOrElse(-1.0)

  /** Bytes under `dir`, without Hadoop's `.crc` sidecar files (an object
    * store keeps none).
    */
  def storedBytes(dir: String): Long = {
    def walk(f: File): Long =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(walk).sum
      else if (f.getName.endsWith(".crc")) 0L
      else f.length
    walk(new File(dir))
  }

  /** Operations that take about `seconds` at `nominalS` each, rounded up to
    * a multiple of `multipleOf`. The count depends only on the arguments,
    * never on measured speed, so every run of a workload does the same work.
    */
  def opsFor(seconds: Double, nominalS: Double, multipleOf: Int): Int =
    multipleOf * math.max(1, math.ceil(seconds / nominalS / multipleOf).toInt)

  /** JVM time since start: the run's set-up time when called as the timed
    * phase begins (start-up, input generation and warm-up operations).
    */
  def uptime(): Double = ManagementFactory.getRuntimeMXBean.getUptime / 1e3

  /** Order-independent multiset checksum of rows: the sum of their 31-bit
    * hashes, which cannot overflow a BIGINT below 2^32 rows.
    */
  def checksum(cols: Column*): Column = coalesce(sum(hash31(cols: _*)), lit(0L))

  def hash31(cols: Column*): Column = pmod(xxhash64(cols: _*), lit(1L << 31))

  /** Uncompressed payload bytes of a change row: the UTF-8 bytes of its
    * string fields plus 12 for (partition INT, offset BIGINT).
    */
  def payload(df: DataFrame): Column = {
    val strings = Seq("op", "repo", "path", "commit", "lang", "content")
      .filter(df.columns.contains)
      .map(c => coalesce(octet_length(col(c)), lit(0)).cast("long"))
    strings.reduce(_ + _) + lit(12L)
  }
}

/** The two ingest workloads. The change log is generated once by
  * `ChangeGen` and stored as parquet, one directory per micro-batch;
  * batch `b` holds the offsets `[b*S, (b+1)*S)` of every partition and,
  * when `redeliver > 0`, the last `redeliver` offsets of batch `b-1` again,
  * as a consumer restart would send them.
  */
object Ingest {
  final case class Shape(partitions: Int, subBuckets: Int, keys: Int,
      offsetsPerBatch: Int, redeliver: Int, warmup: Int, nominalBatchS: Double,
      retention: Option[RetentionPolicy], compact: Boolean) {
    /** Timed batches: about `seconds` of batches at the nominal batch time,
      * a whole number of retention cycles so that the run ends on a
      * maintenance batch.
      */
    def timed(seconds: Double): Int =
      Probe.opsFor(seconds, nominalBatchS, retention.map(_.everyNBatches).getOrElse(1))
  }

  /** The merge's per-phase seconds since the last call, read through
    * reflection so that the benchmark still builds when the engine drops
    * this counter; an empty map then.
    */
  def mergePhases(): Map[String, Double] = Try {
    val obj = Class.forName("graft.lake.LakeTable$").getField("MODULE$").get(null)
    obj.getClass.getMethod("phaseSnapshotAndReset").invoke(obj)
      .asInstanceOf[scala.collection.Map[String, Double]].toMap
  }.getOrElse(Map.empty)

  // Few large batches, every one mostly updating keys the first batch made.
  def bulk(tiny: Boolean): Shape =
    if (tiny) Shape(4, 4, 2000, 1000, 0, 1, 3.0, None, compact = false)
    else Shape(8, 8, 24000, 6000, 0, 1, 2.5, None, compact = false)

  // Many small batches with inline maintenance on every third batch, grace
  // windows of 0 so truncate and vacuum really reclaim files.
  def trickle(tiny: Boolean): Shape = {
    val r = Some(RetentionPolicy(everyNBatches = 3, journalGraceMs = 0L,
      vacuumKeepLast = 2, orphanGraceMs = 0L))
    if (tiny) Shape(2, 2, 500, 100, 10, 1, 1.6, r, compact = true)
    else Shape(4, 4, 8000, 500, 50, 3, 1.6, r, compact = true)
  }
}

final class Ingest(spark: SparkSession, a: Main.Args, probe: Probe, s: Ingest.Shape) {
  private val log = s"${a.work}/input/log"
  private val lakeRoot = s"${a.work}/lake"
  private val journalRoot = s"${a.work}/journal"
  Seq("lake" -> lakeRoot, "journal" -> journalRoot, "input" -> s"${a.work}/input")
    .foreach { case (t, d) => FsOps.register(t, d) }

  private lazy val logSchema = spark.read.parquet(s"$log/b=0").schema

  private def batchDf(b: Int): DataFrame = {
    val dirs = (if (b > 0 && s.redeliver > 0) Seq(b - 1, b) else Seq(b)).map(i => s"$log/b=$i")
    val df = spark.read.schema(logSchema).parquet(dirs: _*)
    if (b > 0 && s.redeliver > 0)
      df.filter(col("offset") >= lit(b.toLong * s.offsetsPerBatch - s.redeliver))
    else df
  }

  def run(): Map[String, Any] = {
    val batches = s.warmup + s.timed(a.seconds)
    val total = batches.toLong * s.offsetsPerBatch * s.partitions
    val perBatch = probe.span("bench.setup", 0, -1) {
      ChangeGen.changes(spark, total, nKeys = s.keys, partitions = s.partitions, seed = a.seed)
        .withColumn("b", (col("offset") / s.offsetsPerBatch).cast("int"))
        .write.partitionBy("b").parquet(log)
      val logDf = spark.read.parquet(log)
      logSchema: Unit
      logDf.groupBy(col("b")).agg(count(lit(1)), sum(Probe.payload(logDf)))
        .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    }
    require(perBatch.size == batches, s"generated ${perBatch.size} of $batches batches")
    def delivered(b: Int): Long =
      perBatch(b)._1 + (if (b > 0) s.redeliver.toLong * s.partitions else 0L)

    val p = new CdcPipeline(spark, journalRoot, lakeRoot,
      chunkBytes = 16L << 20, subBuckets = s.subBuckets, retention = s.retention)
    val ops = ArrayBuffer.empty[Map[String, Any]]
    var failed = 0L
    var attempted = 0L
    var setupS = 0.0
    var b = 0
    var error: Option[String] = None
    while (b < batches && error.isEmpty) {
      if (b == 0) probe.mark("generated")
      if (b == s.warmup) { setupS = Probe.uptime(); probe.mark("timed"); probe.timedPhase(start = true) }
      val df = batchDf(b)
      val t = System.nanoTime()
      val ok = Try(if (probe.on) tracedBatch(p, df, b) else p.applyBatch(df, b))
      val wall = Probe.secs(t)
      ok.failed.foreach(e => error = Some(e.toString))
      if (b >= s.warmup) {
        attempted += 1
        if (ok.isFailure) failed += 1
        ops += Map("op" -> b, "wall_s" -> wall, "events" -> perBatch(b)._1,
          "delivered" -> delivered(b), "payload_bytes" -> perBatch(b)._2,
          "maintenance" -> s.retention.exists(r => (b + 1) % r.everyNBatches == 0))
      }
      b += 1
    }
    probe.timedPhase(start = false)
    probe.mark("ops_done")
    val last = b - 1

    var compactS = -1.0
    if (s.compact && error.isEmpty) {
      attempted += 1
      val t = System.nanoTime()
      Try(probe.span("lake.compact", last, -1)(p.lake.compact(s.subBuckets)))
        .failed.foreach { e => failed += 1; error = Some(e.toString) }
      compactS = Probe.secs(t)
    }

    probe.mark("compacted")
    // storage at the end of the workload, compaction included
    val stored = storedNow(last, perBatch)

    // traced only: full scans of the final table for the lake.read layer;
    // the first three are warm-up
    val reads = (0 until (if (probe.on) 8 else 0)).map { i =>
      val t = System.nanoTime()
      probe.span("lake.read", i, -1) {
        p.lake.read().agg(count(lit(1)),
          Probe.checksum(col("repo"), col("path"), col("content"))).collect()
      }
      Probe.secs(t)
    }.drop(3)
    probe.mark("read")

    // the oracle: last writer wins per (repo, path) over every row delivered,
    // compared with the lake as multisets of (repo, path, sha256(content))
    attempted += 1
    val check = Try(probe.span("bench.oracle", 0, -1) {
      val applied = spark.read.schema(logSchema).parquet((0 to last).map(i => s"$log/b=$i"): _*)
      val want = ChangeGen.oracleFinalState(applied)
      def keyed(df: DataFrame, side: Int, bytes: Column) = df.select(col("repo"), col("path"),
        sha2(coalesce(col("content"), lit("")), 256).as("sha"), lit(side).as("side"), bytes.as("bytes"))
      val r = keyed(p.lake.read(), 1, lit(0L)).unionByName(keyed(want, -1, Probe.payload(want)))
        .groupBy("repo", "path", "sha")
        .agg(sum(col("side")).as("n"), count(when(col("side") > 0, 1)).as("lake"),
          count(when(col("side") < 0, 1)).as("oracle"), sum(col("bytes")).as("bytes"))
        .agg(sum(col("lake")), sum(col("oracle")), sum(greatest(-col("n"), lit(0L))),
          sum(greatest(col("n"), lit(0L))), sum(col("bytes")))
        .collect()(0)
      val Seq(gotN, wantN, missing, extra, bytes) = (0 until 5).map(r.getLong)
      Map("name" -> "lake_vs_oracle", "ok" -> (gotN == wantN && missing == 0 && extra == 0),
        "lake_rows" -> gotN, "oracle_rows" -> wantN, "missing" -> missing, "extra" -> extra,
        "live_payload_bytes" -> bytes)
    }).fold(e => Map("name" -> "lake_vs_oracle", "ok" -> false, "error" -> e.toString), identity)
    if (check("ok") != true) failed += 1
    val livePayload = check.getOrElse("live_payload_bytes", 0L)

    Map("kind" -> "ingest", "setup_s" -> setupS, "ops" -> ops.toSeq,
      "compact_s" -> compactS, "read_s" -> reads, "read_payload_bytes" -> livePayload,
      "stored" -> stored, "checks" -> Seq(check), "error" -> error.orNull,
      "attempted" -> attempted, "failed" -> failed,
      "shape" -> Map("partitions" -> s.partitions, "sub_buckets" -> s.subBuckets,
        "keys" -> s.keys, "events_per_batch" -> s.offsetsPerBatch.toLong * s.partitions,
        "redelivered_per_batch" -> s.redeliver.toLong * s.partitions,
        "warmup_batches" -> s.warmup, "timed_batches" -> (batches - s.warmup),
        "retention_every" -> s.retention.map(_.everyNBatches).getOrElse(0)),
      "roots" -> Map("lake" -> lakeRoot, "journal" -> journalRoot, "spill" -> s"${a.work}/spark-local"))
  }

  private def storedNow(b: Int, perBatch: Map[Int, (Long, Long)]): Map[String, Any] = {
    val input = (0 to b).map(perBatch(_)._2).sum
    Map("after_batch" -> b, "lake_bytes" -> Probe.storedBytes(lakeRoot),
      "journal_bytes" -> Probe.storedBytes(journalRoot), "input_payload_bytes" -> input)
  }

  /** `CdcPipeline.applyBatch` called layer by layer so each gets a span:
    * journal append and lake merge run concurrently and both settle before
    * any failure propagates; then, on the retention cadence, journal
    * truncate to the lake's watermarks and lake vacuum.
    */
  private def tracedBatch(p: CdcPipeline, df: DataFrame, b: Int): Unit = {
    implicit val ec: ExecutionContext = ExecutionContext.global
    val batchSpan = probe.open()
    val fs0 = probe.fsOps()
    Ingest.mergePhases(): Unit
    var appended, applied = 0L
    var truncated = -1L
    var vacuumed = -1L
    probe.span("pipeline.batch", b, -1, batchSpan) {
      val j = Future(probe.span("lake.journal.append", b, batchSpan)(p.journal.append(df, b)))
      val m = Future(probe.span("lake.merge", b, batchSpan)(p.lake.merge(df, b)))
      val jr = Try(Await.result(j, Duration.Inf))
      val mr = Try(Await.result(m, Duration.Inf))
      appended = jr.get
      applied = mr.get
      s.retention.foreach { r =>
        if ((b + 1) % r.everyNBatches == 0) {
          truncated = probe.span("lake.journal.truncate", b, batchSpan) {
            p.journal.truncate(p.lake.watermarks(), r.journalGraceMs).toLong
          }
          if (r.vacuumKeepLast >= 1) vacuumed = probe.span("lake.vacuum", b, batchSpan) {
            val (data, manifests) = p.lake.vacuum(r.vacuumKeepLast, r.orphanGraceMs)
            (data + manifests).toLong
          }
        }
      }
    }
    val fs1 = probe.fsOps()
    probe.record(Map("op" -> b, "rows_applied" -> applied,
      "rows_appended" -> appended, "files_truncated" -> truncated,
      "vacuum_files_deleted" -> vacuumed, "merge_phases" -> Ingest.mergePhases(),
      "fs" -> fs1.map { case (k, v) => k -> (v - fs0.getOrElse(k, 0L)) }.filter(_._2 != 0)))
  }
}

/** Archive round trip through `sources.GzArchive`: each operation writes the
  * same seeded records into a fresh archive root (several partitions, chunk
  * and file roll-over), reads the per-partition next offsets back from the
  * cursors, reads every committed record, and resumes from the middle of
  * every partition.
  */
object Archive {
  final case class Shape(partitions: Int, records: Long, chunkBytes: Long,
      recordsPerFile: Long, nominalRoundS: Double)

  def shape(tiny: Boolean): Shape =
    if (tiny) Shape(2, 2000, 16L << 10, 400, 4.0)
    else Shape(8, 200000, 1L << 20, 10000, 3.0)

  val topic = "events"
}

final class Archive(spark: SparkSession, a: Main.Args, probe: Probe, s: Archive.Shape) {
  private val input = s"${a.work}/input/records"
  private val rootBase = s"${a.work}/archive"
  Seq("archive" -> rootBase, "input" -> s"${a.work}/input").foreach { case (t, d) => FsOps.register(t, d) }

  private def digest(df: DataFrame, line: String): (Long, Long) = {
    val r = df.agg(count(lit(1)), Probe.checksum(col(line))).collect()(0)
    (r.getLong(0), r.getLong(1))
  }

  def run(): Map[String, Any] = {
    require(s.records % s.partitions == 0, "records must split evenly over partitions")
    // ChangeGen deals record i to partition i % P at offset i / P: every
    // partition holds offsets [0, records / P)
    val perPartition = (0 until s.partitions).map(_ -> s.records / s.partitions).toMap
    // resume floor: the committed offset halfway through every partition
    val midOffset = s.records / s.partitions / 2 - 1
    val mid = perPartition.map { case (p, _) => p -> midOffset }
    val (df, payload, full, resumed) = probe.span("bench.setup", 0, -1) {
      ChangeGen.changes(spark, s.records, nKeys = (s.records / 4).toInt,
        partitions = s.partitions, seed = a.seed)
        .select(col("partition"), col("offset"),
          concat_ws("\t", col("op"), col("repo"), col("path"), coalesce(col("commit"), lit("")),
            col("lang"), coalesce(col("content"), lit(""))).as("line"))
        .write.parquet(input)
      val df = spark.read.parquet(input)
      val later = col("offset") > midOffset
      val r = df.agg(count(lit(1)), Probe.checksum(col("line")), sum(octet_length(col("line")) + 1),
        count(when(later, 1)), coalesce(sum(when(later, Probe.hash31(col("line")))), lit(0L)))
        .collect()(0)
      (df, r.getLong(2), (r.getLong(0), r.getLong(1)), (r.getLong(3), r.getLong(4)))
    }

    val ops = ArrayBuffer.empty[Map[String, Any]]
    val checks = ArrayBuffer.empty[Map[String, Any]]
    var attempted, failed = 0L
    var setupS = 0.0
    var stored = Map.empty[String, Any]
    var error: Option[String] = None
    val warmup = 1
    val rounds = warmup + Probe.opsFor(a.seconds, s.nominalRoundS, 1)
    var r = 0
    while (r < rounds && error.isEmpty) {
      if (r == 0) probe.mark("generated")
      if (r == warmup) { setupS = Probe.uptime(); probe.mark("timed"); probe.timedPhase(start = true) }
      val root = s"$rootBase/r$r"
      val roundSpan = probe.open()
      val fs0 = probe.fsOps()
      val t = new Array[Double](4)
      def timed[T](i: Int, name: String)(body: => T): T = {
        val t0 = System.nanoTime()
        try probe.span(name, r, roundSpan)(body) finally t(i) = Probe.secs(t0)
      }
      val res = Try(probe.span("sources.archive.round", r, -1, roundSpan) {
        timed(0, "sources.archive.write") {
          GzArchive.writeArchive(df, root, Archive.topic, "offset",
            chunkThreshold = s.chunkBytes, recordsPerFile = s.recordsPerFile)
        }
        val next = timed(1, "sources.archive.fetch_offsets")(GzArchive.fetchOffsets(spark, root, Archive.topic))
        val got = timed(2, "sources.archive.read")(digest(GzArchive.readCommitted(spark, root, Archive.topic), "value"))
        val back = timed(3, "sources.archive.resume_read")(digest(GzArchive.readFrom(spark, root, mid), "value"))
        (next, got, back)
      })
      val fs1 = probe.fsOps()
      val wall = t.sum
      res.failed.foreach(e => error = Some(e.toString))
      if (r >= warmup) {
        attempted += 1
        val ok = res.toOption.exists { case (next, got, back) =>
          next == perPartition && got == full && back == resumed
        }
        if (!ok) failed += 1
        if (!ok && checks.size < 3) checks += Map("name" -> s"round_$r", "ok" -> false,
          "detail" -> res.map(_.toString).fold(_.toString, identity))
        ops += Map("op" -> r, "wall_s" -> wall, "write_s" -> t(0), "fetch_offsets_s" -> t(1),
          "read_s" -> t(2), "resume_read_s" -> t(3), "records" -> full._1,
          "payload_bytes" -> payload)
        if (stored.isEmpty)
          stored = Map("archive_bytes" -> Probe.storedBytes(root), "input_payload_bytes" -> payload)
        if (probe.on) {
          val fsRoot = new org.apache.hadoop.fs.Path(root)
          val fs = fsRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
          val indexes = fs.listStatus(fsRoot).filter(_.getPath.getName.endsWith(".index.json"))
          val chunks = indexes.map { st =>
            val in = fs.open(st.getPath)
            try GzArchive.parseIndex(new String(in.readAllBytes(), StandardCharsets.UTF_8)).chunks.size
            finally in.close()
          }.sum
          probe.record(Map("op" -> r, "chunks_written" -> chunks,
            "fs" -> fs1.map { case (k, v) => k -> (v - fs0.getOrElse(k, 0L)) }.filter(_._2 != 0)))
        }
      }
      org.apache.commons.io.FileUtils.deleteDirectory(new File(root))
      r += 1
    }
    probe.timedPhase(start = false)
    probe.mark("ops_done")
    if (checks.isEmpty) checks += Map("name" -> "archive_vs_input", "ok" -> (failed == 0 && ops.nonEmpty),
      "rounds" -> ops.size, "records" -> full._1, "checksum" -> full._2,
      "resume_records" -> resumed._1)
    Map("kind" -> "archive", "setup_s" -> setupS, "ops" -> ops.toSeq, "stored" -> stored,
      "checks" -> checks.toSeq, "error" -> error.orNull, "attempted" -> attempted,
      "failed" -> failed,
      "shape" -> Map("partitions" -> s.partitions, "records" -> s.records,
        "chunk_bytes" -> s.chunkBytes, "records_per_file" -> s.recordsPerFile),
      "roots" -> Map("archive" -> rootBase, "spill" -> s"${a.work}/spark-local"))
  }
}
