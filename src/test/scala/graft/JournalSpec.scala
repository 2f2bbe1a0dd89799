package graft

import graft.gen.ChangeGen
import graft.lake.{ChangeJournal, TableIO}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Ports of S3WriterTest (offset recovery) and S3FilesReaderTest (resume
  * reads) against the journal:
  *   - fresh table ⇒ resume offset 0 / empty map (the 404 ⇒ 0 case,
  *     S3WriterTest.testFetchOffsetNewTopic:166-183)
  *   - after appends ⇒ next offset = last chunk first + num
  *     (testFetchOffsetExistingTopic:185-218, fixture expects 12031+34=12065)
  *   - mid-file resume returns exactly the suffix
  *     (S3FilesReaderTest.testReadingBytesFromS3_withOffsets:86-103)
  *   - replayed batch ids are fenced no-ops; re-appending overwrites, never
  *     duplicates (testShouldOverwrite:165-210)
  */
class JournalSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("new-writer batch numbering is not fenced; offset gate still dedups") {
    val changes = ChangeGen.changes(spark, 600, nKeys = 60, partitions = 4)
    val root = SparkTestSession.tempDir("japp")
    val a = new ChangeJournal(root, spark, 4096, appId = "ckpt-A")
    assert(a.append(changes.filter(col("offset") < 80), 0L) > 0L)
    // fresh checkpoint (new appId) restarts at batchId 0 with new data:
    // must append, not fence; the rows already journaled are offset-gated
    val b = new ChangeJournal(root, spark, 4096, appId = "ckpt-B")
    val appended = b.append(changes, 0L)
    assert(appended > 0L, "fresh-app batch 0 must not be fenced")
    assert(b.read().count() === 600L)
    assert(b.read().groupBy("partition", "offset").count()
      .filter(col("count") > 1).count() === 0L, "no duplicates")
  }

  test("fresh journal resumes at offset 0 (404 case)") {
    val j = new ChangeJournal(SparkTestSession.tempDir("j404"), spark, 4096)
    assert(j.nextOffsets() === Map.empty)
    assert(j.lastBatchId === -1L)
  }

  test("offset recovery: next = last chunk first + num (12065 fixture shape)") {
    val j = new ChangeJournal(SparkTestSession.tempDir("j12065"), spark, 100000)
    // one partition, offsets 12031..12064 (34 records) — the reference
    // fixture's final chunk
    val batch = ChangeGen.changes(spark, 34, partitions = 1, startOffset = 12031L)
    j.append(batch, 0L)
    assert(j.nextOffsets() === Map(0 -> 12065L))
  }

  test("mid-file resume returns exactly the suffix, no dupes, no gaps") {
    val root = SparkTestSession.tempDir("jresume")
    val j = new ChangeJournal(root, spark, 2048)
    val changes = ChangeGen.changes(spark, 400, partitions = 2)
    j.append(changes, 0L)
    val committed = Map(0 -> 4L, 1 -> 9L)
    val got = j.readFrom(committed).select("partition", "offset").collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSet
    val expect = changes.select("partition", "offset").collect()
      .map(r => (r.getInt(0), r.getLong(1)))
      .filter { case (p, o) => o > committed(p) }.toSet
    assert(got === expect)
  }

  test("fenced replay: same batchId is a no-op; offsets gate redelivery") {
    val root = SparkTestSession.tempDir("jfence")
    val j = new ChangeJournal(root, spark, 2048)
    val changes = ChangeGen.changes(spark, 200, partitions = 2)
    val n1 = j.append(changes, 0L)
    assert(n1 === 200L)
    // identical replay of the same epoch: fenced
    assert(j.append(changes, 0L) === 0L)
    // new epoch redelivering old offsets: deduped by the offset gate
    assert(j.append(changes, 1L) === 0L)
    assert(j.read().count() === 200L)
    // chunk index tiles per file
    val idx = j.chunkIndex().orderBy("partition", "path", "first_record_offset").collect()
    idx.groupBy(r => (r.getInt(0), r.getString(1))).foreach { case (_, chunks) =>
      var run = 0L
      chunks.sortBy(_.getLong(2)).foreach { c =>
        assert(c.getAs[Long]("byte_offset") === run)
        run += c.getAs[Long]("byte_length_uncompressed")
      }
    }
  }

  test("delta manifests: appends record only new files; cold reads resolve") {
    import graft.lake.Json
    val root = SparkTestSession.tempDir("jdelta")
    val j = new ChangeJournal(root, spark, 2048, checkpointEvery = 3)
    val changes = ChangeGen.changes(spark, 500, partitions = 2)
    (0 until 5).foreach { b =>
      j.append(changes.filter(col("offset") >= b * 50 && col("offset") < (b + 1) * 50),
        b.toLong)
    }
    def manifestJson(v: Int) = Json.parse(new String(
      java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(root, f"manifest-$v%012d.json"))))
    // cadence 3: full at v0 and v3, deltas at v1, v2, v4
    assert(manifestJson(0).has("files"))
    Seq(1, 2, 4).foreach(v => assert(manifestJson(v).has("added") &&
      !manifestJson(v).has("files"), s"v$v must be a delta"))
    assert(manifestJson(3).has("files"), "v3 must checkpoint")
    // a delta lists only the batch's files (2 partitions -> 2 files)
    assert(manifestJson(4).get("added").size === 2)
    // a COLD instance (no cache, resolution purely from disk) sees everything
    val cold = new ChangeJournal(root, spark, 2048, checkpointEvery = 3)
    assert(cold.read().count() === 500L) // 5 batches x 2 partitions x 50 offsets
    assert(cold.nextOffsets() === Map(0 -> 250L, 1 -> 250L))
    val src = changes.filter(col("offset") < 250)
      .select("partition", "offset", "content")
    val got = cold.read().select("partition", "offset", "content")
    assert(src.exceptAll(got).isEmpty && got.exceptAll(src).isEmpty)
  }

  test("retention truncate drops fully-committed files; offsets survive") {
    val root = SparkTestSession.tempDir("jtrunc")
    val j = new ChangeJournal(root, spark, 100000, checkpointEvery = 2)
    val changes = ChangeGen.changes(spark, 600, partitions = 2) // 300 offsets/partition
    j.append(changes.filter(col("offset") < 100), 0L)
    j.append(changes.filter(col("offset") >= 100 && col("offset") < 200), 1L)
    j.append(changes.filter(col("offset") >= 200), 2L)
    def dataFiles = java.nio.file.Files.list(java.nio.file.Paths.get(root, "data"))
      .filter(_.getFileName.toString.endsWith(".parquet")).count()
    def manifestFiles = java.nio.file.Files.list(java.nio.file.Paths.get(root))
      .filter(_.getFileName.toString.startsWith("manifest-")).count()
    assert(dataFiles === 6) // 3 appends x 2 partitions
    val manifestsBefore = manifestFiles
    // watermark 150: the 0-99 file per partition is wholly below -> dropped;
    // the 100-199 file straddles -> kept whole. With the default reader
    // grace the drop is manifest-only — bytes survive as tombstoned
    // pending deletes so a concurrent reader mid-scan on the previous
    // listing cannot lose files under its feet
    assert(j.truncate(Map(0 -> 150L, 1 -> 150L)) === 2)
    assert(dataFiles === 6, "grace window: bytes reclaim later, not at drop")
    // the truncate commit is a REMOVED-DELTA — O(dead paths), independent
    // of how many files are kept (long retention keeps the big set)
    val truncManifest = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(root, "manifest-000000000003.json")), "UTF-8")
    assert(truncManifest.contains("\"removed\""))
    assert(!truncManifest.contains("\"files\""),
      "truncate must not serialize the kept listing")
    assert(j.read().count() === 400L)
    assert(j.read().agg(min(col("offset"))).collect()(0).getLong(0) === 100L)
    // resume offsets untouched by retention
    assert(j.nextOffsets() === Map(0 -> 300L, 1 -> 300L))
    // idempotent; zero grace reaps the tombstones: dropped data files AND
    // the superseded manifest chain (metadata growth is bounded too)
    assert(j.truncate(Map(0 -> 150L, 1 -> 150L), graceMs = 0L) === 0)
    assert(dataFiles === 4)
    assert(manifestFiles < manifestsBefore,
      "superseded journal manifests must be GC'd")
    // appends continue normally (fence untouched), incl. a COLD instance
    val cold = new ChangeJournal(root, spark, 100000, checkpointEvery = 2)
    val more = changes.filter(col("offset") < 100)
      .withColumn("offset", col("offset") + 300L)
    assert(cold.append(more, 3L) === 200L)
    assert(cold.read().count() === 600L)
    assert(cold.nextOffsets() === Map(0 -> 400L, 1 -> 400L))
  }

  test("interleaved appends and truncates: reads stay exact, tombstones drain") {
    import graft.gen.ChangeGen
    val root = SparkTestSession.tempDir("jinterleave")
    val j = new ChangeJournal(root, spark, 100000, checkpointEvery = 2)
    val changes = ChangeGen.changes(spark, 1200, partitions = 2) // 600/partition
    def slice(lo: Long, hi: Long) =
      changes.filter(col("offset") >= lo && col("offset") < hi)
    var batch = 0L
    var wm = -1L
    (0 until 6).foreach { i =>
      j.append(slice(i * 100L, (i + 1) * 100L), batch)
      batch += 1
      if (i % 2 == 1) {
        // retention rides the "lake watermark" forward; mixed grace values
        // exercise both the deferred (tombstoned) and immediate reap paths
        wm = i * 100L - 50L
        j.truncate(Map(0 -> wm, 1 -> wm),
          graceMs = if (i % 4 == 1) Long.MaxValue / 2 else 0L)
      }
    }
    // surviving rows = exactly those above the last watermark's (450) file
    // floor: files whose max offset <= wm dropped whole (…the 300-399 file
    // included), straddlers kept whole — files are 100-aligned
    val expect = changes.filter(col("offset") >= 400L)
    val got = j.read().select("partition", "offset", "content")
    val want = expect.select("partition", "offset", "content")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    // resume offsets always track the newest append, never retention
    assert(j.nextOffsets() === Map(0 -> 600L, 1 -> 600L))
    // a final zero-grace truncate drains every ripe tombstone (tombstones
    // are append-only immutable files under pending-delete/; a fully
    // drained dir removes itself)
    j.truncate(Map(0 -> -1L, 1 -> -1L), graceMs = 0L)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(root, "pending-delete")),
      "drained tombstone dir removes itself")
    // and a cold reader still sees the exact surviving log
    val cold = new ChangeJournal(root, spark, 100000, checkpointEvery = 2)
    val coldGot = cold.read().select("partition", "offset", "content")
    assert(coldGot.exceptAll(want).isEmpty && want.exceptAll(coldGot).isEmpty)
  }

  test("superseded manifests reclaim via the version watermark, no root list") {
    import graft.gen.ChangeGen
    import graft.lake.Json
    val root = SparkTestSession.tempDir("jwm")
    def manifestsOnDisk(): Seq[Long] =
      new java.io.File(root).listFiles().toSeq.map(_.getName)
        .filter(_.matches("""manifest-\d{12,}\.json"""))
        .map(_.stripPrefix("manifest-").stripSuffix(".json").toLong).sorted
    def ckptOf(j: ChangeJournal): Long = {
      val snap = Json.parse(java.nio.file.Files.readString(
        java.nio.file.Paths.get(root, "snapshot.json")))
      val m = Json.parse(java.nio.file.Files.readString(
        java.nio.file.Paths.get(root, snap.get("manifest").asText)))
      Option(m.get("checkpointVersion")).map(_.asLong)
        .getOrElse(m.get("version").asLong)
    }
    val j = new ChangeJournal(root, spark, 100000, checkpointEvery = 2)
    val changes = ChangeGen.changes(spark, 2400, partitions = 2) // offsets 0..1199
    def slice(lo: Long, hi: Long) =
      changes.filter(col("offset") >= lo && col("offset") < hi)
    (0 until 4).foreach(i => j.append(slice(i * 150L, (i + 1) * 150L), i.toLong))
    // first truncate: no horizon yet (reads as 0) — then the file exists
    // and records the checkpoint version
    j.truncate(Map(0 -> 299L, 1 -> 299L), graceMs = 0L)
    val wmPath = java.nio.file.Paths.get(root, "gc-horizon.txt")
    def horizon(): Long = java.nio.file.Files.readString(wmPath).trim.toLong
    def overwriteHorizon(content: String): Unit = {
      java.nio.file.Files.deleteIfExists( // hadoop LocalFS checksum sidecar
        java.nio.file.Paths.get(root, ".gc-horizon.txt.crc"))
      java.nio.file.Files.writeString(wmPath, content): Unit
    }
    assert(java.nio.file.Files.exists(wmPath), "horizon lands on truncate")
    val w1 = horizon()
    assert(w1 === ckptOf(j))
    assert(manifestsOnDisk().forall(_ >= w1),
      s"zero-grace truncate reclaims every manifest below $w1: ${manifestsOnDisk()}")
    // later truncates derive the range from the horizon alone; superseded
    // manifests from the appends in between still get reclaimed
    (4 until 8).foreach(i => j.append(slice(i * 150L, (i + 1) * 150L), i.toLong))
    j.truncate(Map(0 -> 599L, 1 -> 599L), graceMs = 0L)
    val w2 = horizon()
    assert(w2 > w1 && w2 === ckptOf(j))
    assert(manifestsOnDisk().forall(_ >= w2),
      s"horizon-derived truncate reclaims below $w2: ${manifestsOnDisk()}")
    // a REGRESSED horizon (zombie writer raced the file) is absorbed:
    // the next DROPPING truncate re-covers already-reaped versions, whose
    // deletes are idempotent no-ops, and the cold log stays exact (the
    // horizon advances only when a truncate commits, i.e. drops files)
    overwriteHorizon("0")
    j.append(slice(1200L, 1350L), 8L) // empty-range append keeps ids moving
    j.truncate(Map(0 -> 899L, 1 -> 899L), graceMs = 0L)
    assert(horizon() === ckptOf(j))
    val cold = new ChangeJournal(root, spark, 100000, checkpointEvery = 2)
    val want = changes.filter(col("offset") >= 900L)
      .select("partition", "offset", "content")
    val got = cold.read().select("partition", "offset", "content")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    // a CORRUPT horizon file (torn write on a non-atomic-rename fs, or
    // foreign content) must degrade to the listing path and self-heal —
    // never fail the retention pass (wired into CdcPipeline's cadence, a
    // throw here would kill the streaming query every N batches)
    overwriteHorizon("""{"manifests""")
    j.append(slice(1350L, 1500L), 9L)
    j.truncate(Map(0 -> 1049L, 1 -> 1049L), graceMs = 0L)
    assert(horizon() === ckptOf(j), "corrupt horizon healed")
    val want2 = changes.filter(col("offset") >= 1050L)
      .select("partition", "offset", "content")
    val got2 = new ChangeJournal(root, spark, 100000, checkpointEvery = 2)
      .read().select("partition", "offset", "content")
    assert(got2.exceptAll(want2).isEmpty && want2.exceptAll(got2).isEmpty)
    // an AHEAD horizon (journal dir restored from a backup while a newer
    // gc-horizon.txt survived) is INVALID state: the derived range
    // [w, ckpt) would be empty and the rewrite below would heal the
    // horizon without ever reclaiming pre-restore superseded manifests —
    // a permanent leak. The guard sends w > ckpt to the listing fallback,
    // which reclaims them, then the horizon self-heals to ckpt.
    val stale = java.nio.file.Paths.get(root, "manifest-000000000003.json")
    java.nio.file.Files.writeString(stale, """{"version":3}""")
    overwriteHorizon(s"${ckptOf(j) + 1000}")
    j.append(slice(1500L, 1650L), 10L)
    j.truncate(Map(0 -> 1199L, 1 -> 1199L), graceMs = 0L)
    assert(!java.nio.file.Files.exists(stale),
      "ahead horizon must fall back to the listing and reclaim the leak")
    assert(horizon() === ckptOf(j), "ahead horizon healed")
  }

  test("a void commit intent goes, a peer's in-flight one waits, neither deletes live files") {
    import graft.lake.{Json, Tombstone}
    import java.nio.file.{Files, Paths}
    val root = SparkTestSession.tempDir("jintent")
    val j = new ChangeJournal(root, spark, 100000)
    j.append(ChangeGen.changes(spark, 200, partitions = 2), 0L) // version 0
    val live = j.chunkIndex().select("path").distinct().collect().map(_.getString(0)).toSeq
    def intent(v: Int, app: String) = Paths.get(root, "pending-delete", f"v$v%012d-$app.json")
    Files.createDirectories(intent(0, "x").getParent)
    // "crashed" names version 0, which another writer's append took, so it
    // is void; "peer" names version 1, a commit that has not landed yet
    for (p <- Seq(intent(0, "crashed"), intent(1, "peer"))) {
      Files.writeString(p, Json.write(Tombstone(live)))
      assert(p.toFile.setLastModified(System.currentTimeMillis() - 60000L))
    }
    assert(j.truncate(Map(0 -> -1L, 1 -> -1L), graceMs = 0L) === 0)
    assert(!Files.exists(intent(0, "crashed")), "a void intent goes")
    assert(Files.exists(intent(1, "peer")), "an intent above the head waits for its commit")
    assert(live.forall(p => Files.exists(Paths.get(root, p))), "no live file is deleted")
    assert(j.read().count() === 200L)
  }

  test("a crash-leaked commit-intent tmp is reclaimed past grace; pending-delete/ goes") {
    import org.apache.hadoop.fs.{FileSystem, Path}
    val root = SparkTestSession.tempDir("jtmp")
    val j = new ChangeJournal(root, spark, 4096)
    j.append(ChangeGen.changes(spark, 100, partitions = 2), 0L)
    // what truncates that died between an intent's tmp create and its
    // rename leave: the tmp and its .crc; the young one may be a live
    // peer's in-flight intent
    val fs = FileSystem.getLocal(spark.sessionState.newHadoopConf())
    def tmp(n: Int) = new Path(root, s"pending-delete/v000000000001-graft.json.tmp-4242-$n")
    Seq(1, 2).foreach { n =>
      val out = fs.create(tmp(n))
      try out.write("{\"paths\":[".getBytes("UTF-8")) finally out.close()
    }
    assert(new java.io.File(root, "pending-delete/.v000000000001-graft.json.tmp-4242-1.crc").exists)
    fs.setTimes(tmp(1), System.currentTimeMillis() - 3600000L, -1L)
    assert(j.truncate(Map(0 -> -1L, 1 -> -1L), graceMs = 60000L) === 0)
    assert(!fs.exists(tmp(1)), "a tmp past the grace window goes")
    assert(fs.exists(tmp(2)), "a young tmp waits")
    fs.setTimes(tmp(2), System.currentTimeMillis() - 3600000L, -1L)
    assert(j.truncate(Map(0 -> -1L, 1 -> -1L), graceMs = 60000L) === 0)
    assert(!new java.io.File(root, "pending-delete").exists,
      "once everything listed is gone, pending-delete/ goes too")
    assert(j.read().count() === 100L)
  }

  test("reads stay whole across a widening append (int score, then long score + license)") {
    val root = SparkTestSession.tempDir("jwiden")
    val j = new ChangeJournal(root, spark, 4096)
    val changes = ChangeGen.changes(spark, 200, nKeys = 40, partitions = 2)
    j.append(changes.filter(col("offset") < 50)
      .withColumn("score", col("offset").cast("int")), 0L)
    j.append(changes.filter(col("offset") >= 50)
      .withColumn("score", col("offset") * 1000000000L)
      .withColumn("license", lit("mit")), 1L)
    val got = j.read()
    assert(got.schema("score").dataType === org.apache.spark.sql.types.LongType)
    assert(got.count() === 200L)
    assert(got.filter(col("offset") < 50 &&
      (col("score") =!= col("offset") || col("license").isNotNull)).isEmpty,
      "rows written before the widening read their int score as long, license null")
    assert(got.filter(col("offset") >= 50 &&
      (col("score") =!= col("offset") * 1000000000L || col("license") =!= "mit")).isEmpty)
    assert(j.readFrom(Map(0 -> 9L, 1 -> 9L)).count() === 180L)
  }

  test("a long column widened to double reads whole, across appends and a truncate") {
    // each file is read under the schema version it was written with, then
    // cast: parquet cannot read INT64 as double, so a single-schema read fails
    val j = new ChangeJournal(SparkTestSession.tempDir("jdouble"), spark, 4096)
    val changes = ChangeGen.changes(spark, 300, nKeys = 40, partitions = 2)
    def slice(lo: Long) = changes.filter(col("offset") >= lo && col("offset") < lo + 50)
    val asLong = col("offset") * 3L
    val asDouble = col("offset") + 0.5
    // per partition: 3 × (0..49), (50..99) + 0.5, 3 × (100..149)
    val (s0, s1, s2) = (3.0 * (0 until 50).sum, (50 until 100).map(_ + 0.5).sum,
      3.0 * (100 until 150).sum)
    def sumOf(df: org.apache.spark.sql.DataFrame): Double =
      df.agg(sum("score")).collect()(0).getDouble(0)
    j.append(slice(0).withColumn("score", asLong), 0L)
    j.append(slice(50).withColumn("score", asDouble), 1L)
    assert(j.read().schema("score").dataType === org.apache.spark.sql.types.DoubleType)
    assert(j.read().count() === 200L)
    assert(sumOf(j.read()) === 2 * (s0 + s1))
    // a long score again: stored under the current, double, version
    j.append(slice(100).withColumn("score", asLong), 2L)
    assert(sumOf(j.read()) === 2 * (s0 + s1 + s2))
    assert(sumOf(j.readFrom(Map(0 -> 49L, 1 -> 49L))) === 2 * (s1 + s2))
    assert(j.read().filter(col("offset") < 50 && col("score") =!= asLong).isEmpty)
    // every file written under the first version goes
    assert(j.truncate(Map(0 -> 49L, 1 -> 49L), graceMs = 0L) === 2)
    assert(j.read().count() === 200L)
    assert(sumOf(j.read()) === 2 * (s1 + s2))
  }

  test("a journal records its schema ladder only once its schema changes") {
    // while the schema never changes, manifests carry no earlier versions
    // and files no version id (the bytes of a one-version journal); after a
    // widening append only the files written since carry one
    import graft.lake.Json
    val root = SparkTestSession.tempDir("jladder")
    val j = new ChangeJournal(root, spark, 2048, checkpointEvery = 4)
    val changes = ChangeGen.changes(spark, 500, partitions = 2)
    def slice(b: Int) = changes.filter(col("offset") >= b * 50 && col("offset") < (b + 1) * 50)
    def manifest(v: Int) = Json.parse(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(root, f"manifest-$v%012d.json")), "UTF-8"))
    def files(v: Int) = Seq("files", "added").flatMap(k => Option(manifest(v).get(k)))
      .flatMap(_.elements().asScala)
    def ids(v: Int) = files(v).map(f => Option(f.get("schemaId")).map(_.asInt))
    j.append(slice(0), 0L)
    j.append(slice(1), 1L)
    Seq(0, 1).foreach { v =>
      assert(!manifest(v).has("earlierSchemas"), s"v$v")
      assert(files(v).size === 2 && ids(v).forall(_.isEmpty), s"v$v")
    }
    j.append(slice(2).withColumn("license", lit("mit")), 2L)
    j.append(slice(3).withColumn("license", lit("apache")), 3L)
    val ladder = manifest(2).get("earlierSchemas")
    assert(ladder.size === 1 && ladder.get(0).asText === manifest(1).get("schema").asText)
    assert(ids(2) === Seq(Some(1), Some(1)))
    assert(manifest(3).get("earlierSchemas") === ladder)
    val schema = manifest(3).get("schema")
    // the truncate carries the ladder over; its checkpoint at v4 lists every
    // live file, the second append's without an id
    assert(j.truncate(Map(0 -> 49L, 1 -> 49L), graceMs = 0L) === 2)
    assert(manifest(4).has("files") && manifest(4).get("earlierSchemas") === ladder &&
      manifest(4).get("schema") === schema)
    assert(ids(4).sorted === Seq(None, None, Some(1), Some(1), Some(1), Some(1)))
    val cold = new ChangeJournal(root, spark, 2048, checkpointEvery = 4)
    assert(cold.read().count() === 300L)
    assert(cold.read().filter(col("offset") < 100 && col("license").isNotNull).isEmpty)
    assert(cold.read().filter(col("offset") >= 100 && col("license").isNull).isEmpty)
  }

  test("payload columns named like engine internals round-trip") {
    // the bucketed write's directory copy and the chunk stats' columns
    // never overwrite a payload column
    val changes = ChangeGen.changes(spark, 300, nKeys = 40, partitions = 3)
    val batch = changes
      .withColumn("_p", (col("offset") % 7).cast("int"))
      .withColumn("chunk_id", lit(99))
      .withColumn("bytes_uncompressed", lit(77L))
      .withColumn("_b0", col("offset") * 2L)
    val j = new ChangeJournal(SparkTestSession.tempDir("jinternal"), spark, 2048)
    assert(j.append(batch, 0L) === 300L)
    val got = j.read().select(batch.columns.toSeq.map(col): _*)
    assert(got.exceptAll(batch).isEmpty && batch.exceptAll(got).isEmpty)
    // the manifest's chunks are the engine's: 2,048-byte chunks, not one
    // chunk 99 per partition
    assert(j.chunkIndex().count() > 3L)
  }

  test("the append write job is one Exchange on partition, one Sort, no Window") {
    // the chunk window feeds only the stats pass; the write is the gated
    // batch clustered one task per partition and sorted by offset
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.catalyst.expressions.Attribute
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.SortExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.window.WindowExec
    val changes = ChangeGen.changes(spark, 400, nKeys = 40, partitions = 3)
    val j = new ChangeJournal(SparkTestSession.tempDir("jplan"), spark, 2048)
    val frames = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    TableIO.planHook = (tag, df) => if (tag == "append") frames += df
    try {
      j.append(changes.filter(col("offset") < 60), 0L) // ungated
      j.append(changes, 1L) // gated
    } finally TableIO.planHook = (_, _) => ()
    assert(frames.size === 2)
    frames.foreach { df =>
      val plan = SparkTestSession.initialPlan(df)
      val shuffles = plan.collect { case e: ShuffleExchangeExec => e }
      assert(shuffles.size === 1, plan)
      shuffles.head.outputPartitioning match {
        case h: HashPartitioning =>
          assert(h.expressions.collect { case a: Attribute => a.name } === Seq("partition"), plan)
        case other => fail(s"expected a hash exchange, got $other\n$plan")
      }
      assert(plan.collect { case s: SortExec => s }.size === 1, plan)
      assert(plan.collect { case w: WindowExec => w }.isEmpty, plan)
    }
    assert(j.read().count() === 400L)
  }

  test("multi-append: offsets continue, journal holds the full log") {
    val root = SparkTestSession.tempDir("jmulti")
    val j = new ChangeJournal(root, spark, 2048)
    val changes = ChangeGen.changes(spark, 300, partitions = 3)
    val b0 = changes.filter(col("offset") < 50)
    val b1 = changes.filter(col("offset") >= 50)
    j.append(b0, 0L)
    val next = j.nextOffsets()
    next.foreach { case (_, o) => assert(o === 50L) }
    j.append(b1, 1L)
    assert(j.read().count() === 300L)
    // per-partition contents identical to the source log
    val src = changes.select("partition", "offset", "content").orderBy("partition", "offset")
    val got = j.read().select("partition", "offset", "content").orderBy("partition", "offset")
    assert(src.exceptAll(got).isEmpty && got.exceptAll(src).isEmpty)
  }

  test("append does not sweep staging; retention truncate reclaims past grace") {
    val root = SparkTestSession.tempDir("jsweep")
    val j = new ChangeJournal(root, spark, 4096)
    val changes = ChangeGen.changes(spark, 200, nKeys = 40, partitions = 2)
    // a crashed peer's abandoned staging (past the 7-day grace) and a live
    // peer's fresh in-flight one
    val stale = new java.io.File(root, "_staging/append-deadapp-7")
    val fresh = new java.io.File(root, "_staging/append-liveapp-8")
    assert(stale.mkdirs() && fresh.mkdirs())
    val staleFile = new java.io.File(stale, "part-crashed.parquet")
    assert(staleFile.createNewFile())
    val past = System.currentTimeMillis() - 8L * 24 * 3600 * 1000
    assert(staleFile.setLastModified(past) && stale.setLastModified(past))

    // the append hot path must not pay the sweep's listStatus
    // (CommitProtocolBench; it runs with the maintenance GC passes)
    j.append(changes, 0L)
    assert(stale.exists, "append must not sweep staging")
    assert(fresh.exists)

    j.truncate(Map(0 -> 0L, 1 -> 0L))
    assert(!stale.exists, "truncate reclaims abandoned staging past the grace window")
    assert(fresh.exists, "young staging survives the sweep (in-flight peer)")
  }
}
