package graft

import java.io.{BufferedReader, ByteArrayInputStream, InputStreamReader}
import java.util.zip.GZIPInputStream

import graft.sources.GzArchive
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Byte-level interop with the reference connector's block-gzip archive.
  *
  * Golden constants come from the reference's own system test
  * (system_test/run.py:214-221): 100 records of
  * `{"foo": "bar", "counter":N}` must produce index JSON exactly
  * `{"chunks":[{"byte_length_uncompressed":2890,"num_records":100,
  * "byte_length":275,"byte_offset":0,"first_record_offset":0}]}` and a
  * 275-byte data file that gunzips back to the newline-joined records.
  *
  * The chunked-write invariants port BlockGZIPFileWriterTest.java:59-160:
  * small threshold ⇒ ≥10 chunks; every chunk is independently readable as
  * its own gzip stream from (byte_offset, byte_length); chunks tile the
  * record and byte spaces exactly.
  */
class GzArchiveSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def localFs = FileSystem.get(new java.net.URI("file:///"), new Configuration())

  private def gunzipAll(bytes: Array[Byte]): Seq[String] = {
    val r = new BufferedReader(new InputStreamReader(
      new GZIPInputStream(new ByteArrayInputStream(bytes)), "UTF-8"))
    Iterator.continually(r.readLine()).takeWhile(_ != null).toSeq
  }

  /** the messages of `t` and its causes */
  private def messages(t: Throwable): Seq[String] =
    Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))

  private def readFileBytes(p: Path, off: Long, len: Int): Array[Byte] = {
    val in = localFs.open(p)
    val buf = new Array[Byte](len)
    in.readFully(off, buf)
    in.close()
    buf
  }

  test("golden bytes: the reference system test's 100-record file") {
    val dir = new Path(SparkTestSession.tempDir("gzgold"))
    val w = new GzArchive.BlockGzWriter(localFs, dir, "system-test-00000")
    val records = (0 until 100).map(i => s"""{"foo": "bar", "counter":$i}""")
    records.foreach(r => w.write((r + "\n").getBytes("UTF-8")))
    w.close()

    assert(w.dataFileName === "system-test-00000-000000000000.gz")
    assert(w.indexFileName === "system-test-00000-000000000000.index.json")

    // index JSON is byte-identical to the reference's golden string
    val idxBytes = readFileBytes(w.indexFilePath, 0,
      localFs.getFileStatus(w.indexFilePath).getLen.toInt)
    assert(new String(idxBytes, "UTF-8") ===
      """{"chunks":[{"byte_length_uncompressed":2890,"num_records":100,""" +
        """"byte_length":275,"byte_offset":0,"first_record_offset":0}]}""")

    // data file is exactly the golden compressed length and decodes back
    val st = localFs.getFileStatus(w.dataFilePath)
    assert(st.getLen === 275L)
    assert(gunzipAll(readFileBytes(w.dataFilePath, 0, 275)) === records)
  }

  test("filenames carry the first record offset, zero-padded to 12 digits") {
    val dir = new Path(SparkTestSession.tempDir("gznames"))
    val w = new GzArchive.BlockGzWriter(localFs, dir, "foo", firstRecordOffset = 123456L)
    assert(w.dataFileName === "foo-000000123456.gz")
    assert(w.indexFileName === "foo-000000123456.index.json")
    w.write("x\n".getBytes("UTF-8"))
    w.close()
  }

  test("chunked write: every chunk independently gunzips from its byte range") {
    val dir = new Path(SparkTestSession.tempDir("gzchunks"))
    val pad = "0123456789" * 20
    val w = new GzArchive.BlockGzWriter(localFs, dir, "write-test",
      firstRecordOffset = 987654321L, chunkThreshold = 1000L)
    val lines = (0 until 50).map(i => s"Record $i $pad")
    lines.foreach(l => w.write((l + "\n").getBytes("UTF-8")))
    assert(w.numRecords === 50L)
    assert(w.numChunks >= 10, "50 × ~210B at 1000B threshold must give ≥10 chunks")
    w.close()

    val idx = GzArchive.parseIndex(new String(readFileBytes(w.indexFilePath, 0,
      localFs.getFileStatus(w.indexFilePath).getLen.toInt), "UTF-8"))
    assert(idx.chunks.size === w.numChunks)

    var expectOffset = 987654321L
    var recordIdx = 0
    var totalBytes = 0L
    idx.chunks.foreach { c =>
      assert(c.firstRecordOffset === expectOffset)
      assert(c.byteLength > 0 && c.byteOffset >= 0)
      val got = gunzipAll(readFileBytes(w.dataFilePath, c.byteOffset, c.byteLength.toInt))
      assert(got.size.toLong === c.numRecords)
      got.foreach { line => assert(line === lines(recordIdx)); recordIdx += 1 }
      totalBytes += c.byteLength
      expectOffset = c.firstRecordOffset + c.numRecords
    }
    assert(recordIdx === 50)
    assert(totalBytes === localFs.getFileStatus(w.dataFilePath).getLen,
      "chunks must cover all bytes in the file")

    // and the whole file still reads as ONE valid gzip stream
    assert(gunzipAll(readFileBytes(w.dataFilePath, 0,
      localFs.getFileStatus(w.dataFilePath).getLen.toInt)) === lines)
  }

  test("header is its own leading gzip member; chunk 0 starts after it") {
    // port of the header-as-own-chunk behavior
    // (BlockGZIPFileWriter.java:142-150): readers that need the header know
    // exactly how many bytes to skip because chunk 0's byte_offset excludes it
    val dir = new Path(SparkTestSession.tempDir("gzheader"))
    val header = "format=text v1\n".getBytes("UTF-8")
    val w = new GzArchive.BlockGzWriter(localFs, dir, "hdr", 0L, 1000L, header)
    val lines = (0 until 5).map(i => s"rec $i")
    lines.foreach(l => w.write((l + "\n").getBytes("UTF-8")))
    w.close()

    val idx = GzArchive.parseIndex(new String(readFileBytes(w.indexFilePath, 0,
      localFs.getFileStatus(w.indexFilePath).getLen.toInt), "UTF-8"))
    val c0 = idx.chunks.head
    assert(c0.byteOffset > 0, "chunk 0 must start after the header member")
    // bytes [0, c0.byteOffset) are the header member, independently gunzippable
    assert(gunzipAll(readFileBytes(w.dataFilePath, 0, c0.byteOffset.toInt))
      === Seq("format=text v1"))
    // chunk 0 decodes the records from its recorded range
    assert(gunzipAll(readFileBytes(w.dataFilePath, c0.byteOffset, c0.byteLength.toInt))
      === lines)
    // and the whole file still reads as one stream: header + records
    val total = localFs.getFileStatus(w.dataFilePath).getLen.toInt
    assert(gunzipAll(readFileBytes(w.dataFilePath, 0, total))
      === ("format=text v1" +: lines))
  }

  test("distributed roundtrip with file roll + index-pruned resume") {
    import spark.implicits._
    val root = SparkTestSession.tempDir("gzdist")
    val df = (0 until 2).flatMap { p =>
      (0 until 120).map(i => (p, i.toLong * 7, s"p$p line $i"))
    }.toDF("partition", "k", "line")
    GzArchive.writeArchive(df, root, "t", "k",
      chunkThreshold = 256, recordsPerFile = 50)

    // file roll: 120 records / 50 per file = 3 files per partition, named by
    // their first archive offset
    val names = localFs.listStatus(new Path(root)).map(_.getPath.getName).sorted
    assert(names.count(_.endsWith(".gz")) === 6)
    assert(names.contains("t-00000-000000000000.gz"))
    assert(names.contains("t-00000-000000000050.gz"))
    assert(names.contains("t-00001-000000000100.gz"))

    val back = GzArchive.read(spark, root)
    assert(back.count() === 240L)
    val rows = back.orderBy("partition", "offset")
      .select("partition", "offset", "value").collect()
    rows.zipWithIndex.foreach { case (r, i) =>
      val (p, off) = (i / 120, i % 120)
      assert(r.getInt(0) === p)
      assert(r.getLong(1) === off.toLong)
      assert(r.getString(2) === s"p$p line $off") // sort key order = k = 7i
    }

    // resume: partition 0 from offset 100 (boundary chunk filtered after
    // decode), partition 1 from 29 (whole leading chunks pruned via index)
    val resumed = GzArchive.readFrom(spark, root, Map(0 -> 100L, 1 -> 29L))
    val byPart = resumed.groupBy("partition")
      .agg(count(lit(1)).as("n"), min("offset").as("first"))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(byPart(0) === ((19L, 101L)))
    assert(byPart(1) === ((90L, 30L)))

    // a fully caught-up partition reads nothing
    assert(GzArchive.readFrom(spark, root, Map(0 -> 119L, 1 -> 119L)).count() === 0L)
  }

  test("offset recovery from cursor: S3WriterTest's 12031+34 fixture") {
    // port of S3WriterTest.java:185-218 — cursor file names an index whose
    // last chunk starts at 12031 with 34 records; fetchOffsets must return
    // 12065. The fixture index (like the reference's) omits
    // byte_length_uncompressed — parseIndex must tolerate that.
    val root = new Path(SparkTestSession.tempDir("gzcursor"))
    val indexKey = "2024-06-01/bar-00000-000000010042.index.json"
    val fs = localFs
    def put(p: Path, s: String): Unit = {
      val out = fs.create(p, true); out.write(s.getBytes("UTF-8")); out.close()
    }
    put(new Path(root, GzArchive.cursorFileName("bar", 0)), indexKey)
    put(new Path(root, indexKey),
      """{"chunks":[""" +
        """{"first_record_offset":10042,"num_records":1000,"byte_offset":0,"byte_length":10000},""" +
        """{"first_record_offset":11042,"num_records":989,"byte_offset":10000,"byte_length":9890},""" +
        """{"first_record_offset":12031,"num_records":34,"byte_offset":19890,"byte_length":340}]}""")
    assert(GzArchive.fetchOffsets(spark, root.toString, "bar") === Map(0 -> 12065L))
    // an index carrying fields this engine never writes still parses
    assert(GzArchive.parseIndex("""{"chunks":[{"first_record_offset":5,"num_records":2,""" +
      """"byte_offset":0,"byte_length":9,"crc32":7}],"writer":"other"}""").nextOffset === 7L)
    // missing cursor = the 404 case: partition absent (caller starts at 0)
    assert(GzArchive.fetchOffsets(spark, root.toString, "other") === Map.empty)
  }

  test("date-prefixed bucket layout: listing recurses, cursors publish, orphans excluded") {
    import spark.implicits._
    val root = SparkTestSession.tempDir("gzbucket")
    val df = (0 until 2).flatMap { p =>
      (0 until 60).map(i => (p, i.toLong, s"p$p rec $i"))
    }.toDF("partition", "k", "line")
    GzArchive.writeArchive(df, root, "t", "k",
      chunkThreshold = 256, recordsPerFile = 25, datePrefix = "2024-06-01")

    // data/index nested under the prefix, cursors at the root
    val rootNames = localFs.listStatus(new Path(root)).map(_.getPath.getName).toSet
    assert(rootNames.contains("2024-06-01"))
    assert(rootNames.contains("last_chunk_index.t-00000.txt"))
    assert(rootNames.contains("last_chunk_index.t-00001.txt"))
    val day = localFs.listStatus(new Path(root, "2024-06-01")).map(_.getPath.getName)
    assert(day.count(_.endsWith(".gz")) === 6) // 60/25 -> files at 0,25,50 per partition
    assert(day.contains("t-00000-000000000050.gz"))

    // cursor names the NEWEST index, relative to the root
    val cur = new String(readFileBytes(new Path(root, "last_chunk_index.t-00000.txt"), 0,
      localFs.getFileStatus(new Path(root, "last_chunk_index.t-00000.txt")).getLen.toInt), "UTF-8")
    assert(cur === "2024-06-01/t-00000-000000000050.index.json")
    assert(GzArchive.fetchOffsets(spark, root, "t") === Map(0 -> 60L, 1 -> 60L))

    // the recursive full read sees everything under the prefix
    assert(GzArchive.read(spark, root).count() === 120L)

    // an orphan beyond the cursor (crash between upload and cursor write):
    // full read sees it, the cursor-trusted read must not
    val w = new GzArchive.BlockGzWriter(localFs, new Path(root, "2024-06-02"),
      "t-00000", firstRecordOffset = 60L, chunkThreshold = 256)
    (0 until 9).foreach(i => w.write(s"orphan $i\n".getBytes("UTF-8")))
    w.close()
    assert(GzArchive.read(spark, root).count() === 129L)
    val committed = GzArchive.readCommitted(spark, root, "t")
    assert(committed.count() === 120L)
    assert(committed.agg(max(col("offset"))).collect()(0).getLong(0) === 59L)
  }

  test("resume-append: startOffsets from the cursor continues the bucket") {
    import spark.implicits._
    val root = SparkTestSession.tempDir("gzappend")
    val first = (0 until 10).map(i => (0, i.toLong, s"first $i")).toDF("partition", "k", "line")
    GzArchive.writeArchive(first, root, "t", "k", chunkThreshold = 256)
    val next = GzArchive.fetchOffsets(spark, root, "t")
    assert(next === Map(0 -> 10L))
    val more = (0 until 5).map(i => (0, i.toLong, s"more $i")).toDF("partition", "k", "line")
    GzArchive.writeArchive(more, root, "t", "k", chunkThreshold = 256,
      startOffsets = next)
    // second batch landed as its own file named by its first offset
    val names = localFs.listStatus(new Path(root)).map(_.getPath.getName)
    assert(names.contains("t-00000-000000000010.gz"))
    val back = GzArchive.read(spark, root).orderBy("offset").collect()
    assert(back.length === 15)
    assert(back.map(_.getLong(2)).toSeq === (0L until 15L))
    assert(back(12).getString(3) === "more 2")
    assert(GzArchive.fetchOffsets(spark, root, "t") === Map(0 -> 15L))
  }

  test("parallel per-file write is byte-identical to a serial writer") {
    import spark.implicits._
    val root = SparkTestSession.tempDir("gzbyteeq")
    val lines = (0 until 120).map(i => s"record $i " + ("x" * (i % 37)))
    val df = lines.zipWithIndex.map { case (l, i) => (0, i.toLong, l) }
      .toDF("partition", "k", "line")
    GzArchive.writeArchive(df, root, "t", "k", chunkThreshold = 300, recordsPerFile = 50)

    // serial expectation: one BlockGzWriter per 50-record slice
    val expDir = new Path(SparkTestSession.tempDir("gzbyteeq-exp"))
    Seq(0, 50, 100).foreach { first =>
      val w = new GzArchive.BlockGzWriter(localFs, expDir, "t-00000",
        firstRecordOffset = first.toLong, chunkThreshold = 300)
      lines.slice(first, first + 50).foreach(l => w.write((l + "\n").getBytes("UTF-8")))
      w.close()
    }
    def bytes(dir: Path, name: String): Seq[Byte] = {
      val len = localFs.getFileStatus(new Path(dir, name)).getLen.toInt
      readFileBytes(new Path(dir, name), 0, len).toSeq
    }
    localFs.listStatus(expDir).map(_.getPath.getName).foreach { name =>
      assert(bytes(new Path(root), name) === bytes(expDir, name),
        s"$name must be byte-identical between parallel and serial writers")
    }
  }

  test("header-bearing archive round-trips through the distributed read") {
    import spark.implicits._
    val root = SparkTestSession.tempDir("gzhdrdist")
    val df = (0 until 30).map(i => (0, i.toLong, s"rec $i")).toDF("partition", "k", "line")
    GzArchive.writeArchive(df, root, "t", "k", chunkThreshold = 64,
      recordsPerFile = 10, header = "format=text v1\n".getBytes("UTF-8"))
    // records decode cleanly (header member never surfaces as a record)
    val back = GzArchive.read(spark, root).orderBy("offset").collect()
    assert(back.length === 30)
    assert(back.map(_.getString(3)).toSeq === (0 until 30).map(i => s"rec $i"))
    // and the header is available for init-required formats
    val withH = GzArchive.readWithHeader(spark, root).collect()
    assert(withH.forall(_.getString(4) === "format=text v1\n"))
  }

  test("format trailer bytes round-trip without surfacing as records") {
    import spark.implicits._
    // the reference writes `format.finish` through the record path with
    // recordCount 0 (S3SinkTask.java:213-215): trailer bytes share the last
    // chunk's byte space but not its record count
    val root = SparkTestSession.tempDir("gztrailer")
    val df = (0 until 30).map(i => (0, i.toLong, s"rec $i")).toDF("partition", "k", "line")
    GzArchive.writeArchive(df, root, "t", "k", chunkThreshold = 64,
      recordsPerFile = 10, trailer = "TRAILER v1\n".getBytes("UTF-8"))
    val back = GzArchive.read(spark, root).orderBy("offset").collect()
    assert(back.length === 30, "trailer must not surface as records")
    assert(back.map(_.getString(3)).toSeq === (0 until 30).map(i => s"rec $i"))
    // trailer is FILE metadata (the finish hook), surfaced by fileMeta
    val meta = GzArchive.fileMeta(spark, root).collect()
    assert(meta.length === 3) // 30 records / 10 per file
    assert(meta.forall(_.getString(6) === "TRAILER v1\n"))
    assert(meta.forall(_.getString(5) === "")) // no header in this archive

    // an oversized trailer rolls into its own ZERO-RECORD chunk (same as
    // the reference's rollover arithmetic), never surfaces as records, and
    // fileMeta still recovers it — per-record reads cannot (no row exists
    // in a zero-record chunk to carry it)
    val root2 = new Path(SparkTestSession.tempDir("gztrailer2"))
    val w = new GzArchive.BlockGzWriter(localFs, root2, "t-00000",
      firstRecordOffset = 0L, chunkThreshold = 20L)
    (0 until 3).foreach(i => w.write(s"record $i\n".getBytes("UTF-8")))
    w.writeRaw("A TRAILER LONGER THAN THE THRESHOLD\n".getBytes("UTF-8"), 0L)
    w.close()
    assert(w.index.chunks.last.numRecords === 0L, "trailer-only chunk")
    val back2 = GzArchive.read(spark, root2.toString).orderBy("offset").collect()
    assert(back2.map(_.getString(3)).toSeq === (0 until 3).map(i => s"record $i"))
    val meta2 = GzArchive.fileMeta(spark, root2.toString).collect()
    assert(meta2.length === 1)
    assert(meta2.head.getString(6) === "A TRAILER LONGER THAN THE THRESHOLD\n")
  }

  test("reads a reference-written header file (chunk-0 offset off by 10)") {
    import spark.implicits._
    // Emulate BlockGZIPFileWriter.java:147-149: data bytes identical to
    // ours, but the index records chunk 0's byte_offset 10 bytes INSIDE
    // member 1 (and byte_length 10 short) because the reference reads the
    // counting stream AFTER constructing the next GZIPOutputStream.
    val root = SparkTestSession.tempDir("gzrefbug")
    val dir = new Path(root)
    val w = new GzArchive.BlockGzWriter(localFs, dir, "t-00000", 0L, 1000L,
      header = "HDR\n".getBytes("UTF-8"))
    val lines = (0 until 8).map(i => s"line $i")
    lines.foreach(l => w.write((l + "\n").getBytes("UTF-8")))
    w.close()
    val idxPath = new Path(dir, "t-00000-000000000000.index.json")
    val idx = GzArchive.parseIndex(new String(readFileBytes(idxPath, 0,
      localFs.getFileStatus(idxPath).getLen.toInt), "UTF-8"))
    val skewed = idx.copy(chunks = idx.chunks.zipWithIndex.map {
      case (c, 0) => c.copy(byteOffset = c.byteOffset + 10, byteLength = c.byteLength - 10)
      case (c, _) => c
    })
    val out = localFs.create(idxPath, true)
    out.write(GzArchive.indexJson(skewed).getBytes("UTF-8"))
    out.close()

    val back = GzArchive.read(spark, root).orderBy("offset").collect()
    assert(back.map(_.getString(3)).toSeq === lines)
    // header replay also tolerates the over-long recorded header region
    val withH = GzArchive.readWithHeader(spark, root).collect()
    assert(withH.forall(_.getString(4) === "HDR\n"))
  }

  test("a chunk past the 2 GiB buffer bound fails loudly, not with overflow") {
    import spark.implicits._
    val root = SparkTestSession.tempDir("gzhuge")
    val df = Seq((0, 0L, "tiny")).toDF("partition", "k", "line")
    GzArchive.writeArchive(df, root, "t", "k")
    val idxPath = new Path(root, "t-00000-000000000000.index.json")
    val idx = GzArchive.parseIndex(new String(readFileBytes(idxPath, 0,
      localFs.getFileStatus(idxPath).getLen.toInt), "UTF-8"))
    val huge = idx.copy(chunks = idx.chunks.map(
      _.copy(byteLength = Int.MaxValue.toLong + 1)))
    val out = localFs.create(idxPath, true)
    out.write(GzArchive.indexJson(huge).getBytes("UTF-8"))
    out.close()
    val e = intercept[Exception] { GzArchive.read(spark, root).count() }
    assert(messages(e).exists(_.contains("2 GiB")))
  }

  test("property: distributed roundtrip across sizes, thresholds, file rolls") {
    // ScalaCheck over the whole write→read cycle: arbitrary record counts,
    // chunk thresholds and file-roll sizes must reproduce the input exactly
    // with dense per-partition offsets — the distributed-level analogue of
    // the ported BlockGZIPFileWriterTest tiling invariants
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import spark.implicits._
    val gen = for {
      n <- Gen.choose(1, 150)
      parts <- Gen.choose(1, 3)
      threshold <- Gen.choose(32L, 2048L)
      perFile <- Gen.oneOf(Gen.choose(7L, 60L), Gen.const(Long.MaxValue))
    } yield (n, parts, threshold, perFile)
    var i = 0
    val prop = Prop.forAllNoShrink(gen) { case (n, parts, threshold, perFile) =>
      i += 1
      val root = SparkTestSession.tempDir(s"gzprop$i")
      val df = (0 until parts).flatMap { p =>
        (0 until n).map(r => (p, r.toLong, s"p$p r$r " + ("y" * (r % 23))))
      }.toDF("partition", "k", "line")
      GzArchive.writeArchive(df, root, "t", "k",
        chunkThreshold = threshold, recordsPerFile = perFile)
      val back = GzArchive.read(spark, root)
        .orderBy("partition", "offset").collect()
      back.length == parts * n &&
        back.zipWithIndex.forall { case (row, idx) =>
          val (p, off) = (idx / n, idx % n)
          row.getInt(1) == p && row.getLong(2) == off.toLong &&
            row.getString(3) == s"p$p r$off " + ("y" * (off % 23))
        } &&
        GzArchive.fetchOffsets(spark, root, "t") ==
          (0 until parts).map(_ -> n.toLong).toMap
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(5), prop)
    assert(res.passed, res.status.toString)
  }

  test("surplus lines in a NON-last chunk fail loudly (only trailers may trail)") {
    // trailer bytes legitimately follow the last chunk's records; the same
    // surplus anywhere else means corruption (e.g. an embedded line
    // terminator shifting offsets) and must never be silently skipped
    val root = SparkTestSession.tempDir("gzcorrupt")
    val dir = new Path(root)
    val w = new GzArchive.BlockGzWriter(localFs, dir, "t-00000", 0L, 64L)
    (0 until 12).foreach(i => w.write(s"record number $i\n".getBytes("UTF-8")))
    w.close()
    assert(w.numChunks >= 2, "fixture needs a non-last chunk")
    // simulate the corruption: claim chunk 0 holds one record fewer than
    // its bytes decode to
    val idxPath = new Path(dir, "t-00000-000000000000.index.json")
    val idx = GzArchive.parseIndex(new String(readFileBytes(idxPath, 0,
      localFs.getFileStatus(idxPath).getLen.toInt), "UTF-8"))
    val skewed = idx.copy(chunks = idx.chunks.zipWithIndex.map {
      case (c, 0) => c.copy(numRecords = c.numRecords - 1)
      case (c, _) => c
    })
    val out = localFs.create(idxPath, true)
    out.write(GzArchive.indexJson(skewed).getBytes("UTF-8"))
    out.close()
    val e = intercept[Exception] { GzArchive.read(spark, root).count() }
    assert(messages(e).exists(_.contains("surplus")))
  }

  test("a text record holding a line terminator fails the write; nothing is published") {
    // the reader splits lines on \n, \r and \r\n, so such a record would be
    // stored as two lines and read back with every later offset shifted
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    val root = SparkTestSession.tempDir("gzterminator")
    GzArchive.writeArchive((0 until 3).map(i => (0, i.toLong, s"rec $i"))
      .toDF("partition", "k", "line"), root, "t", "k")
    def published(): Set[String] = {
      val base = java.nio.file.Paths.get(root)
      val s = java.nio.file.Files.walk(base)
      try s.iterator().asScala.map(base.relativize(_).toString)
        .filterNot(r => r.isEmpty || r.startsWith(".")).toSet
      finally s.close()
    }
    val before = published()
    def committed() = GzArchive.readCommitted(spark, root, "t")
      .select(col("offset"), col("value")).collect().map(r => (r.getLong(0), r.getString(1)))
      .toSeq.sortBy(_._1)
    val want = (0 until 3).map(i => (i.toLong, s"rec $i"))
    assert(committed() === want)
    Seq("x\ny", "last\r").foreach { bad =>
      val e = intercept[Exception] {
        GzArchive.writeArchive(Seq((0, 3L, "first"), (0, 4L, bad), (0, 5L, "last"))
          .toDF("partition", "k", "line"), root, "t", "k", startOffsets = Map(0 -> 3L))
      }
      assert(messages(e).exists(_.contains("line terminator")), e)
      assert(published() === before, "no data file, index or cursor is published")
      assert(committed() === want)
      assert(GzArchive.fetchOffsets(spark, root, "t") === Map(0 -> 3L))
    }
  }

  test("binary container round-trips arbitrary bytes; index-pruned resume") {
    import spark.implicits._
    // the binary format's whole point: records may contain line
    // terminators, tabs, zero bytes — everything the text container guards
    // against (ByteLengthFormatTest's tabs/newlines case at container level)
    val root = SparkTestSession.tempDir("gzbin")
    val mk = (p: Int, i: Int) =>
      (p, i.toLong, s"k$p-$i".getBytes("UTF-8"),
        s"v\t$i\nwith\rterminators $i".getBytes("UTF-8"))
    val df = (0 until 2).flatMap(p => (0 until 80).map(i => mk(p, i)))
      .toDF("partition", "k", "key", "value")
    GzArchive.writeArchiveBinary(df, root, "t", "k",
      chunkThreshold = 512, recordsPerFile = 30)

    // files roll at 30 records, cursors publish
    assert(GzArchive.fetchOffsets(spark, root, "t") === Map(0 -> 80L, 1 -> 80L))
    val back = GzArchive.readBinary(spark, root)
      .orderBy("partition", "offset").collect()
    assert(back.length === 160)
    back.zipWithIndex.foreach { case (r, idx) =>
      val (p, i) = (idx / 80, idx % 80)
      assert(r.getInt(1) === p)
      assert(r.getLong(2) === i.toLong)
      assert(new String(r.getAs[Array[Byte]](3), "UTF-8") === s"k$p-$i")
      assert(r.getAs[Array[Byte]](4).toSeq === mk(p, i)._4.toSeq,
        "value bytes incl. terminators must round-trip exactly")
    }

    // resume prunes whole chunks via the index, filters the boundary chunk
    val resumed = GzArchive.readBinaryFrom(spark, root, Map(0 -> 70L, 1 -> 9L))
    val byPart = resumed.groupBy("partition")
      .agg(count(lit(1)).as("n"), min("offset").as("first"))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(byPart(0) === ((9L, 71L)))
    assert(byPart(1) === ((70L, 10L)))
  }

  test("empty input writes no files and publishes no cursors") {
    import spark.implicits._
    val root = SparkTestSession.tempDir("gzemptyin") + "/arch"
    val df = Seq.empty[(Int, Long, String)].toDF("partition", "k", "line")
    GzArchive.writeArchive(df, root, "t", "k")
    assert(GzArchive.read(spark, root).count() === 0L)
    assert(GzArchive.fetchOffsets(spark, root, "t") === Map.empty)
  }

  test("multi-topic bucket: one job, two topics' file families, topic-set reads") {
    // the reference's source reads topic SETS per task out of one bucket
    // (S3SourceTask.java:82-94; topic filter S3FilesReader.java:82-105):
    // one writeArchiveTopics job must produce, per topic, exactly the file
    // family writeArchive alone would have, with per-(topic,partition)
    // cursors and offsets
    import spark.implicits._
    val root = SparkTestSession.tempDir("gzmulti")
    val df = (for {
      t <- Seq("alpha", "beta")
      p <- 0 until 2
      i <- 0 until (if (t == "alpha") 60 else 35)
    } yield (t, p, i.toLong, s"$t p$p rec $i")).toDF("topic", "partition", "k", "line")
    GzArchive.writeArchiveTopics(df, root, "k",
      chunkThreshold = 256, recordsPerFile = 25)

    val names = localFs.listStatus(new Path(root)).map(_.getPath.getName).toSet
    // alpha: 60/25 -> files at 0,25,50; beta: 35/25 -> files at 0,25
    assert(names.contains("alpha-00000-000000000050.gz"))
    assert(names.contains("beta-00001-000000000025.gz"))
    assert(!names.contains("beta-00000-000000000050.gz"))
    assert(names.contains("last_chunk_index.alpha-00001.txt"))
    assert(names.contains("last_chunk_index.beta-00000.txt"))

    // per-(topic, partition) next offsets; the single-topic view matches
    assert(GzArchive.fetchOffsetsTopics(spark, root) === Map(
      ("alpha", 0) -> 60L, ("alpha", 1) -> 60L,
      ("beta", 0) -> 35L, ("beta", 1) -> 35L))
    assert(GzArchive.fetchOffsets(spark, root, "beta") === Map(0 -> 35L, 1 -> 35L))

    // topic-set reads: all topics, a subset, one topic
    assert(GzArchive.readCommittedTopics(spark, root).count() === 190L)
    val alphaOnly = GzArchive.readCommittedTopics(spark, root, Set("alpha"))
    assert(alphaOnly.select("topic").distinct().collect().map(_.getString(0)).toSeq === Seq("alpha"))
    assert(alphaOnly.count() === 120L)
    val betaRows = GzArchive.readCommitted(spark, root, "beta")
      .orderBy("partition", "offset").collect()
    assert(betaRows.length === 70)
    assert(betaRows(36).getString(3) === "beta p1 rec 1") // offset order = k

    // interop: each topic's files are byte-identical to a single-topic
    // writeArchive of the same records into its own bucket
    val soloRoot = SparkTestSession.tempDir("gzmulti-solo")
    GzArchive.writeArchive(
      df.filter($"topic" === "beta").drop("topic"), soloRoot, "beta", "k",
      chunkThreshold = 256, recordsPerFile = 25)
    localFs.listStatus(new Path(soloRoot)).map(_.getPath.getName)
      .filter(n => n.endsWith(".gz") || n.endsWith(".index.json")).foreach { n =>
        val a = readFileBytes(new Path(root, n), 0,
          localFs.getFileStatus(new Path(root, n)).getLen.toInt)
        val b = readFileBytes(new Path(soloRoot, n), 0,
          localFs.getFileStatus(new Path(soloRoot, n)).getLen.toInt)
        assert(java.util.Arrays.equals(a, b), s"$n differs from single-topic write")
      }

    // an orphan in ONE topic (crash between upload and cursor) is excluded
    // from that topic's committed read, invisible to the other's
    val w = new GzArchive.BlockGzWriter(localFs, new Path(root),
      "beta-00000", firstRecordOffset = 35L, chunkThreshold = 256)
    (0 until 5).foreach(i => w.write(s"orphan $i\n".getBytes("UTF-8")))
    w.close()
    assert(GzArchive.readCommittedTopics(spark, root).count() === 190L)

    // resume-append with (topic, partition)-keyed startOffsets
    val more = Seq(("beta", 1, 0L, "beta more 0"), ("beta", 1, 1L, "beta more 1"))
      .toDF("topic", "partition", "k", "line")
    GzArchive.writeArchiveTopics(more, root, "k", chunkThreshold = 256,
      startOffsets = GzArchive.fetchOffsetsTopics(spark, root))
    assert(GzArchive.fetchOffsetsTopics(spark, root, Set("beta")) === Map(
      ("beta", 0) -> 35L, ("beta", 1) -> 37L))
    val resumed = GzArchive.readCommitted(spark, root, "beta")
      .filter($"partition" === 1).orderBy("offset").collect()
    assert(resumed.length === 37)
    assert(resumed.last.getString(3) === "beta more 1")

    // (topic, partition)-keyed resume: floors prune per topic independently;
    // un-floored (topic, partition)s replay fully
    val fromTopics = GzArchive.readFromTopics(spark, root, Map(
      ("alpha", 0) -> 49L, ("alpha", 1) -> 59L, ("beta", 0) -> 34L))
      .groupBy("topic", "partition")
      .agg(count(lit(1)).as("n"), min("offset").as("first"))
      .collect().map(r => (r.getString(0), r.getInt(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    assert(fromTopics(("alpha", 0)) === ((10L, 50L)))
    assert(fromTopics.get(("alpha", 1)).isEmpty)     // fully caught up
    // index-based resume (unlike readCommitted) also sees the orphan file's
    // 5 records at 35..39; the committed family (0..34) is below the floor
    assert(fromTopics(("beta", 0)) === ((5L, 35L)))
    assert(fromTopics(("beta", 1)) === ((37L, 0L)))  // no floor: full replay
  }

  test("truncated gzip raises; only a bare trailing member header is tolerated") {
    // gunzipTolerant exists for ONE case — a reference-written header
    // region that ends with a bare 10-byte member header (the off-by-10).
    // Any other truncation is corruption and must be loud, not a silent
    // partial decode.
    val member = {
      val bos = new java.io.ByteArrayOutputStream()
      val gz = new java.util.zip.GZIPOutputStream(bos)
      gz.write("hello archive".getBytes("UTF-8")); gz.close()
      bos.toByteArray
    }
    val bareHeader = {
      val bos = new java.io.ByteArrayOutputStream()
      new java.util.zip.GZIPOutputStream(bos) // header bytes flush on construct
      bos.toByteArray.take(10)
    }
    // tolerated: complete member + bare trailing member header
    assert(new String(GzArchive.gunzipTolerant(member ++ bareHeader), "UTF-8")
      === "hello archive")
    // corrupt: member cut mid-deflate
    intercept[java.io.IOException] {
      GzArchive.gunzipTolerant(member.dropRight(15))
    }
    // corrupt: member cut mid-trailer (CRC/ISIZE incomplete)
    intercept[java.io.IOException] {
      GzArchive.gunzipTolerant(member.dropRight(5))
    }
    // (a truncated trailing NEXT-member header — member ++ bareHeader.take(6)
    // — is swallowed by the JDK itself as clean EOF before any exception we
    // could classify; benign, since every complete member decoded fully)
  }

  test("write tasks split 8 partitions evenly: 2 per task at 4 shuffle partitions") {
    // the reference runs one writer per TopicPartition. A hash exchange on
    // (topic, partition) put 3/2/2/1 of these 8 on the 4 tasks, and AQE
    // coalesced a small write's buckets into a single task.
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    assert(spark.conf.get("spark.sql.shuffle.partitions") === "4")
    val df = (0 until 800).map(i => (i % 8, (i / 8).toLong, s"record $i"))
      .toDF("partition", "offset", "line")
    Seq("true", "false").foreach { coalesce =>
      val root = SparkTestSession.tempDir("gzbalance")
      RecordsCreates.created.clear()
      val keys = Seq("fs.file.impl" -> classOf[RecordingLocalFileSystem].getName,
        "fs.file.impl.disable.cache" -> "true",
        "spark.sql.adaptive.coalescePartitions.enabled" -> coalesce)
      keys.foreach { case (k, v) => spark.conf.set(k, v) }
      try GzArchive.writeArchive(df, root, "events", "offset", recordsPerFile = 40)
      finally keys.foreach { case (k, _) => spark.conf.unset(k) }

      val Staged = (java.util.regex.Pattern.quote(root) +
        """/\.inprogress/job-[^/]+/attempt-(\d+)/events-(\d{5})-\d{12}\.gz""").r
      val partitionsByTask = RecordsCreates.created.asScala.toSeq
        .collect { case Staged(attempt, p) => attempt -> p.toInt }
        .groupBy(_._1).map { case (_, ps) => ps.map(_._2).toSet }
      assert(partitionsByTask.toSeq.map(_.size).sorted === Seq(2, 2, 2, 2),
        s"coalesce=$coalesce: $partitionsByTask")
      assert(partitionsByTask.flatten.toSet === (0 until 8).toSet)
      assert(GzArchive.fetchOffsets(spark, root, "events") ===
        (0 until 8).map(_ -> 100L).toMap)
    }
  }

  test("the archive write frame is one by-id Exchange and one Sort") {
    import org.apache.spark.sql.catalyst.plans.physical.ShufflePartitionIdPassThrough
    import org.apache.spark.sql.execution.SortExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.{Exchange, ShuffleExchangeExec}
    val payload = spark.range(200).select(lit("events").as("topic"),
      (col("id") % 8).cast("int").as("partition"), col("id").as("_sort"),
      encode(col("id").cast("string"), "UTF-8").as("payload"))
    // with start offsets the only other exchange is their broadcast
    Seq(Map.empty[(String, Int), Long], Map(("events", 3) -> 40L)).foreach { starts =>
      val plan = GzArchive.archiveWriteFrame(payload, 10L, starts)
        .queryExecution.executedPlan match {
          case a: AdaptiveSparkPlanExec => a.initialPlan
          case p => p
        }
      val exchanges = plan.collect { case e: Exchange => e.getClass.getSimpleName }
      assert(exchanges.sorted === (if (starts.isEmpty) Seq("ShuffleExchangeExec")
        else Seq("BroadcastExchangeExec", "ShuffleExchangeExec")), plan)
      assert(plan.collect { case e: ShuffleExchangeExec => e.outputPartitioning }
        .forall(_.isInstanceOf[ShufflePartitionIdPassThrough]), plan)
      assert(plan.collect { case s: SortExec => s }.size === 1, plan)
    }
  }

  test("archive reads run as one exchange-free, sort-free stage") {
    // the task rows are a local scan that Spark already slices over
    // defaultParallelism partitions: a repartition on top only adds a
    // shuffle stage
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.SortExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.Exchange
    import spark.implicits._
    val text = SparkTestSession.tempDir("gzplan-text")
    GzArchive.writeArchive((0 until 40).map(i => (i % 2, i.toLong, s"rec $i"))
      .toDF("partition", "k", "line"), text, "t", "k", chunkThreshold = 64,
      header = "H\n".getBytes("UTF-8"), trailer = "T\n".getBytes("UTF-8"))
    val bin = SparkTestSession.tempDir("gzplan-bin")
    GzArchive.writeArchiveBinary((0 until 40).map(i =>
      (i % 2, i.toLong, Array(i.toByte), Array.fill(3)(i.toByte)))
      .toDF("partition", "k", "key", "value"), bin, "t", "k", chunkThreshold = 64)
    val frames: Seq[(String, DataFrame, Long)] = Seq(
      ("read", GzArchive.read(spark, text), 40L),
      ("readWithHeader", GzArchive.readWithHeader(spark, text), 40L),
      ("readBinary", GzArchive.readBinary(spark, bin), 40L),
      ("fileMeta", GzArchive.fileMeta(spark, text), 2L))
    frames.foreach { case (name, df, rows) =>
      val plan = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.initialPlan
        case p => p
      }
      assert(plan.collect { case e: Exchange => e }.isEmpty, s"$name:\n$plan")
      assert(plan.collect { case s: SortExec => s }.isEmpty, s"$name:\n$plan")
      assert(df.count() === rows, name)
    }
  }

  test("a never-written root reads as empty") {
    val root = SparkTestSession.tempDir("gznever") + "/never/written"
    assert(GzArchive.read(spark, root).count() === 0L)
    assert(GzArchive.readCommitted(spark, root, "t").count() === 0L)
    assert(GzArchive.fetchOffsets(spark, root, "t") === Map.empty)
    assert(!new java.io.File(root).exists())
  }

  test("executor tasks see the session's Hadoop configuration") {
    // the regression this guards: executor-side `new Configuration()` drops
    // session settings (S3A credentials, endpoints) — archive tasks must
    // carry the driver's conf via Spark's SerializableConfiguration
    import spark.implicits._
    spark.sparkContext.hadoopConfiguration.set("graft.test.key", "carried")
    try {
      val bc = spark.sparkContext.broadcast(new org.apache.spark.util.SerializableConfiguration(
        spark.sparkContext.hadoopConfiguration))
      val seen = spark.range(4).mapPartitions { _ =>
        Iterator(Option(bc.value.value.get("graft.test.key")).getOrElse("MISSING"))
      }.collect().toSet
      assert(seen === Set("carried"))
    } finally spark.sparkContext.hadoopConfiguration.unset("graft.test.key")
  }

  test("input filter seam: identity archive reads via the same index/cursor protocol") {
    // the reference reader's InputFilter (S3FilesReader.java:333-337, GUNZIP
    // merely the default): an UNCOMPRESSED archive written by another tool
    // under the same index/cursor protocol reads through the identical
    // chunk-parallel machinery with IdentityFilter — and the gzip default
    // rejects its non-gzip bytes loudly, never as garbage records
    import java.nio.file.{Files, Paths}
    import graft.sources.GzArchive.{Chunk, Index, IdentityFilter}
    val root = SparkTestSession.tempDir("gzident")
    val topic = "plain"
    val chunk0 = "r0\nr1\nr2\n".getBytes("UTF-8")
    val chunk1 = "r3\nr4\n".getBytes("UTF-8")
    val baseName = f"$topic-${0}%05d-${0L}%012d"
    Files.write(Paths.get(root, s"$baseName.gz"), chunk0 ++ chunk1): Unit
    val idx = Index(Seq(
      Chunk(0L, 3L, 0L, chunk0.length.toLong, chunk0.length.toLong),
      Chunk(3L, 2L, chunk0.length.toLong, chunk1.length.toLong, chunk1.length.toLong)))
    Files.writeString(Paths.get(root, s"$baseName.index.json"),
      GzArchive.indexJson(idx)): Unit
    Files.writeString(Paths.get(root, GzArchive.cursorFileName(topic, 0)),
      s"$baseName.index.json"): Unit

    val got = GzArchive.read(spark, root, IdentityFilter)
      .orderBy("offset").collect()
      .map(r => (r.getAs[Long]("offset"), r.getAs[String]("value")))
    assert(got.toSeq === Seq(0L -> "r0", 1L -> "r1", 2L -> "r2",
      3L -> "r3", 4L -> "r4"))

    // ranged resume prunes whole chunks from the index alone, same as gzip
    val resumed = GzArchive.readFrom(spark, root, Map(0 -> 2L), IdentityFilter)
      .orderBy("offset").collect().map(_.getAs[Long]("offset"))
    assert(resumed.toSeq === Seq(3L, 4L))

    // the metadata layer (cursor → index → next offset) is filter-agnostic
    assert(GzArchive.fetchOffsets(spark, root, topic) === Map(0 -> 5L))
    assert(GzArchive.readCommitted(spark, root, topic, IdentityFilter)
      .count() === 5L)

    // config-driven resolution, the reference's props shape
    assert(GzArchive.readCommittedTopics(spark, root, Set(topic),
      Map("input.filter" -> "none")).count() === 5L)
    val e = intercept[IllegalArgumentException](
      GzArchive.inputFilter(Map("input.filter" -> "java.lang.String")))
    assert(e.getMessage.contains("does not implement"))

    // default gzip filter on non-gzip bytes: loud frame rejection
    val loud = intercept[Throwable](GzArchive.read(spark, root).collect())
    assert(loud.getMessage != null)
  }

  test("a staged file missing at its publish fails the write, never taking an older job's file") {
    import spark.implicits._
    val root = SparkTestSession.tempDir("gzmissing")
    val df = (0 until 20).map(i => (0, i.toLong, s"rec $i")).toDF("partition", "k", "line")
    GzArchive.writeArchive(df, root, "t", "k", chunkThreshold = 256)
    val cursor = new java.io.File(root, GzArchive.cursorFileName("t", 0))
    val cursorBefore = java.nio.file.Files.readString(cursor.toPath)
    // the same input again: every destination name already holds the
    // earlier job's file, so a retry's "source gone and destination
    // present" shortcut would take it as published
    val promotes = new java.util.concurrent.atomic.AtomicInteger(0)
    graft.lake.TableIO.faultHook = { tag =>
      if (tag == "promote" && promotes.getAndIncrement() == 0)
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root, ".inprogress"))
    }
    val e = try intercept[IllegalStateException] {
      GzArchive.writeArchive(df, root, "t", "k", chunkThreshold = 256)
    } finally graft.lake.TableIO.faultHook = _ => ()
    assert(e.getMessage.contains("missing at its publish"), e.getMessage)
    assert(promotes.get() === 1, "a missing source is not retried")
    assert(java.nio.file.Files.readString(cursor.toPath) === cursorBefore)
    assert(GzArchive.readCommitted(spark, root, "t").count() === 20L)
  }

  test("the next write reclaims stale job dirs and cursor tmps past a day, not live ones") {
    import spark.implicits._
    val root = SparkTestSession.tempDir("gzsweep")
    def write(from: Int): Unit = GzArchive.writeArchive(
      (from until from + 10).map(i => (0, i.toLong, s"rec $i")).toDF("partition", "k", "line"),
      root, "t", "k", chunkThreshold = 256, startOffsets = Map(0 -> from.toLong))
    write(0)
    val past = System.currentTimeMillis() - 25L * 3600 * 1000
    def file(rel: String, old: Boolean): java.io.File = {
      val f = new java.io.File(root, rel)
      f.getParentFile.mkdirs()
      assert(f.createNewFile())
      if (old) assert(f.setLastModified(past))
      f
    }
    // a crashed job (its newest file past the grace), a crashed cursor
    // publish's tmp, a live cursor tmp, and a long-running job whose dirs
    // are old but which is still writing
    val dead = file(".inprogress/job-dead/attempt-1/t-00000-000000000000.gz", old = true)
    val deadTmp = file(GzArchive.cursorFileName("t", 0) + ".tmp-123-456", old = true)
    val liveTmp = file(GzArchive.cursorFileName("t", 0) + ".tmp-123-789", old = false)
    val slow = file(".inprogress/job-slow/attempt-2/t-00001-000000000000.gz", old = false)
    Seq(dead.getParentFile, dead.getParentFile.getParentFile, slow.getParentFile,
      slow.getParentFile.getParentFile).foreach(d => assert(d.setLastModified(past)))
    write(10)
    assert(!dead.getParentFile.getParentFile.exists, "a stale job dir is reclaimed")
    assert(!deadTmp.exists, "a stale cursor tmp is reclaimed")
    assert(liveTmp.exists, "a fresh cursor tmp survives")
    assert(slow.exists, "an old job dir holding a fresh file survives")
    assert(GzArchive.fetchOffsets(spark, root, "t") === Map(0 -> 20L))
    assert(GzArchive.readCommitted(spark, root, "t").count() === 20L)
  }
}
