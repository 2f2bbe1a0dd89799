package graft.sources

import java.io.{BufferedReader, ByteArrayInputStream, ByteArrayOutputStream, InputStreamReader}
import java.util.zip.{GZIPInputStream, GZIPOutputStream}

import com.fasterxml.jackson.annotation.{JsonIgnoreProperties, JsonProperty, JsonPropertyOrder}
import graft.functions.RecordFormats.{ByteLengthFormat, Framed}
import graft.lake.{Json, TableIO}
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.util.SerializableConfiguration

/** Byte-level interop with the reference connector's on-disk archive: a
  * data file of CONCATENATED GZIP MEMBERS ("chunks", each a run of whole
  * newline-terminated records) plus a JSON chunk index that maps record
  * offsets to member byte ranges
  * (sink/src/main/java/com/spredfast/kafka/connect/s3/sink/BlockGZIPFileWriter.java:20-36).
  * The whole file still gunzips as one stream (gzip members concatenate),
  * while a reader can seek straight to the member containing a wanted
  * offset and decompress only that byte range — the ranged-GET resume the
  * reference does against object storage
  * (source/.../S3FilesReader.java:215-261).
  *
  * Bucket layout matches the connector end to end:
  *   - data/index files `{topic}-{partition%05d}-{firstOffset%012d}.gz` /
  *     `….index.json` (BlockGZIPFileWriter.java:161-167), optionally nested
  *     under a date prefix like the connector's upload keys
  *     (S3Writer.java:129-136 — there derived from wall clock and explicitly
  *     "meaningless"; here the caller passes a deterministic prefix)
  *   - a cursor file `last_chunk_index.{topic}-{partition%05d}.txt` at the
  *     archive root holding the key of the newest index file, written AFTER
  *     data+index (the reference's upload order, S3Writer.java:61-81);
  *     offset recovery reads cursor → index → `first_record_offset +
  *     num_records` of the last chunk (S3Writer.java:83-127, 404 ⇒ 0)
  * so the engine reads (and resumes, and appends to) a bucket the real
  * connector wrote, and vice versa.
  *
  * Spark integration is CHUNK-grain: the driver reads only the index files
  * (metadata-scale), then fans each chunk's (byteOffset, byteLength) out as
  * a task row — every executor task seeks and decompresses exactly one
  * member's byte range, so a 100 TB archive parallelizes at ~chunkThreshold
  * granularity with no full-file scans and no shuffle. The write side is
  * PARTITION-grain parallel, like the reference's one writer per
  * TopicPartition (S3SinkTask.java:107): one task per round-robin
  * (topic, partition) streams that partition's files, so a hot partition
  * is still one task.
  */
object GzArchive {

  /** one gzip member's index entry, serialized in the golden order the
    * reference's jackson mapper emits (system_test/run.py:218 asserts the
    * exact string). `byte_length_uncompressed` may be missing: the
    * reference's sink always writes it, but its own offset-recovery test
    * fixtures omit it (S3WriterTest.java:199-210) — offset arithmetic must
    * not depend on it. Unknown fields are ignored, so a foreign writer's
    * index still parses.
    */
  @JsonPropertyOrder(Array("byte_length_uncompressed", "num_records", "byte_length",
    "byte_offset", "first_record_offset"))
  @JsonIgnoreProperties(ignoreUnknown = true)
  final case class Chunk(
      @JsonProperty("first_record_offset") firstRecordOffset: Long,
      @JsonProperty("num_records") numRecords: Long,
      @JsonProperty("byte_offset") byteOffset: Long,
      @JsonProperty("byte_length") byteLength: Long,
      @JsonProperty("byte_length_uncompressed") byteLengthUncompressed: Long = 0L)

  @JsonIgnoreProperties(ignoreUnknown = true)
  final case class Index(chunks: Seq[Chunk]) {
    /** next offset after this file's records — the sink-resume arithmetic
      * (S3Writer.java:123-127) */
    def nextOffset: Long =
      chunks.lastOption.map(c => c.firstRecordOffset + c.numRecords).getOrElse(0L)
  }

  def indexJson(index: Index): String = Json.mapper.writeValueAsString(index)

  def parseIndex(s: String): Index = Json.read[Index](s)

  /** cursor key for a topic-partition (S3Writer.java:138-140) */
  def cursorFileName(topic: String, partition: Int): String =
    f"last_chunk_index.$topic-$partition%05d.txt"

  /** Faithful re-expression of BlockGZIPFileWriter (sink/.../BlockGZIPFileWriter.java:103-250)
    * over a Hadoop FileSystem stream (local file, HDFS, or an object store —
    * the create/overwrite + sequential write pattern is what the reference's
    * upload needs). Chunk roll happens BEFORE a write that would push the
    * current member past chunkThreshold uncompressed bytes; an optional
    * header is written as its own leading member so readers know how many
    * bytes to skip (BlockGZIPFileWriter.java:142-150). Member offsets are
    * the data stream's own position (`FSDataOutputStream.getPos`), as the
    * reference takes them from its counting stream.
    */
  final class BlockGzWriter(
      fs: FileSystem,
      dir: Path,
      filenameBase: String,
      val firstRecordOffset: Long = 0L,
      chunkThreshold: Long = 64L * 1024 * 1024,
      header: Array[Byte] = Array.emptyByteArray) {

    private final class MutChunk(var firstOffset: Long) {
      var rawBytes = 0L
      var byteOffset = 0L
      var compressedByteLength = 0L
      var numRecords = 0L
    }

    val dataFileName: String = f"$filenameBase-$firstRecordOffset%012d.gz"
    val indexFileName: String = f"$filenameBase-$firstRecordOffset%012d.index.json"
    def dataFilePath: Path = new Path(dir, dataFileName)
    def indexFilePath: Path = new Path(dir, indexFileName)

    private val chunks = scala.collection.mutable.ArrayBuffer(new MutChunk(firstRecordOffset))
    private val fileStream = fs.create(dataFilePath, true)
    private var gzipStream = new GZIPOutputStream(fileStream)
    if (header.nonEmpty) {
      gzipStream.write(header)
      gzipStream.finish()
      // record chunk 0's start BEFORE opening the next member: the
      // GZIPOutputStream constructor writes its 10-byte member header
      // immediately, so the reference's order (stream first, then
      // getNumBytesWritten — BlockGZIPFileWriter.java:147-149) records an
      // offset 10 bytes INSIDE member 1. Latent there (its reader re-reads
      // whole files for header init, S3FilesReader.java:236-243, and
      // non-header chunk offsets are derived arithmetically); fatal for our
      // ranged chunk reads, so deliberately fixed. The read side still
      // accepts reference-written (misaligned) files — see chunkBytes.
      chunks.head.byteOffset = fileStream.getPos
      gzipStream = new GZIPOutputStream(fileStream)
    }

    private def current: MutChunk = chunks.last

    /** `record` must be the full encoded record INCLUDING its trailing
      * newline (the reference's formats emit delimiters themselves). */
    def write(record: Array[Byte]): Unit = writeRaw(record, 1L)

    /** Bytes that count as `recordCount` records — the general form of the
      * reference's `write(List<byte[]>, recordCount)`
      * (BlockGZIPFileWriter.java:183-208). `recordCount = 0` is how a
      * format TRAILER lands (S3SinkTask.java:213-215: `format.finish`
      * bytes written through the record path, counted as zero records —
      * they may even roll into their own trailing zero-record chunk, same
      * as here).
      */
    def writeRaw(bytes: Array[Byte], recordCount: Long): Unit = {
      var ch = current
      if (ch.rawBytes + bytes.length > chunkThreshold) {
        finishChunk()
        gzipStream = new GZIPOutputStream(fileStream)
        val next = new MutChunk(ch.firstOffset + ch.numRecords)
        next.byteOffset = ch.byteOffset + ch.compressedByteLength
        chunks += next
        ch = next
      }
      gzipStream.write(bytes)
      ch.rawBytes += bytes.length
      ch.numRecords += recordCount
    }

    private def finishChunk(): Unit = {
      gzipStream.finish() // complete the member without closing the stack
      current.compressedByteLength = fileStream.getPos - current.byteOffset
    }

    def numRecords: Long = chunks.map(_.numRecords).sum
    def numChunks: Int = chunks.size

    def index: Index = Index(chunks.toSeq.map(c =>
      Chunk(c.firstOffset, c.numRecords, c.byteOffset, c.compressedByteLength, c.rawBytes)))

    /** finish the data file, then publish the index — index-last, so a
      * reader never sees an index pointing past the data */
    def close(): Unit = {
      finishChunk()
      gzipStream.close()
      val out = fs.create(indexFilePath, true)
      out.write(indexJson(index).getBytes("UTF-8"))
      out.close()
    }
  }

  // ---------------------------------------------------------------- write

  /** Distributed archive write: `df` must have (partition INT, a sort
    * column, line STRING — no `\n` or `\r`, see [[writeArchiveTopics]]).
    * Archive offsets are per-partition consecutive from `startOffsets`
    * (default 0), like Kafka offsets, assigned by rank over `sortCol`
    * (which must therefore be unique per partition for a deterministic
    * archive).
    *
    * Parallelism is PARTITION-grain: file boundaries are pre-assigned from
    * the offsets (a file starts at each multiple of `recordsPerFile`), the
    * batch is shuffled once with one task per round-robin (topic,
    * partition) (see [[archiveWriteFrame]]), and that task streams each of
    * the partition's files into a [[BlockGzWriter]] — a file's bytes depend
    * only on its own record run, so the output is byte-identical to a
    * serial per-partition writer. A hot partition is still one task, and
    * tasks write only attempt-scoped temp files that the driver publishes
    * (the job-commit protocol in [[writeArchivePayload]]).
    *
    * After the job, one cursor file per partition is published at the root
    * (`last_chunk_index.{topic}-{p%05d}.txt`, S3Writer.java:138-153)
    * pointing at the newest index key, and `.inprogress` scratch is
    * reclaimed. `datePrefix` nests data/index files one level down like the
    * connector's bucket layout — pass something deterministic (event-time
    * derived), never wall clock.
    */
  def writeArchive(
      df: DataFrame,
      root: String,
      topic: String,
      sortCol: String,
      chunkThreshold: Long = 64L * 1024 * 1024,
      recordsPerFile: Long = Long.MaxValue,
      datePrefix: String = "",
      header: Array[Byte] = Array.emptyByteArray,
      trailer: Array[Byte] = Array.emptyByteArray,
      startOffsets: Map[Int, Long] = Map.empty): Unit =
    writeArchiveTopics(df.withColumn("topic", lit(topic)), root, sortCol,
      chunkThreshold, recordsPerFile, datePrefix, header, trailer,
      startOffsets.map { case (p, o) => (topic, p) -> o })

  /** Multi-topic archive write: one bucket holding several topics' file
    * families, the layout the reference's source reads with a topic-SET
    * filter (source/.../S3SourceTask.java:82-94; S3FilesReader.java:82-105).
    * `df` must carry (topic STRING, partition INT, `sortCol`, line STRING);
    * offsets are per-(topic, partition) consecutive, cursors publish per
    * (topic, partition) — each topic's file family is exactly what
    * [[writeArchive]] would have produced alone.
    *
    * A `line` holding `\n` or `\r` fails the write before anything is
    * published: the reader splits lines on either (`BufferedReader.readLine`),
    * so such a record would be stored as two and read back with every later
    * offset of its chunk shifted. The reference's text format would corrupt
    * the same way; the binary container ([[writeArchiveBinary]]) takes any
    * bytes.
    */
  def writeArchiveTopics(
      df: DataFrame,
      root: String,
      sortCol: String,
      chunkThreshold: Long = 64L * 1024 * 1024,
      recordsPerFile: Long = Long.MaxValue,
      datePrefix: String = "",
      header: Array[Byte] = Array.emptyByteArray,
      trailer: Array[Byte] = Array.emptyByteArray,
      startOffsets: Map[(String, Int), Long] = Map.empty): Unit = {
    val line = col("line")
    val framable = when(line.contains("\n") || line.contains("\r"), raise_error(concat(
      lit("archive record contains a line terminator — the line-framed "),
      lit("container cannot represent it: "), line))).otherwise(line)
    writeArchivePayload(
      df.select(col("topic"), col("partition"), col(sortCol).as("_sort"),
        // text framing: record bytes = line + trailing newline, UTF-8 (the
        // reference's text format emits its own delimiter)
        encode(concat(framable, lit("\n")), "UTF-8").as("payload")),
      root, chunkThreshold, recordsPerFile, datePrefix, header,
      trailer, startOffsets)
  }

  /** `[len:int4 BE][bytes]` built inside codegen (octet_length → hex →
    * 8-wide lpad → unhex = the big-endian 4-byte length the reference's
    * ByteLengthFormat writes, common/.../ByteLengthFormat.java:43-56)
    */
  private def lenPrefixed(b: Column): Column =
    concat(unhex(lpad(hex(octet_length(b)), 8, "0")), b)

  /** The BINARY container variant: length-prefixed records (the reference's
    * `binary` format alias) inside the same block-gzip chunks — the shape
    * its binary system-test dump exercises (system_test/run.py:331-373).
    * `df` must have (partition INT, a sort column, key BINARY, value
    * BINARY); unlike the text container there is NO delimiter constraint —
    * payloads may contain any bytes, including line terminators.
    */
  def writeArchiveBinary(
      df: DataFrame,
      root: String,
      topic: String,
      sortCol: String,
      includeKeys: Boolean = true,
      chunkThreshold: Long = 64L * 1024 * 1024,
      recordsPerFile: Long = Long.MaxValue,
      datePrefix: String = "",
      startOffsets: Map[Int, Long] = Map.empty): Unit = {
    val payload =
      if (includeKeys) concat(lenPrefixed(col("key")), lenPrefixed(col("value")))
      else lenPrefixed(col("value"))
    writeArchivePayload(
      df.select(lit(topic).as("topic"), col("partition"), col(sortCol).as("_sort"),
        payload.as("payload")),
      root, chunkThreshold, recordsPerFile, datePrefix,
      Array.emptyByteArray, Array.emptyByteArray,
      startOffsets.map { case (p, o) => (topic, p) -> o })
  }

  /** The write frame: rows of (topic, partition, _file, _aoff, payload),
    * each task holding whole (topic, partition) runs in ascending `_aoff`.
    *
    * Archive offsets come from a window over (topic, partition) ordered by
    * `_sort`. Its exchange is routed BY ID: `_task = pmod(xxhash64(topic) +
    * partition, n)` with n = `spark.sql.shuffle.partitions`, so one topic's
    * densely numbered partitions go round-robin over the tasks (8 partitions
    * on 4 tasks: 2 each). A hash exchange on (topic, partition) would pile
    * several onto one task (3/2/2/1 for that shape, and AQE may coalesce
    * its buckets further; it never coalesces a by-id exchange), and the
    * busiest task would set the write's wall time. `_task` leads the
    * window keys and is a function of (topic, partition), so the window's
    * values are unchanged and it reuses the pass-through exchange instead
    * of adding its own.
    */
  private[graft] def archiveWriteFrame(
      df: DataFrame,
      recordsPerFile: Long,
      startOffsets: Map[(String, Int), Long]): DataFrame = {
    val spark = df.sparkSession
    val n = spark.sessionState.conf.numShufflePartitions
    val base = df.select(col("topic").cast("string").as("topic"),
      col("partition").cast("int").as("partition"),
      col("_sort"), col("payload"))
    val withStart =
      if (startOffsets.isEmpty) base.withColumn("_start", lit(0L))
      else {
        val so = spark.createDataFrame(
          startOffsets.toSeq.map { case ((t, p), o) => (t, p, o) })
          .toDF("topic", "partition", "_start")
        base.join(broadcast(so), Seq("topic", "partition"), "left")
          .withColumn("_start", coalesce(col("_start"), lit(0L)))
      }
    val w = Window.partitionBy(col("_task"), col("topic"), col("partition"))
      .orderBy(col("_sort"))
    withStart
      .withColumn("_task",
        pmod(xxhash64(col("topic")) + col("partition"), lit(n.toLong)).cast("int"))
      .repartitionById(n, col("_task"))
      .withColumn("_aoff", row_number().over(w).cast("long") - 1L + col("_start"))
      // file first-offset: aligned to multiples of recordsPerFile (for the
      // default Long.MaxValue this is 0 — one file per topic-partition).
      // pmod, not div*mul, so Long.MaxValue cannot overflow.
      .withColumn("_file", col("_aoff") - pmod(col("_aoff"), lit(recordsPerFile)))
      .select(col("topic"), col("partition"), col("_file"), col("_aoff"), col("payload"))
  }

  private def writeArchivePayload(
      df: DataFrame,
      root: String,
      chunkThreshold: Long,
      recordsPerFile: Long,
      datePrefix: String,
      header: Array[Byte],
      trailer: Array[Byte],
      startOffsets: Map[(String, Int), Long]): Unit = {
    require(recordsPerFile > 0, "recordsPerFile must be positive")
    val spark = df.sparkSession
    // the conf Spark's writes use (context conf + session entries), so the
    // task-side writer picks the same FileSystem as the driver-side publish
    val conf = spark.sparkContext.broadcast(
      new SerializableConfiguration(spark.sessionState.newHadoopConf()))

    // JOB-COMMIT PROTOCOL (the FileOutputCommitter shape): tasks write ONLY
    // inside their own attempt directory under a job-unique staging area
    // and never touch published paths, so a zombie or speculative attempt —
    // even one that wakes up after the job finished — cannot delete or
    // clobber a published file. Each task returns the files it closed as its
    // result, and Spark keeps exactly one successful attempt's result per
    // partition. The DRIVER publishes after job success: rename those files
    // into place, then move cursors. It acknowledges ONLY files a result
    // names (never a bucket listing — a listing would also acknowledge
    // ORPHANS from previously crashed writers, exactly the files the cursor
    // protocol exists to exclude).
    val jobDir = new Path(root, s".inprogress/job-${java.util.UUID.randomUUID()}")
    // NO second exchange: WindowExec already sorted each task by (_task,
    // topic, partition, _sort), `_aoff` is the row_number over that order
    // and `_file` is monotone in `_aoff`, so every task iterates contiguous
    // (topic, partition, _file) runs in ascending `_aoff` — what the writer
    // loop below needs. A backfill that needs finer fan-out than one task
    // per (topic, partition) can pre-split its input partitions upstream.
    import spark.implicits._
    val written = archiveWriteFrame(df, recordsPerFile, startOffsets)
      .mapPartitions { rows: Iterator[Row] =>
        val fs = TableIO.fileSystem(new Path(root), conf.value.value)
        val attempt = Option(TaskContext.get()).map(_.taskAttemptId()).getOrElse(0L)
        val tmpDir = new Path(jobDir, s"attempt-$attempt")
        val closed = scala.collection.mutable.ArrayBuffer.empty[(String, Int, Long, Long)]
        var curTopic: String = null
        var curPart = -1
        var curFile = -1L
        var bw: BlockGzWriter = null
        def commitW(): Unit = if (bw != null) {
          if (trailer.nonEmpty) bw.writeRaw(trailer, 0L) // format trailer, 0 records
          bw.close() // data then index, inside the attempt dir only
          closed += ((curTopic, curPart, bw.firstRecordOffset, attempt))
          bw = null
        }
        rows.foreach { r =>
          val t = r.getString(0)
          val p = r.getInt(1)
          val file = r.getLong(2)
          val aoff = r.getLong(3)
          if (t != curTopic || p != curPart || file != curFile) {
            commitW()
            // topics arrive as DATA: validate once per file. Outside Kafka's
            // topic charset (null, a '/', spaces) the bucket layout or the
            // FileName/CursorName parse breaks, silently losing records.
            require(t != null && t.matches("[A-Za-z0-9._-]+"),
              s"invalid archive topic name '$t' — must match [A-Za-z0-9._-]+")
            curTopic = t; curPart = p; curFile = file
            // the file is NAMED by its first actual record offset (= `file`
            // except for the very first file of a partition with a non-zero
            // start, which begins mid-boundary)
            bw = new BlockGzWriter(fs, tmpDir, f"$t-$p%05d", aoff, chunkThreshold, header)
          }
          val payload = r.getAs[Array[Byte]](4) // full framed record bytes
          require(payload != null,
            "null archive record payload — a null line (text container) or " +
              "null key/value (binary container); coalesce upstream")
          bw.write(payload)
        }
        commitW()
        closed.iterator
      }.collect()

    // Driver-side job commit: publish the reported files through the
    // tables' publish path (retried, one rename each): every data file,
    // then every index, then the cursors — the reference's upload order.
    // Partitions this job did not write keep their existing cursors, and
    // pre-existing orphans stay unacknowledged.
    val tio = new TableIO(root, spark)
    val destDir = if (datePrefix.isEmpty) new Path(root) else new Path(root, datePrefix)
    val acks = written.toSeq.sortBy(a => (a._1, a._2, a._3))
    tio.publish(Seq(".gz", ".index.json").map(ext => acks.map { case (t, p, first, attempt) =>
      val name = f"$t-$p%05d-$first%012d$ext"
      new Path(jobDir, s"attempt-$attempt/$name") -> new Path(destDir, name)
    }))
    // atomic cursor swap: readers trust only the cursor, so there must
    // never be a truncated or missing one. TableIO.writeAtomic supplies the
    // per-attempt-unique tmp + rename-with-overwrite — a FIXED tmp name
    // would let two racing writers (zombie + fenced successor) interleave
    // into one tmp and publish a torn cursor.
    acks.groupBy(a => (a._1, a._2)).foreach { case ((t, p), files) =>
      val latest = files.maxBy(_._3)
      val rel = f"$t-$p%05d-${latest._3}%012d.index.json"
      val key = if (datePrefix.isEmpty) rel else s"$datePrefix/$rel"
      tio.writeAtomic(new Path(root, cursorFileName(t, p)), key)
    }
    tio.fs.delete(jobDir, true)
    // each job's staging is UUID-named, so nothing else would ever reclaim
    // a FAILED or crashed writer's: past a day, its job dir and leaked
    // cursor tmps go (the same sweep as the tables' `_staging`)
    tio.sweepStaleStaging(jobDir.getParent, graceMs = 24L * 3600 * 1000)
  }

  // ----------------------------------------------------------------- read

  /** one reading task = one gzip member (+ a resume floor within it).
    * `headerLen` > 0 marks a file whose leading member is a format header
    * occupying bytes [0, headerLen) — the init-required replay of
    * S3FilesReader.java:236-243.
    */
  final case class ChunkTask(
      file: String,
      topic: String,
      partition: Int,
      byteOffset: Long,
      byteLength: Long,
      firstRecordOffset: Long,
      numRecords: Long,
      minOffsetExclusive: Long,
      headerLen: Long,
      isLast: Boolean)

  final case class GzRecordH(topic: String, partition: Int, offset: Long,
      value: String, header: String)
  /** per-FILE format metadata: header and trailer are init/finish hooks of
    * the file's format (S3RecordsWriter.java:16-31), not record properties
    */
  final case class FileMeta(file: String, topic: String, partition: Int,
      firstRecordOffset: Long, numRecords: Long, header: String, trailer: String)

  private val FileName = """(.+)-(\d{5})-(\d{12})\.index\.json""".r
  private val CursorName = """last_chunk_index\.(.+)-(\d{5})\.txt""".r

  private final case class IndexFile(
      status: FileStatus, topic: String, partition: Int, firstOffset: Long)

  /** Recursive metadata-scale listing of index files: a real connector
    * bucket nests data/index under `yyyy-MM-dd` prefixes (S3Writer.java:129-136),
    * and its source lists across prefixes (S3FilesReader.java:140-157) — so
    * recurse through subdirectories (dot-dirs like `.inprogress` excluded).
    */
  private def listIndexFiles(tio: TableIO): Seq[IndexFile] = {
    // a never-written root lists as empty (list-and-catch, no exists probe)
    def walk(sts: Array[FileStatus]): Seq[FileStatus] =
      sts.toSeq.flatMap { s =>
        if (!s.isDirectory) Seq(s)
        else if (s.getPath.getName.startsWith(".")) Nil
        else walk(tio.fs.listStatus(s.getPath))
      }
    walk(tio.listOrEmpty(tio.rootPath)).flatMap { s =>
      s.getPath.getName match {
        case FileName(topic, part, off) =>
          Some(IndexFile(s, topic, part.toInt, off.toLong))
        case _ => None
      }
    }
  }

  /** driver-side index parse → chunk task rows (metadata-scale), the index
    * GETs fanned out on the bounded metadata pool: a 100 TB archive has
    * thousands of index files. Order follows the listing, so it is stable.
    */
  private def listTasks(spark: SparkSession, root: String): Seq[ChunkTask] = {
    val tio = new TableIO(root, spark)
    fetchTasks(tio.fs, listIndexFiles(tio))
  }

  private def fetchTasks(fs: FileSystem, files: Seq[IndexFile]): Seq[ChunkTask] =
    graft.lake.MetaIO.fetchAll(files)(f => tasksOf(fs, f)).flatten

  private def tasksOf(fs: FileSystem, f: IndexFile): Seq[ChunkTask] = {
    val idx = parseIndex(readSmall(fs, f.status.getPath))
    val dataFile = new Path(f.status.getPath.getParent,
      f.status.getPath.getName.stripSuffix(".index.json") + ".gz").toString
    val headerLen = idx.chunks.headOption.map(_.byteOffset).getOrElse(0L)
    idx.chunks.zipWithIndex.map { case (c, i) =>
      ChunkTask(dataFile, f.topic, f.partition, c.byteOffset,
        c.byteLength, c.firstRecordOffset, c.numRecords, Long.MinValue,
        headerLen, isLast = i == idx.chunks.size - 1)
    }
  }

  /** Pluggable chunk decode — the reference reader's input-filter seam
    * (source/.../S3FilesReader.java:333-337: the reader takes an
    * `InputFilter` with GUNZIP merely the default). [[GunzipFilter]] is
    * this engine's default (the archive WRITER is Block-GZIP like the
    * reference sink's, so gzip is what this engine produces);
    * [[IdentityFilter]] reads uncompressed archives written by other tools
    * against the same index/cursor protocol; any FQCN implementing the
    * trait loads via props key `input.filter` ([[inputFilter]]), mirroring
    * the format registry's reflective contract. Implementations run inside
    * executor tasks — they must be Serializable and stateless.
    */
  trait InputFilter extends Serializable {
    /** Wrap one chunk's raw byte stream with the decode — the STREAMING
      * primitive: the text read takes lines straight off this stream, so no
      * single array holds a chunk's UNCOMPRESSED bytes (only the compressed
      * range is materialized; the ranged-read guard bounds that side).
      */
    def wrap(in: java.io.InputStream): java.io.InputStream

    /** strict full decode of one chunk, derived from [[wrap]] — used only
      * where the record format needs the whole array (the binary
      * length-prefixed decode)
      */
    def decode(chunk: Array[Byte]): Array[Byte] =
      wrap(new ByteArrayInputStream(chunk)).readAllBytes()
    /** tolerant variant for ranged HEADER reads, which on reference-written
      * gzip files may end on a bare member boundary (the off-by-10 case);
      * encodings without that failure shape keep the strict default
      */
    def decodeTolerant(chunk: Array[Byte]): Array[Byte] = decode(chunk)
    /** does `chunk` begin a frame of this encoding? Drives the
      * reference-off-by-10 index-offset correction probe; encodings without
      * a frame marker return true (no probe possible, none needed).
      */
    def framed(chunk: Array[Byte]): Boolean = true
  }

  /** default: the Block-GZIP decode (multi-member tolerant-header gzip) */
  object GunzipFilter extends InputFilter {
    def wrap(in: java.io.InputStream): java.io.InputStream =
      new GZIPInputStream(in)
    override def decodeTolerant(chunk: Array[Byte]): Array[Byte] =
      gunzipTolerant(chunk)
    override def framed(chunk: Array[Byte]): Boolean =
      chunk.length >= 2 && (chunk(0) & 0xff) == 0x1f && (chunk(1) & 0xff) == 0x8b
  }

  /** uncompressed archives: index byte ranges ARE the record bytes */
  object IdentityFilter extends InputFilter {
    def wrap(in: java.io.InputStream): java.io.InputStream = in
    override def decode(chunk: Array[Byte]): Array[Byte] = chunk
  }

  /** Config-driven filter resolution (`input.filter` = `gzip` | `none` |
    * FQCN implementing [[InputFilter]]); absent = gzip, the reference's
    * default-GUNZIP contract.
    */
  def inputFilter(props: Map[String, String]): InputFilter =
    props.get("input.filter") match {
      case None | Some("gzip") => GunzipFilter
      case Some("none") | Some("identity") => IdentityFilter
      case Some(fqcn) =>
        Class.forName(fqcn).getDeclaredConstructor().newInstance() match {
          case f: InputFilter => f
          case _ => throw new IllegalArgumentException(
            s"input.filter class $fqcn does not implement " +
              s"${classOf[InputFilter].getName}")
        }
    }

  /** Decompress a (possibly multi-member) gzip byte range, tolerating ONLY
    * a bare trailing member START: a reference-written header file's
    * recorded header region is 10 bytes too long (the off-by-10 documented
    * at the BlockGzWriter header fix), so the range ends with exactly one
    * 10-byte gzip member header and no deflate data — everything before it
    * decodes fine. Any OTHER truncation (EOF mid-deflate, a cut trailer) is
    * genuine corruption and raises, matching the repo's loud-corruption
    * convention — a silent partial header would otherwise flow downstream
    * as a wrong-but-plausible string.
    */
  private[graft] def gunzipTolerant(buf: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    try {
      val in = new GZIPInputStream(new ByteArrayInputStream(buf))
      val b = new Array[Byte](8192)
      var n = in.read(b)
      while (n >= 0) { out.write(b, 0, n); n = in.read(b) }
    } catch {
      case e: java.io.EOFException =>
        // tolerated iff the range ends with a bare member header: gzip
        // magic + CM=deflate at exactly len-10 (the 10-byte fixed header
        // the next GZIPOutputStream wrote before the range was cut)
        val L = buf.length
        val bareTrailingHeader = L >= 10 &&
          (buf(L - 10) & 0xff) == 0x1f && (buf(L - 9) & 0xff) == 0x8b &&
          (buf(L - 8) & 0xff) == 0x08
        if (!bareTrailingHeader) throw new java.io.IOException(
          s"truncated gzip data (${L}B range, EOF mid-member) — corrupt " +
            "archive bytes or index; not the tolerated bare-trailing-header case", e)
    }
    out.toByteArray
  }

  /** ranged read with the 2 GiB buffer guard */
  private def rangedRead(fs: FileSystem, file: String, off: Long, len: Long): Array[Byte] = {
    require(len <= Int.MaxValue,
      s"chunk $file@$off is ${len}B compressed — past the 2 GiB buffer " +
        "bound; re-archive with a smaller chunkThreshold (a single " +
        "record larger than 2 GiB compressed cannot be ranged-read)")
    // seek + sequential read on the one stream. On Hadoop's checksummed
    // local FS a positioned read builds a second checker per call (one more
    // getFileStatus and a reopen of the data and .crc files), and the
    // stream it returns answers seek with a getContentSummary (a status
    // call) for its EOF bound. The wrapped stream — Seekable for every
    // FSDataInputStream — seeks without either; a range past EOF still
    // fails in readFully.
    val in = fs.open(new Path(file))
    try {
      val buf = new Array[Byte](len.toInt)
      in.getWrappedStream.asInstanceOf[org.apache.hadoop.fs.Seekable].seek(off)
      in.readFully(buf)
      buf
    } finally in.close()
  }

  /** Read one chunk's compressed bytes, correcting reference-written
    * header-bearing files: BlockGZIPFileWriter records chunk 0's
    * byte_offset AFTER opening the next gzip member — 10 bytes (one member
    * header) inside it (BlockGZIPFileWriter.java:147-149) — and byte_length
    * correspondingly 10 short. Later chunks derive arithmetically and stay
    * correct. A range that does not start with the gzip magic is re-read
    * 10 bytes earlier and re-checked.
    */
  private def chunkBytes(fs: FileSystem, file: String, off: Long, len: Long,
      filter: InputFilter = GunzipFilter): Array[Byte] = {
    var buf = rangedRead(fs, file, off, len)
    if (!filter.framed(buf) && off >= 10)
      buf = rangedRead(fs, file, off - 10, len + 10)
    require(filter.framed(buf) || buf.isEmpty,
      s"chunk $file@$off does not start a member frame of the configured " +
        "input filter (corrupt index or data)")
    buf
  }

  /** A record format's chunk decode: the chunk's first `numRecords` records
    * (fewer if its bytes run out) and the bytes past them, the format
    * trailer. The reference picks its reader the same way, by
    * `Configure.createFormat`'s `text`/`binary` aliases
    * (common/.../Configure.java:20-23).
    */
  private type Decoder[V] =
    (InputFilter, Array[Byte], Long) => (collection.IndexedSeq[V], Array[Byte])

  /** newline-terminated UTF-8 lines, read straight off the filter's stream */
  private val textLines: Decoder[String] = (filter, chunk, numRecords) => {
    val r = new BufferedReader(new InputStreamReader(
      filter.wrap(new ByteArrayInputStream(chunk)), "UTF-8"))
    val records = scala.collection.mutable.ArrayBuffer.empty[String]
    val trailer = new StringBuilder
    var line = r.readLine()
    while (line != null) {
      if (records.size < numRecords) records += line
      else trailer.append(line).append('\n')
      line = r.readLine()
    }
    (records, trailer.toString.getBytes("UTF-8"))
  }

  /** length-prefixed records ([[writeArchiveBinary]]'s framing) */
  private def lengthPrefixed(includeKeys: Boolean): Decoder[Framed] =
    (filter, chunk, numRecords) => {
      val data = filter.decode(chunk)
      val (records, consumed) = new ByteLengthFormat(includeKeys).decodeUpTo(data, numRecords)
      (records.toIndexedSeq, java.util.Arrays.copyOfRange(data, consumed, data.length))
    }

  /** The one chunk scan behind every read: one row per chunk, which the
    * local scan of `tasks` already slices over `defaultParallelism`
    * partitions (no exchange). Each task reads exactly its member's byte
    * range. For every format a chunk must decode exactly `numRecords`, and
    * bytes past them are the format TRAILER (written through the record
    * path with recordCount 0, S3SinkTask.java:213-215), which only a file's
    * LAST chunk may carry; both rules stay loud. Records at or below the
    * resume floor are dropped. `emit` makes rows from the remaining
    * (offset, record) pairs, the file's header ("" unless `withHeader`;
    * memoized per file) and the trailer. Tasks resolve the filesystem as
    * the writer does, from the session's Hadoop conf.
    */
  private def scan[V, R: Encoder](spark: SparkSession, root: String,
      tasks: Seq[ChunkTask], filter: InputFilter, decode: Decoder[V],
      withHeader: Boolean = false)(
      emit: (ChunkTask, String, Iterator[(Long, V)], Array[Byte]) => Iterator[R]): Dataset[R] = {
    val conf = spark.sparkContext.broadcast(
      new SerializableConfiguration(spark.sessionState.newHadoopConf()))
    spark.createDataset(tasks)(Encoders.product[ChunkTask]).mapPartitions { it =>
      var fs: FileSystem = null
      val headers = scala.collection.mutable.HashMap.empty[String, String]
      it.flatMap { t =>
        if (fs == null) fs = TableIO.fileSystem(new Path(root), conf.value.value)
        val (records, trailer) = decode(filter,
          chunkBytes(fs, t.file, t.byteOffset, t.byteLength, filter), t.numRecords)
        require(records.size == t.numRecords,
          s"chunk ${t.file}@${t.byteOffset} decoded ${records.size} records, " +
            s"index says ${t.numRecords}")
        require(t.isLast || trailer.isEmpty,
          s"chunk ${t.file}@${t.byteOffset} has ${trailer.length} surplus bytes " +
            "in a non-final chunk — corrupt data (an embedded line " +
            "terminator?); only the last chunk may carry trailer bytes")
        val header =
          if (!withHeader || t.headerLen == 0) ""
          else headers.getOrElseUpdate(t.file, new String(
            filter.decodeTolerant(rangedRead(fs, t.file, 0L, t.headerLen)), "UTF-8"))
        emit(t, header, records.iterator.zipWithIndex
          .map { case (v, i) => (t.firstRecordOffset + i, v) }
          .filter(_._1 > t.minOffsetExclusive), trailer)
      }
    }
  }

  /** text records: (topic, partition, offset, value), plus the file's
    * `header` column when `withHeader`
    */
  private def readText(spark: SparkSession, root: String, tasks: Seq[ChunkTask],
      filter: InputFilter, withHeader: Boolean = false): DataFrame = {
    import spark.implicits._
    val ds = scan(spark, root, tasks, filter, textLines, withHeader) {
      (t, header, records, _) =>
        records.map { case (off, line) => GzRecordH(t.topic, t.partition, off, line, header) }
    }
    if (withHeader) ds.toDF() else ds.drop("header")
  }

  /** Resume past committed floors (`floor(t)`; None replays the chunk
    * fully): whole chunks at or below the floor are PRUNED on the driver
    * from the index alone (never opened — the ranged-GET skip,
    * S3FilesReader.java:215-261); only the boundary chunk filters records
    * below the floor after decode.
    */
  private def above(tasks: Seq[ChunkTask])(floor: ChunkTask => Option[Long]): Seq[ChunkTask] =
    tasks.flatMap { t =>
      floor(t) match {
        case None => Some(t)
        case Some(c) if t.firstRecordOffset + t.numRecords > c + 1 =>
          Some(t.copy(minOffsetExclusive = c))
        case _ => None // chunk entirely at or below the committed offset
      }
    }

  /** full archive scan (still chunk-parallel) */
  def read(spark: SparkSession, root: String,
      filter: InputFilter = GunzipFilter): DataFrame =
    readFrom(spark, root, Map.empty, filter)

  /** like [[read]], plus each record carries its file's decoded format
    * header (empty when the file has none) — the distributed analogue of
    * the reference's header replay for init-required formats
    * (S3FilesReader.java:236-243).
    */
  def readWithHeader(spark: SparkSession, root: String,
      filter: InputFilter = GunzipFilter): DataFrame =
    readText(spark, root, listTasks(spark, root), filter, withHeader = true)

  /** Per-FILE format metadata: decoded header member and trailer bytes
    * (the init/finish hooks, S3RecordsWriter.java:16-31). One task per
    * file, touching only the header member and the LAST chunk — this is
    * where a trailer lives even when it rolled into its own zero-record
    * trailing chunk, which per-record reads can never surface.
    */
  def fileMeta(spark: SparkSession, root: String,
      filter: InputFilter = GunzipFilter): DataFrame = {
    import spark.implicits._
    val tasks = listTasks(spark, root)
    val span = tasks.groupBy(_.file).map { case (file, ts) =>
      file -> ((ts.head.firstRecordOffset, ts.map(_.numRecords).sum))
    }
    scan(spark, root, tasks.filter(_.isLast), filter, textLines, withHeader = true) {
      (t, header, _, trailer) =>
        val (first, total) = span(t.file)
        Iterator(FileMeta(t.file, t.topic, t.partition, first, total, header,
          new String(trailer, "UTF-8")))
    }.toDF()
  }

  /** Resume past per-partition committed offsets (see [[above]]). */
  def readFrom(spark: SparkSession, root: String, committed: Map[Int, Long],
      filter: InputFilter = GunzipFilter): DataFrame =
    readText(spark, root,
      above(listTasks(spark, root))(t => committed.get(t.partition)), filter)

  /** [[readFrom]] keyed by (topic, partition) — the resume shape of a
    * multi-topic bucket ([[writeArchiveTopics]]): per-topic-partition
    * committed floors, whole chunks at or below a floor pruned from the
    * index alone. A (topic, partition) absent from the map replays fully;
    * restrict to a topic set by passing floors only for those topics and
    * filtering the result on `topic` (records carry it).
    */
  def readFromTopics(spark: SparkSession, root: String,
      committed: Map[(String, Int), Long],
      filter: InputFilter = GunzipFilter): DataFrame =
    readText(spark, root,
      above(listTasks(spark, root))(t => committed.get((t.topic, t.partition))), filter)

  final case class GzBinRecord(topic: String, partition: Int, offset: Long,
      key: Array[Byte], value: Array[Byte])

  /** full scan of a BINARY-format archive (length-prefixed records —
    * [[writeArchiveBinary]]'s output or a reference `binary`-format bucket),
    * chunk-parallel like [[read]]
    */
  def readBinary(spark: SparkSession, root: String,
      includeKeys: Boolean = true,
      filter: InputFilter = GunzipFilter): DataFrame =
    readBinaryFrom(spark, root, Map.empty, includeKeys, filter)

  /** [[readFrom]] for binary archives: index-pruned ranged resume */
  def readBinaryFrom(spark: SparkSession, root: String, committed: Map[Int, Long],
      includeKeys: Boolean = true,
      filter: InputFilter = GunzipFilter): DataFrame = {
    import spark.implicits._
    scan(spark, root, above(listTasks(spark, root))(t => committed.get(t.partition)),
      filter, lengthPrefixed(includeKeys)) { (t, _, records, _) =>
      records.map { case (off, r) => GzBinRecord(t.topic, t.partition, off, r.key, r.value) }
    }.toDF()
  }

  /** Cursor-derived per-partition NEXT offsets — the port of
    * S3Writer.fetchOffset (S3Writer.java:83-127): cursor file → index key →
    * last chunk's `first_record_offset + num_records`. A partition with no
    * cursor is absent from the map (the 404 ⇒ start-from-0 case,
    * S3Writer.java:101-107). Pass the result as `startOffsets` to
    * [[writeArchive]] to continue an existing bucket.
    */
  def fetchOffsets(spark: SparkSession, root: String, topic: String): Map[Int, Long] =
    fetchOffsetsTopics(spark, root, Set(topic)).map { case ((_, p), o) => p -> o }

  /** one bucket's cursors for a topic SET (empty = every topic) — the
    * reference's source task reads topic sets per task
    * (S3SourceTask.java:82-94, topic filter S3FilesReader.java:82-105):
    * (topic, partition) → the index key its cursor names. Cursor reads fan
    * out on the shared metadata pool — at the reference's own 200-partition
    * cap a serial driver loop would be 200 round-trips before any task
    * launches.
    */
  private def cursorKeys(tio: TableIO, topics: Set[String]): Seq[((String, Int), String)] = {
    val cursors = tio.listOrEmpty(tio.rootPath).toSeq.flatMap { s =>
      s.getPath.getName match {
        case CursorName(t, p) if !s.isDirectory && (topics.isEmpty || topics(t)) =>
          Some((t, p.toInt) -> s.getPath)
        case _ => None
      }
    }.sortBy(_._1)
    graft.lake.MetaIO.fetchAll(cursors) { case (tp, path) => tp -> readSmall(tio.fs, path).trim }
  }

  /** [[fetchOffsets]] over a topic set: per-(topic, partition) next
    * offsets, the index reads fanned out like the cursor reads
    */
  def fetchOffsetsTopics(spark: SparkSession, root: String,
      topics: Set[String] = Set.empty): Map[(String, Int), Long] = {
    val tio = new TableIO(root, spark)
    graft.lake.MetaIO.fetchAll(cursorKeys(tio, topics)) { case (tp, key) =>
      tp -> parseIndex(readSmall(tio.fs, new Path(tio.rootPath, key))).nextOffset
    }.toMap
  }

  /** Cursor-trusted read: only files the cursor acknowledges — i.e. files
    * whose first offset is at or below the cursor's index key — are read;
    * later files are unpublished orphans from a crashed writer (data+index
    * uploaded, cursor never updated) and are EXCLUDED, because "readers
    * only trust the cursor" is the publish protocol's whole correctness
    * story (S3Writer.java:61-81; SURVEY.md §1.3). Partitions with no cursor
    * contribute nothing.
    */
  def readCommitted(spark: SparkSession, root: String, topic: String,
      filter: InputFilter = GunzipFilter): DataFrame =
    readCommittedTopics(spark, root, Set(topic), filter)

  /** [[readCommitted]] over a topic SET (empty = every topic in the bucket):
    * the records of every cursor-acknowledged file whose topic is in the
    * set, in one chunk-parallel read — each record carries its topic, so
    * callers split downstream with an ordinary filter. Cursor reads, then
    * index fetches, fan out on the shared metadata pool (in sequence, never
    * nested).
    */
  def readCommittedTopics(spark: SparkSession, root: String,
      topics: Set[String] = Set.empty,
      filter: InputFilter = GunzipFilter): DataFrame = {
    val tio = new TableIO(root, spark)
    val ackFirstOffset = cursorKeys(tio, topics).flatMap { case (tp, key) =>
      new Path(key).getName match {
        case FileName(_, _, off) => Some(tp -> off.toLong)
        case _ => None
      }
    }.toMap
    val acked = listIndexFiles(tio)
      .filter(f => ackFirstOffset.get((f.topic, f.partition)).exists(f.firstOffset <= _))
    readText(spark, root, fetchTasks(tio.fs, acked), filter)
  }

  /** The reference source's per-topic OUTPUT remap, config shape
    * `targetTopic.{original} = target` (S3SourceTask.java:40,223-225;
    * README.md:176 — "targetTopic.foo=bar would send messages originally in
    * topic foo to topic bar"): parse a properties map down to the
    * original→target pairs. Topics without an entry pass through unchanged,
    * exactly the reference's `getOrDefault(..., originalTopic)`.
    */
  def topicRemap(props: Map[String, String]): Map[String, String] =
    props.collect {
      case (k, v) if k.startsWith("targetTopic.") &&
          k.length > "targetTopic.".length =>
        k.stripPrefix("targetTopic.") -> v
    }

  /** Apply a topic remap to any topic-carrying frame. The map rides the
    * plan as a broadcast-free LITERAL map lookup (a handful of configured
    * topics, like the reference's in-memory `topicMapping`), so the rename
    * stays inside whole-stage codegen — no per-row driver logic, no UDF.
    */
  def remapTopics(df: DataFrame, remap: Map[String, String]): DataFrame =
    if (remap.isEmpty) df
    else {
      val entries = remap.toSeq.sortBy(_._1)
        .flatMap { case (o, t) => Seq(lit(o), lit(t)) }
      df.withColumn("topic",
        coalesce(element_at(map(entries: _*), col("topic")), col("topic")))
    }

  /** [[readCommittedTopics]] with the reference's config-driven remap
    * composed over it: records land under their TARGET topic names. The
    * `topics` restriction and the bucket's cursor protocol operate on
    * ORIGINAL names (the bucket's own file families); only the emitted
    * column is renamed — same order of operations as the reference, which
    * filters/lists by original topic and remaps at record construction
    * (S3SourceTask.java:183).
    */
  def readCommittedTopics(spark: SparkSession, root: String,
      topics: Set[String], props: Map[String, String]): DataFrame =
    remapTopics(readCommittedTopics(spark, root, topics, inputFilter(props)),
      topicRemap(props))

  /** [[readFromTopics]] with the config-driven remap. `committed` floors
    * key on ORIGINAL (topic, partition) — resume state tracks the bucket's
    * layout, the rename is output-side only.
    */
  def readFromTopics(spark: SparkSession, root: String,
      committed: Map[(String, Int), Long],
      props: Map[String, String]): DataFrame =
    remapTopics(readFromTopics(spark, root, committed, inputFilter(props)),
      topicRemap(props))

  /** a cursor or index file, bounded at 16 MiB without a status probe */
  private def readSmall(fs: FileSystem, p: Path): String = {
    val limit = 16 << 20
    val in = fs.open(p)
    val bytes = try in.readNBytes(limit + 1) finally in.close()
    require(bytes.length <= limit, s"$p unreasonably large for a metadata file")
    new String(bytes, "UTF-8")
  }
}
