package graft

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import graft.gen.ChangeGen
import graft.lake.{InJvmLocalFileSystem, InJvmRawLocalFileSystem, InJvmRawLocalFs, TableIO}
import graft.pipeline.CdcPipeline
import graft.sources.GzArchive
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, FileAlreadyExistsException, FileContext, FsConstants, LocalFileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The engine's `file:` binding ([[TableIO.fileSystem]]): it forks no
  * process on the commit path, it leaves the same files, sidecars and mode
  * bits as Hadoop's default local filesystem and keeps the rename contracts
  * the commit store relies on, and it steps aside for a session that binds
  * its own `file:` class.
  */
class LocalFsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  /** Hadoop's own checksummed local FS, uncached. (A session's default
    * `file:` class can differ: Hive's jars register ProxyLocalFileSystem,
    * which only changes `rename` onto an existing file.)
    */
  private def hadoopLocal(conf: Configuration): LocalFileSystem = {
    val fs = new LocalFileSystem()
    fs.initialize(new java.net.URI("file:///"), conf)
    fs
  }

  /** Commands of the processes this JVM started while `body` ran. */
  private def processStarts(body: => Unit): Seq[String] = {
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val dump = Files.createTempFile("graft-jfr-", ".jfr")
    try {
      rec.dump(dump)
      jdk.jfr.consumer.RecordingFile.readAllEvents(dump).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(_.getString("command"))
    } finally {
      rec.close()
      Files.deleteIfExists(dump)
    }
  }

  test("a steady-state batch and an archive write fork no process on their roots") {
    val journalRoot = SparkTestSession.tempDir("forkj")
    val lakeRoot = SparkTestSession.tempDir("forkl")
    val archiveRoot = SparkTestSession.tempDir("forka")
    val control = SparkTestSession.tempDir("forkc")
    val changes = ChangeGen.changes(spark, 1200, nKeys = 120, partitions = 4).cache()
    val p = new CdcPipeline(spark, journalRoot, lakeRoot, chunkBytes = 4096,
      subBuckets = 4)
    // offsets run 0-299 in each partition: two offset-ordered halves
    def slice(b: Int) = changes.where(col("offset").between(b * 150, b * 150 + 149))
    p.applyBatch(slice(0), 0L) // creates both tables: not the steady state
    val archiveDf = changes.select(col("partition"), col("offset"),
      coalesce(col("content"), lit("")).as("line"))
    GzArchive.writeArchive(archiveDf, archiveRoot, "t", "offset",
      chunkThreshold = 4096, recordsPerFile = 200)
    val defaultFs = hadoopLocal(new Configuration())

    val commands = processStarts {
      p.applyBatch(slice(1), 1L)
      GzArchive.writeArchive(archiveDf, archiveRoot, "u", "offset",
        chunkThreshold = 4096, recordsPerFile = 200)
      // the control: Hadoop's default local FS under the same recording
      val out = defaultFs.create(new Path(control, "probe.json"), true)
      out.close()
    }
    defaultFs.close()

    assert(p.lake.lastBatchId === 1L && p.journal.lastBatchId === 1L)
    val got = p.lake.read().count()
    assert(got === ChangeGen.oracleFinalState(changes).count())
    // the recording does see forks: without libhadoop, one create through
    // the default FS forks chmod for the file and its .crc sidecar
    if (!NativeIO.isAvailable)
      assert(commands.exists(_.contains(control)), commands)
    val onRoots = commands.filter(c =>
      Seq(journalRoot, lakeRoot, archiveRoot).exists(c.contains))
    assert(onRoots.isEmpty, s"${onRoots.size} process starts: ${onRoots.take(5)}")
    changes.unpersist()
  }

  private def mode(p: java.nio.file.Path): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  /** relative path → mode bits of every file and directory under `root` */
  private def modes(root: String): Map[String, String] = {
    val base = Paths.get(root)
    val s = Files.walk(base)
    try s.iterator().asScala.filter(_ != base)
      .map(p => base.relativize(p).toString -> mode(p)).toMap
    finally s.close()
  }

  test("files, .crc sidecars and directories get the default local FS's mode bits") {
    Seq("022", "027").foreach { umask =>
      val conf = new Configuration()
      conf.set("fs.permissions.umask-mode", umask)
      val plainRoot = SparkTestSession.tempDir("modes-default")
      val ownRoot = SparkTestSession.tempDir("modes-injvm")
      val plain = hadoopLocal(conf)
      val own = TableIO.fileSystem(new Path(ownRoot), conf)
      assert(plain.getClass === classOf[LocalFileSystem])
      assert(own.getClass === classOf[InJvmLocalFileSystem])
      try Seq(plain -> plainRoot, own -> ownRoot).foreach { case (fs, root) =>
        val out = fs.create(new Path(root, "a/b/data.json"), true)
        out.write("{}".getBytes("UTF-8"))
        out.close()
        fs.create(new Path(root, "c/empty.json"), true).close()
        fs.mkdirs(new Path(root, "d/e"))
        fs.mkdirs(new Path(root, "f"), new FsPermission("750"))
        fs.setPermission(new Path(root, "a/b/data.json"), new FsPermission("640"))
      } finally plain.close()
      val want = modes(plainRoot)
      assert(want.keySet.contains("a/b/.data.json.crc"))
      assert(want("f") === "rwxr-x---")
      assert(modes(ownRoot) === want, s"umask $umask")
    }
  }

  test("link status: plain files, directories, symlinks and missing paths match the parent") {
    val root = SparkTestSession.tempDir("linkstat")
    val file = Paths.get(root, "file.json")
    Files.write(file, "x".getBytes("UTF-8"))
    Files.createDirectory(Paths.get(root, "dir"))
    Files.createSymbolicLink(Paths.get(root, "link"), file)
    val conf = new Configuration()
    val parent = new RawLocalFileSystem()
    parent.initialize(new java.net.URI("file:///"), conf)
    val own = new InJvmRawLocalFileSystem()
    own.initialize(new java.net.URI("file:///"), conf)
    Seq("file.json", "dir", "link").foreach { name =>
      // both the qualified and the bare form reach this method in Hadoop
      Seq(new Path(s"file://$root/$name"), new Path(s"$root/$name")).foreach { p =>
        val a = parent.getFileLinkStatus(p)
        val b = own.getFileLinkStatus(p)
        assert((b.isFile, b.isDirectory, b.isSymlink, b.getLen, b.getPath) ===
          ((a.isFile, a.isDirectory, a.isSymlink, a.getLen, a.getPath)), p)
        if (a.isSymlink) assert(b.getSymlink === a.getSymlink)
      }
    }
    val missing = new Path(root, "missing")
    intercept[java.io.FileNotFoundException](parent.getFileLinkStatus(missing))
    intercept[java.io.FileNotFoundException](own.getFileLinkStatus(missing))
  }

  test("the commit store's rename contracts hold on the engine's local FS") {
    val root = SparkTestSession.tempDir("renames")
    val io = new TableIO(root, spark)
    assert(io.fs.isInstanceOf[InJvmLocalFileSystem])
    def read(rel: String) = io.readString(new Path(root, rel))
    def crc(rel: String) = Files.exists(Paths.get(root, s".$rel.crc"))

    io.writeString(new Path(root, "dest.json"), "old")
    io.writeString(new Path(root, "src.json"), "new")
    io.renameOverwrite(new Path(root, "src.json"), new Path(root, "dest.json"))
    assert(read("dest.json") === "new")
    assert(!Files.exists(Paths.get(root, "src.json")) && !crc("src.json"))
    assert(crc("dest.json"), "the checksum sidecar moves with the file")

    io.writeString(new Path(root, "claim.json"), "claim")
    intercept[FileAlreadyExistsException](
      io.renameNoOverwrite(new Path(root, "claim.json"), new Path(root, "dest.json")))
    assert(read("dest.json") === "new" && read("claim.json") === "claim")

    intercept[java.io.FileNotFoundException](
      io.renameOverwrite(new Path(root, "gone.json"), new Path(root, "dest.json")))
    intercept[java.io.FileNotFoundException](
      io.renameNoOverwrite(new Path(root, "gone.json"), new Path(root, "fresh.json")))
    assert(read("dest.json") === "new")

    // an overwrite-rename onto an existing file replaces it with one raw
    // rename: deleting the destination first would leave a window with
    // nothing there (for snapshot.json, no table)
    val conf = spark.sessionState.newHadoopConf()
    val raw = new RecordingRawLocalFs(FsConstants.LOCAL_FS_URI, conf)
    val fc = FileContext.getFileContext(new ChecksumFs(raw) {}, conf)
    def qualified(rel: String) = new Path(Paths.get(root, rel).toUri)
    io.writeString(new Path(root, "next.json"), "next")
    fc.rename(qualified("next.json"), qualified("dest.json"), Options.Rename.OVERWRITE)
    assert(read("dest.json") === "next" && crc("dest.json") && !crc("next.json"))
    assert(!raw.ops.asScala.exists(_.startsWith("delete")), raw.ops)
  }

  /** Runs `body` with `cls` bound as the session's uncached `file:` class,
    * through the context's Hadoop conf or through the session's SQL conf.
    */
  private def boundFileClass[T](cls: Class[_], viaSqlConf: Boolean)(body: => T): T = {
    val keys = Seq("fs.file.impl" -> cls.getName, "fs.file.impl.disable.cache" -> "true")
    if (viaSqlConf) {
      keys.foreach { case (k, v) => spark.conf.set(k, v) }
      try body finally keys.foreach { case (k, _) => spark.conf.unset(k) }
    } else {
      val conf = spark.sparkContext.hadoopConfiguration
      val saved = keys.map { case (k, _) => k -> Option(conf.get(k)) }
      keys.foreach { case (k, v) => conf.set(k, v) }
      try body finally saved.foreach {
        case (k, Some(v)) => conf.set(k, v)
        case (k, None) => conf.unset(k)
      }
    }
  }

  /** With `cls` bound by the session, TableIO and the engine's writes keep
    * it, and it sees the staging creates of a batch and an archive write.
    */
  private def keepsSessionClass(cls: Class[_], viaSqlConf: Boolean): Unit = {
    val journalRoot = SparkTestSession.tempDir("boundj")
    val lakeRoot = SparkTestSession.tempDir("boundl")
    val archiveRoot = SparkTestSession.tempDir("bounda")
    RecordsCreates.created.clear()
    boundFileClass(cls, viaSqlConf) {
      val io = new TableIO(lakeRoot, spark)
      assert(io.fs.getClass === cls)
      assert(io.writeOptions.isEmpty)
      val changes = ChangeGen.changes(spark, 400, nKeys = 40, partitions = 4)
      val p = new CdcPipeline(spark, journalRoot, lakeRoot, chunkBytes = 4096,
        subBuckets = 4)
      p.applyBatch(changes, 0L)
      GzArchive.writeArchive(changes.select(col("partition"), col("offset"),
        coalesce(col("content"), lit("")).as("line")),
        archiveRoot, "t", "offset", chunkThreshold = 4096)
    }
    val created = RecordsCreates.created.asScala.toSeq
    def under(dir: String) = created.filter(_.startsWith(dir))
    assert(under(s"$lakeRoot/_staging/").exists(_.endsWith(".parquet")), created)
    assert(under(s"$journalRoot/_staging/").exists(_.endsWith(".parquet")), created)
    assert(under(s"$lakeRoot/").exists(_.contains("snapshot.json.tmp-")), created)
    assert(under(s"$archiveRoot/.inprogress/").exists(_.endsWith(".gz")), created)
    // back at the default binding, the engine's class serves the same tables
    assert(new TableIO(lakeRoot, spark).fs.getClass === classOf[InJvmLocalFileSystem])
    assert(new CdcPipeline(spark, journalRoot, lakeRoot, subBuckets = 4)
      .lake.read().count() > 0)
  }

  test("a session that binds its own file: class keeps it for tables, writes and archives") {
    keepsSessionClass(classOf[RecordingLocalFileSystem], viaSqlConf = false)
  }

  test("a file: class bound with spark.conf.set, even a subclass of the engine's, is kept") {
    keepsSessionClass(classOf[RecordingInJvmLocalFileSystem], viaSqlConf = true)
  }

  test("archive reads open cursors, indexes and data through a file: class bound with spark.conf.set") {
    val textRoot = SparkTestSession.tempDir("boundread-t")
    val binRoot = SparkTestSession.tempDir("boundread-b")
    val changes = ChangeGen.changes(spark, 400, nKeys = 40, partitions = 4)
    GzArchive.writeArchive(changes.select(col("partition"), col("offset"),
      coalesce(col("content"), lit("")).as("line")),
      textRoot, "t", "offset", chunkThreshold = 4096)
    GzArchive.writeArchiveBinary(changes.select(col("partition"), col("offset"),
      encode(col("path"), "UTF-8").as("key"), encode(coalesce(col("content"), lit("")),
        "UTF-8").as("value")), binRoot, "t", "offset", chunkThreshold = 4096)
    /** the opens `read` makes with the recording class bound, as paths
      * under `root`; every `.gz` open costs one status call (the checksummed
      * FS's checker makes it), so chunk and header reads take no second
      * checker
      */
    def opensOf(root: String)(read: => Long): Seq[String] = {
      RecordsCreates.opened.clear()
      RecordsCreates.statused.clear()
      val n = boundFileClass(classOf[RecordingInJvmLocalFileSystem], viaSqlConf = true)(read)
      assert(n === 400L)
      def under(q: java.util.concurrent.ConcurrentLinkedQueue[String]) =
        q.asScala.toSeq.filter(_.startsWith(s"$root/")).map(_.stripPrefix(s"$root/"))
      val opens = under(RecordsCreates.opened)
      val statuses = under(RecordsCreates.statused)
      (opens ++ statuses).filter(_.endsWith(".gz")).distinct.foreach { gz =>
        assert(statuses.count(_ == gz) === opens.count(_ == gz),
          s"$gz: status calls per open")
      }
      opens
    }
    val committed = opensOf(textRoot)(GzArchive.readCommitted(spark, textRoot, "t").count())
    assert(committed.count(_.startsWith("last_chunk_index.t-")) === 4, committed)
    assert(committed.count(_.endsWith(".index.json")) === 4, committed)
    assert(committed.exists(_.endsWith(".gz")), committed)
    val resumed = opensOf(textRoot)(
      GzArchive.readFrom(spark, textRoot, Map.empty).count())
    assert(resumed.count(_.endsWith(".index.json")) === 4, resumed)
    assert(resumed.exists(_.endsWith(".gz")), resumed)
    val binary = opensOf(binRoot)(GzArchive.readBinary(spark, binRoot).count())
    assert(binary.count(_.endsWith(".index.json")) === 4, binary)
    assert(binary.exists(_.endsWith(".gz")), binary)
  }

  test("only file: roots are rebound") {
    val conf = new Configuration()
    conf.set("fs.recording.impl", classOf[RecordingLocalFileSystem].getName)
    conf.set("fs.recording.impl.disable.cache", "true")
    val other = new Path("recording:///tmp/x")
    assert(TableIO.fileSystem(other, conf).getClass === classOf[RecordingLocalFileSystem])
    assert(!TableIO.bindsInJvmLocal(other, conf))
    conf.set("fs.AbstractFileSystem.file.impl", "org.example.OwnFs")
    assert(!TableIO.fileSystem(new Path("/tmp/x"), conf).isInstanceOf[InJvmLocalFileSystem])
  }
}

/** Records the path of every create, open and status call: the mark of a
  * session-bound `file:` class being used.
  */
trait RecordsCreates extends org.apache.hadoop.fs.FileSystem {
  abstract override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: org.apache.hadoop.util.Progressable)
      : org.apache.hadoop.fs.FSDataOutputStream = {
    RecordsCreates.created.add(f.toUri.getPath)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }

  abstract override def open(f: Path, bufferSize: Int): org.apache.hadoop.fs.FSDataInputStream = {
    RecordsCreates.opened.add(f.toUri.getPath)
    super.open(f, bufferSize)
  }

  abstract override def getFileStatus(f: Path): org.apache.hadoop.fs.FileStatus = {
    RecordsCreates.statused.add(f.toUri.getPath)
    super.getFileStatus(f)
  }
}

object RecordsCreates {
  val created = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  val opened = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  val statused = new java.util.concurrent.ConcurrentLinkedQueue[String]()
}

class RecordingLocalFileSystem extends LocalFileSystem with RecordsCreates

class RecordingInJvmLocalFileSystem extends InJvmLocalFileSystem with RecordsCreates

/** The engine's raw `file:` AbstractFileSystem, recording the deletes and
  * plain renames that FileContext renames issue on it.
  */
class RecordingRawLocalFs(uri: java.net.URI, conf: Configuration)
    extends InJvmRawLocalFs(uri, conf) {
  val ops = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  override def delete(f: Path, recursive: Boolean): Boolean = {
    ops.add(s"delete ${f.getName}")
    super.delete(f, recursive)
  }
  override def renameInternal(src: Path, dst: Path): Unit = {
    ops.add(s"rename ${src.getName} -> ${dst.getName}")
    super.renameInternal(src, dst)
  }
}
