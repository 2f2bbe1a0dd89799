package perfbench

import java.net.URI
import java.util.EnumSet
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs._
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

import scala.jdk.CollectionConverters._

/** Filesystem operation counts by (root tag, kind), filled by the counting
  * filesystems below. A path is tagged with the registered root it lies
  * under ("lake", "journal", "archive", ...) or "other". Only the outermost
  * call on a thread counts, so a public method that calls another public
  * method of the same filesystem (create → mkdirs, exists → getFileStatus)
  * is one operation.
  */
object FsOps {
  @volatile private var roots: Vector[(String, String)] = Vector.empty
  private val counts = new ConcurrentHashMap[String, LongAdder]()
  private val depth = ThreadLocal.withInitial[Array[Int]](() => Array(0))

  def register(tag: String, dir: String): Unit =
    roots = (roots :+ (new Path(dir).toUri.getPath.stripSuffix("/") + "/" -> tag))
      .sortBy(-_._1.length)

  def tagOf(p: Path): String = {
    val s = p.toUri.getPath
    roots.collectFirst { case (prefix, tag) if s.startsWith(prefix) || s + "/" == prefix => tag }
      .getOrElse("other")
  }

  /** creates of data files (parquet parts, archive .gz) by tag */
  private def dataFile(p: Path): Boolean = {
    val n = p.getName
    !n.startsWith(".") && (n.endsWith(".parquet") || n.endsWith(".gz"))
  }

  def op[T](p: Path, kind: String)(body: => T): T = {
    val d = depth.get()
    if (d(0) == 0) {
      val tag = tagOf(p)
      counts.computeIfAbsent(s"$tag.$kind", _ => new LongAdder).increment()
      if (kind == "create" && dataFile(p))
        counts.computeIfAbsent(s"$tag.data_files", _ => new LongAdder).increment()
    }
    d(0) += 1
    try body finally d(0) -= 1
  }

  def snapshot(): Map[String, Long] =
    counts.asScala.map { case (k, v) => k -> v.sum }.toMap
}

/** Hadoop's default `file:` FileSystem with every metadata call counted.
  * Behaviour and bytes on disk (including `.crc` sidecars) are the parent's.
  */
class CountingLocalFileSystem extends LocalFileSystem {
  override def open(f: Path, bufferSize: Int): FSDataInputStream =
    FsOps.op(f, "open")(super.open(f, bufferSize))
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    FsOps.op(f, "create")(super.create(f, permission, overwrite, bufferSize,
      replication, blockSize, progress))
  override def createNonRecursive(f: Path, permission: FsPermission,
      flags: EnumSet[CreateFlag], bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream =
    FsOps.op(f, "create")(super.createNonRecursive(f, permission, flags,
      bufferSize, replication, blockSize, progress))
  override def rename(src: Path, dst: Path): Boolean =
    FsOps.op(src, "rename")(super.rename(src, dst))
  override def delete(f: Path, recursive: Boolean): Boolean =
    FsOps.op(f, "delete")(super.delete(f, recursive))
  override def listStatus(f: Path): Array[FileStatus] =
    FsOps.op(f, "list")(super.listStatus(f))
  override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] =
    FsOps.op(f, "list")(super.listLocatedStatus(f))
  override def listStatusIterator(f: Path): RemoteIterator[FileStatus] =
    FsOps.op(f, "list")(super.listStatusIterator(f))
  override def getFileStatus(f: Path): FileStatus =
    FsOps.op(f, "get_status")(super.getFileStatus(f))
  override def mkdirs(f: Path, permission: FsPermission): Boolean =
    FsOps.op(f, "mkdirs")(super.mkdirs(f, permission))
}

/** The raw `file:` AbstractFileSystem, built the way Hadoop's own RawLocalFs
  * is (its constructor is package-private).
  */
class CountingRawFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new RawLocalFileSystem(), conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults()
  override def getServerDefaults(): FsServerDefaults =
    LocalConfigKeys.getServerDefaults()
  override def isValidName(src: String): Boolean = true
}

/** Hadoop's default `file:` AbstractFileSystem (what FileContext renames go
  * through) with the same counting as [[CountingLocalFileSystem]].
  */
class CountingLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new CountingRawFs(uri, conf)) {
  override def open(f: Path, bufferSize: Int): FSDataInputStream =
    FsOps.op(f, "open")(super.open(f, bufferSize))
  override def createInternal(f: Path, flag: EnumSet[CreateFlag],
      absolutePermission: FsPermission, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable, checksumOpt: Options.ChecksumOpt,
      createParent: Boolean): FSDataOutputStream =
    FsOps.op(f, "create")(super.createInternal(f, flag, absolutePermission,
      bufferSize, replication, blockSize, progress, checksumOpt, createParent))
  override def renameInternal(src: Path, dst: Path): Unit =
    FsOps.op(src, "rename")(super.renameInternal(src, dst))
  override def renameInternal(src: Path, dst: Path, overwrite: Boolean): Unit =
    FsOps.op(src, "rename")(super.renameInternal(src, dst, overwrite))
  override def delete(f: Path, recursive: Boolean): Boolean =
    FsOps.op(f, "delete")(super.delete(f, recursive))
  override def listStatus(f: Path): Array[FileStatus] =
    FsOps.op(f, "list")(super.listStatus(f))
  override def getFileStatus(f: Path): FileStatus =
    FsOps.op(f, "get_status")(super.getFileStatus(f))
  override def mkdir(dir: Path, permission: FsPermission, createParent: Boolean): Unit =
    FsOps.op(dir, "mkdirs")(super.mkdir(dir, permission, createParent))
}

/** Spark task metrics summed per job group. The benchmark sets a group
  * (e.g. `lake.merge#12`) on the calling thread before each call into a
  * layer; jobs that carry no group are summed under `unattributed`.
  */
final class JobGroupMetrics extends SparkListener {
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val sums = new ConcurrentHashMap[String, ConcurrentHashMap[String, LongAdder]]()

  private def add(group: String, key: String, v: Long): Unit =
    sums.computeIfAbsent(group, _ => new ConcurrentHashMap[String, LongAdder]())
      .computeIfAbsent(key, _ => new LongAdder).add(v)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("unattributed")
    e.stageIds.foreach(s => stageGroup.putIfAbsent(s, g))
    add(g, "jobs", 1)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    add(stageGroup.getOrDefault(e.stageInfo.stageId, "unattributed"), "stages", 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val g = stageGroup.getOrDefault(e.stageId, "unattributed")
    add(g, "tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      add(g, "executor_run_ms", m.executorRunTime)
      add(g, "shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      add(g, "shuffle_read_bytes",
        m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead)
      add(g, "spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
      add(g, "records_written", m.outputMetrics.recordsWritten)
      add(g, "bytes_written", m.outputMetrics.bytesWritten)
      add(g, "bytes_read", m.inputMetrics.bytesRead)
    }
  }

  /** Block until the listener bus has delivered every posted event (the
    * bus is asynchronous; its drain method is Spark-internal).
    */
  def drain(sc: SparkContext): Unit = {
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  def snapshot(): Map[String, Map[String, Long]] =
    sums.asScala.map { case (g, m) => g -> m.asScala.map { case (k, v) => k -> v.sum }.toMap }.toMap
}
