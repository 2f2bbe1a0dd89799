package graft

import java.net.URI
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._
import scala.util.Try

import graft.gen.ChangeGen
import graft.lake.{ChangeJournal, ConcurrentCommitException, InJvmLocalFileSystem, InJvmLocalFs, Json, LakeTable}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Crash points of the commit window: every metadata operation from a
  * commit's plan-coherence read to its snapshot swap fails once, either
  * before the operation or after it (a lost acknowledgement), for one
  * steady-state lake merge and one journal append. Whatever the faulted call
  * did, fresh instances on the same roots then replay the batch, and the
  * tables must hold exactly once: the lake equals the LWW oracle, the
  * journal yields each offset once, and no manifest names a missing file.
  * The faults go through a `file:` class bound with `spark.conf.set`, the
  * seam [[LocalFsSpec]] uses, so they hit the engine's own filesystem calls
  * and its FileContext renames alike.
  */
class CommitCrashSpec extends AnyFunSuite {
  import CommitCrashSpec.Point

  lazy val spark = SparkTestSession.spark

  private val bindings = Seq(
    "fs.file.impl" -> classOf[FaultingLocalFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true",
    "fs.AbstractFileSystem.file.impl" -> classOf[FaultingLocalFs].getName)

  private def withFaultingFs[T](body: => T): T = {
    bindings.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally {
      CommitFaults.disarmAll()
      bindings.foreach { case (k, _) => spark.conf.unset(k) }
    }
  }

  private def copyTree(from: String, tag: String): String = {
    val to = SparkTestSession.tempDir(tag)
    val src = Paths.get(from)
    val s = Files.walk(src)
    try s.iterator().asScala.filter(_ != src).foreach { p =>
      val d = Paths.get(to).resolve(src.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(d)
      else Files.copy(p, d, StandardCopyOption.COPY_ATTRIBUTES)
    } finally s.close()
    to
  }

  /** Every path a manifest under `root` names must exist: the files of
    * `files` / `added` listings, checkpoint shards, and the files the shards
    * list.
    */
  private def assertManifestsResolve(root: String, what: String): Unit = {
    def exists(rel: String) = Files.exists(Paths.get(root, rel))
    def paths(arr: com.fasterxml.jackson.databind.JsonNode): Seq[String] =
      if (arr == null) Nil else arr.elements().asScala.map(_.get("path").asText).toSeq
    val manifests = Option(new java.io.File(root).listFiles()).toSeq.flatten
      .map(_.getName).filter(_.matches("""manifest-\d+\.json"""))
    assert(manifests.nonEmpty, s"$what: no manifest under $root")
    manifests.foreach { name =>
      val m = Json.parse(new String(Files.readAllBytes(Paths.get(root, name)), "UTF-8"))
      val shardRels = Option(m.get("shards")).toSeq
        .flatMap(_.properties().asScala.map(_.getValue.asText))
      val missingShards = shardRels.filterNot(exists)
      assert(missingShards.isEmpty, s"$what: $name names missing shards $missingShards")
      val named = paths(m.get("files")) ++ paths(m.get("added")) ++ shardRels.flatMap(r =>
        paths(Json.parse(new String(Files.readAllBytes(Paths.get(root, r)), "UTF-8"))))
      val missing = named.filterNot(exists)
      assert(missing.isEmpty, s"$what: $name names missing files $missing")
    }
  }

  /** Runs the batch (on fresh instances) until it commits or is fenced. A
    * lost CAS tells the caller to re-read and retry, which is what a
    * restarted stream does with its batch.
    */
  private def replay(what: String)(run: => Long): Unit = {
    val first = Try(run)
    first.failed.foreach {
      case _: ConcurrentCommitException => run: Unit
      case e => fail(s"$what: replay failed", e)
    }
  }

  /** The window's operations, by a dry run with counting only, then one
    * faulted run per (operation, before/after). Points are independent
    * roots, so they run three at a time.
    */
  private def enumerate(template: String, tag: String)(batch: String => Long)
      (check: (String, String) => Unit): Seq[Point] = {
    val dry = copyTree(template, s"$tag-dry")
    CommitFaults.arm(dry, failAt = 0, after = false)
    batch(dry): Unit
    val ops = CommitFaults.disarm(dry)
    assert(Set("open", "create", "rename").subsetOf(ops.map(_.kind).toSet), ops)
    val points = for {
      (op, i) <- ops.zipWithIndex
      after <- Seq(false, true)
    } yield Point(i + 1, after, op.kind, op.rel)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    try points.map { pt =>
      pool.submit(new java.util.concurrent.Callable[Unit] {
        def call(): Unit = {
          val root = copyTree(template, tag)
          CommitFaults.arm(root, pt.k, pt.after)
          Try(batch(root)): Unit
          val seen = CommitFaults.disarm(root)
          assert(seen.size >= pt.k && seen(pt.k - 1).kind == pt.kind &&
            seen(pt.k - 1).rel == pt.rel,
            s"$pt: the faulted run took other operations: $seen")
          replay(pt.toString)(batch(root))
          check(root, pt.toString)
        }
      })
    }.foreach { f =>
      try f.get()
      catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
    } finally pool.shutdownNow(): Unit
    points
  }

  private def rows(df: DataFrame): Set[(String, String, String, Long)] =
    df.select(col("repo"), col("path"), col("content"), col("offset")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3))).toSet

  // offsets 0-59 per partition are batch 0 (the table's first commit);
  // batch 1 (60-119) is the steady-state commit whose window is enumerated
  private def fixture() = {
    val changes = ChangeGen.changes(spark, 240, nKeys = 24, partitions = 2).cache()
    (changes, changes.where(col("offset") < 60), changes.where(col("offset") >= 60))
  }

  test("every commit-window operation of a steady-state lake merge recovers exactly once") {
    val (changes, b0, b1) = fixture()
    val want = rows(ChangeGen.oracleFinalState(changes))
    withFaultingFs {
      val template = SparkTestSession.tempDir("crash-lake")
      new LakeTable(template, spark, subBuckets = 2).merge(b0, 0L)
      val points = enumerate(template, "crash-lake-pt") { root =>
        new LakeTable(root, spark, subBuckets = 2).merge(b1, 1L)
      } { (root, what) =>
        val lake = new LakeTable(root, spark, subBuckets = 2)
        assert(lake.lastBatchId === 1L, what)
        assert(rows(lake.read()) === want, what)
        assertManifestsResolve(root, what)
      }
      info(s"${points.size} crash points: ${points.mkString("; ")}")
    }
    changes.unpersist()
  }

  test("every commit-window operation of a steady-state journal append recovers exactly once") {
    val (changes, b0, b1) = fixture()
    val want = changes.select(col("partition"), col("offset")).collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSeq.sorted
    withFaultingFs {
      val template = SparkTestSession.tempDir("crash-journal")
      new ChangeJournal(template, spark, chunkBytes = 2048).append(b0, 0L)
      val points = enumerate(template, "crash-journal-pt") { root =>
        new ChangeJournal(root, spark, chunkBytes = 2048).append(b1, 1L)
      } { (root, what) =>
        val journal = new ChangeJournal(root, spark, chunkBytes = 2048)
        assert(journal.lastBatchId === 1L, what)
        val got = journal.readFrom(Map.empty).select(col("partition"), col("offset"))
          .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq.sorted
        assert(got === want, s"$what: each offset exactly once")
        assertManifestsResolve(root, what)
      }
      info(s"${points.size} crash points: ${points.mkString("; ")}")
    }
    changes.unpersist()
  }

  test("a truncating maintenance pass opens snapshot.json twice outside the CAS") {
    // the pin and the plan-coherence read: the schema the commit carries
    // over comes from the pinned head, and the checkpoint version that
    // bounds the superseded manifests from the manifest the commit wrote
    val (changes, b0, b1) = fixture()
    withFaultingFs {
      val root = SparkTestSession.tempDir("crash-truncate")
      val journal = new ChangeJournal(root, spark, chunkBytes = 2048)
      journal.append(b0, 0L)
      journal.append(b1, 1L)
      CommitFaults.arm(root, failAt = 0, after = false, fromStart = true)
      assert(journal.truncate(Map(0 -> 59L, 1 -> 59L), graceMs = 0L) === 2)
      val ops = CommitFaults.disarm(root)
      val opens = ops.filter(o => o.kind == "open" && o.rel == "snapshot.json")
      assert(opens.count(!_.inCas) === 2, ops)
      assert(journal.readFrom(Map.empty).count() === 120L)
    }
    changes.unpersist()
  }
}

object CommitCrashSpec {
  /** fail window operation `k` (1-based) of `kind` on `rel`, before or after it runs */
  final case class Point(k: Int, after: Boolean, kind: String, rel: String) {
    override def toString = s"${if (after) "after" else "before"} op $k ($kind $rel)"
  }
}

/** Counts, and fails once, the metadata operations of one commit window
  * per armed root (roots may be armed concurrently). The window opens at the
  * first operation on the root whose stack runs through
  * `requirePlanCoherent` (the commit's plan-coherence read), or at once for
  * a root armed `fromStart`, and lasts until [[disarm]]. Only the outermost
  * call on a thread is an operation, so `create` → `mkdirs` or `exists` →
  * `getFileStatus` count once.
  */
object CommitFaults {
  final class InjectedFault(msg: String) extends java.io.IOException(msg)

  /** one operation: kind, root-relative path (tmp names shortened to
    * `<name>.tmp`, their pid and clock dropped) and whether it ran inside
    * the snapshot CAS (`putIfVersion`)
    */
  final case class Op(kind: String, rel: String, inCas: Boolean)

  private final class Armed(val failAt: Int, val after: Boolean, var open: Boolean) {
    val ops = scala.collection.mutable.ArrayBuffer.empty[Op]
  }

  private val armed = new java.util.concurrent.ConcurrentHashMap[String, Armed]()
  private val depth = ThreadLocal.withInitial[Array[Int]](() => Array(0))

  private def prefix(dir: String) = new Path(dir).toUri.getPath.stripSuffix("/") + "/"

  /** `failAt` = 1-based index of the window operation to fail, 0 = count only */
  def arm(dir: String, failAt: Int, after: Boolean, fromStart: Boolean = false): Unit =
    armed.put(prefix(dir), new Armed(failAt, after, fromStart)): Unit

  /** the window's operations on `dir` since [[arm]] */
  def disarm(dir: String): Seq[Op] =
    Option(armed.remove(prefix(dir))).map(a => a.synchronized(a.ops.toList)).getOrElse(Nil)

  def disarmAll(): Unit = armed.clear()

  private def nested[T](body: => T): T = {
    val d = depth.get()
    d(0) += 1
    try body finally d(0) -= 1
  }

  def op[T](p: Path, kind: String)(body: => T): T = {
    if (depth.get()(0) > 0 || armed.isEmpty) return nested(body)
    val path = p.toUri.getPath
    val hit = armed.asScala.collectFirst { case (r, a) if path.startsWith(r) => (r, a) }
    val (idx, failing, failAfter) = hit match {
      case None => (0, false, false)
      case Some((root, a)) =>
        lazy val stack = Thread.currentThread().getStackTrace.map(_.getMethodName)
        a.synchronized {
          if (!a.open && stack.contains("requirePlanCoherent")) a.open = true
          if (!a.open) (0, false, false)
          else {
            a.ops += Op(kind, path.stripPrefix(root).replaceAll("""\.tmp-\d+-\d+$""", ".tmp"),
              stack.contains("putIfVersion"))
            (a.ops.size, a.ops.size == a.failAt, a.after)
          }
        }
    }
    if (failing && !failAfter)
      throw new InjectedFault(s"injected failure before op $idx ($kind $path)")
    val r = nested(body)
    if (failing) {
      r match {
        case c: java.io.Closeable => c.close()
        case _ => ()
      }
      throw new InjectedFault(s"injected lost acknowledgement of op $idx ($kind $path)")
    }
    r
  }
}

/** The engine's in-JVM checksummed `file:` FileSystem with its metadata
  * operations routed through [[CommitFaults]].
  */
class FaultingLocalFileSystem extends InJvmLocalFileSystem {
  override def open(f: Path, bufferSize: Int): FSDataInputStream =
    CommitFaults.op(f, "open")(super.open(f, bufferSize))
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: org.apache.hadoop.util.Progressable): FSDataOutputStream =
    CommitFaults.op(f, "create")(super.create(f, permission, overwrite, bufferSize,
      replication, blockSize, progress))
  override def rename(src: Path, dst: Path): Boolean =
    CommitFaults.op(src, "rename")(super.rename(src, dst))
  override def delete(f: Path, recursive: Boolean): Boolean =
    CommitFaults.op(f, "delete")(super.delete(f, recursive))
  override def listStatus(f: Path): Array[FileStatus] =
    CommitFaults.op(f, "list")(super.listStatus(f))
  override def getFileStatus(f: Path): FileStatus =
    CommitFaults.op(f, "get_status")(super.getFileStatus(f))
  override def mkdirs(f: Path, permission: FsPermission): Boolean =
    CommitFaults.op(f, "mkdirs")(super.mkdirs(f, permission))
}

/** The matching `file:` AbstractFileSystem: FileContext renames (the
  * commit store's overwrite and no-overwrite renames) go through it.
  */
class FaultingLocalFs(uri: URI, conf: Configuration) extends InJvmLocalFs(uri, conf) {
  override def renameInternal(src: Path, dst: Path, overwrite: Boolean): Unit =
    CommitFaults.op(src, "rename")(super.renameInternal(src, dst, overwrite))
  override def renameInternal(src: Path, dst: Path): Unit =
    CommitFaults.op(src, "rename")(super.renameInternal(src, dst))
}
