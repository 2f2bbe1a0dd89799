package graft

import java.net.URI
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._
import scala.util.Try

import graft.gen.ChangeGen
import graft.lake.{ChangeJournal, ConcurrentCommitException, InJvmLocalFileSystem, InJvmLocalFs, Json, LakeTable}
import graft.sources.GzArchive
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Crash points of the publish and commit windows: every metadata
  * operation fails once, either before the operation or after it (a lost
  * acknowledgement); in the maintenance pass, the writer also dies there. The commit window runs from a commit's plan-coherence
  * read to its snapshot swap; the publish window from the first operation
  * of `TableIO.publish` (staged files promoted to their names) to the
  * commit, or to the end of an archive write (indexes, cursors, scratch
  * sweep). Covered: one steady-state lake merge, one journal append and one
  * lake compact in both windows, one archive write into an existing root,
  * and the metadata writes of one maintenance pass (a journal truncate, then
  * a lake vacuum).
  * Whatever the faulted call did, fresh instances on the same roots then
  * replay the batch, and it must hold exactly once: the lake equals the LWW oracle,
  * the journal yields each offset once, no manifest names a missing file;
  * the archive's committed read equals its input and every cursor names an
  * index whose data file exists. The faults go through a `file:` class
  * bound with `spark.conf.set`, the seam [[LocalFsSpec]] uses, so they hit
  * the engine's own filesystem calls and its FileContext renames alike.
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

  /** The window's operations, by a dry run with counting only (which must
    * see each of `kinds`), then one faulted run per (operation,
    * before/after) of the kinds `faulted` selects (all by default). A point
    * names its operation by kind, path and occurrence, so the publish
    * fan-out's parallel renames are found in any order. Points are
    * independent roots, so they run three at a time. With `crashStop` the
    * faulted run dies at its point: every later operation on the root fails
    * too, so no retry inside the run gets past it.
    */
  private def enumerate(template: String, tag: String, window: CommitFaults.Window,
      kinds: Set[String], faulted: String => Boolean = _ => true, crashStop: Boolean = false)
      (batch: String => Long)(check: (String, String) => Unit): Seq[Point] = {
    val dry = copyTree(template, s"$tag-dry")
    CommitFaults.arm(dry, window)
    batch(dry): Unit
    val ops = CommitFaults.disarm(dry).ops
    assert(kinds.subsetOf(ops.map(_.kind).toSet), ops)
    val points = for {
      (op, i) <- ops.zipWithIndex if faulted(op.kind)
      after <- Seq(false, true)
    } yield Point(i + 1, after, op)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    try points.map { pt =>
      pool.submit(new java.util.concurrent.Callable[Unit] {
        def call(): Unit = {
          val root = copyTree(template, tag)
          CommitFaults.arm(root, window, Some(pt.op), pt.after, crashStop)
          Try(batch(root)): Unit
          val seen = CommitFaults.disarm(root)
          assert(seen.fired, s"$pt: the faulted run took other operations: ${seen.ops}")
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

  /** the kinds a maintenance pass's points fail: its metadata writes */
  private val maintenanceFaulted = Set("create", "rename", "delete")

  // the commit window, then the promotes before it
  private val windows = Seq(
    ("commit-window", CommitFaults.commitWindow, Set("open", "create", "rename")),
    ("publish-window", CommitFaults.publishWindow, Set("mkdirs", "rename", "delete")))

  for ((name, window, kinds) <- windows) {
    test(s"every $name operation of a steady-state lake merge recovers exactly once") {
      val (changes, b0, b1) = fixture()
      val want = rows(ChangeGen.oracleFinalState(changes))
      withFaultingFs {
        val template = SparkTestSession.tempDir("crash-lake")
        new LakeTable(template, spark, subBuckets = 2).merge(b0, 0L)
        val points = enumerate(template, "crash-lake-pt", window, kinds) { root =>
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

    test(s"every $name operation of a steady-state journal append recovers exactly once") {
      val (changes, b0, b1) = fixture()
      val want = changes.select(col("partition"), col("offset")).collect()
        .map(r => (r.getInt(0), r.getLong(1))).toSeq.sorted
      withFaultingFs {
        val template = SparkTestSession.tempDir("crash-journal")
        new ChangeJournal(template, spark, chunkBytes = 2048).append(b0, 0L)
        val points = enumerate(template, "crash-journal-pt", window, kinds) { root =>
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

    test(s"every $name operation of a lake compact recovers exactly once") {
      val (changes, b0, b1) = fixture()
      val want = rows(ChangeGen.oracleFinalState(changes))
      withFaultingFs {
        val template = SparkTestSession.tempDir("crash-compact")
        new LakeTable(template, spark, subBuckets = 2).merge(b0, 0L)
        new LakeTable(template, spark, subBuckets = 2).merge(b1, 1L)
        val points = enumerate(template, "crash-compact-pt", window, kinds) { root =>
          new LakeTable(root, spark, subBuckets = 2).compact(3)
          0L
        } { (root, what) =>
          val lake = new LakeTable(root, spark, subBuckets = 2)
          assert(lake.layoutSubBuckets === 3, what)
          assert(rows(lake.read()) === want, what)
          assertManifestsResolve(root, what)
        }
        info(s"${points.size} crash points: ${points.mkString("; ")}")
      }
      changes.unpersist()
    }
  }

  test("every publish-window operation of an archive write into an existing root recovers exactly once") {
    import spark.implicits._
    // 2 partitions × 40 records; the template holds offsets 0-19 of each,
    // the enumerated write appends 20-39 at the offsets the caller knows
    val all = for (p <- 0 until 2; o <- 0 until 40) yield (p, o.toLong, s"p$p rec $o")
    def frame(from: Int) = all.filter(r => r._2 >= from && r._2 < from + 20)
      .toDF("partition", "k", "line")
    def write(root: String, from: Int): Long = {
      GzArchive.writeArchive(frame(from), root, "t", "k", chunkThreshold = 256,
        startOffsets = if (from == 0) Map.empty else Map(0 -> 20L, 1 -> 20L))
      0L
    }
    withFaultingFs {
      val template = SparkTestSession.tempDir("crash-archive")
      write(template, 0)
      val points = enumerate(template, "crash-archive-pt", CommitFaults.archiveWindow,
        Set("mkdirs", "rename", "create", "delete", "list"))(write(_, 20)) { (root, what) =>
        val got = GzArchive.readCommitted(spark, root, "t")
          .select(col("partition"), col("offset"), col("value")).collect()
          .map(r => (r.getInt(0), r.getLong(1), r.getString(2))).toSeq.sorted
        assert(got === all.sorted, s"$what: the committed read is the input, once")
        assert(GzArchive.fetchOffsets(spark, root, "t") === Map(0 -> 40L, 1 -> 40L), what)
        (0 until 2).foreach { p =>
          val key = new String(Files.readAllBytes(
            Paths.get(root, GzArchive.cursorFileName("t", p))), "UTF-8").trim
          assert(Files.exists(Paths.get(root, key)), s"$what: cursor $p names $key")
          assert(Files.exists(Paths.get(root, key.stripSuffix(".index.json") + ".gz")),
            s"$what: cursor $p names an index without its data file")
        }
      }
      info(s"${points.size} crash points: ${points.mkString("; ")}")
    }
  }

  test("every metadata write of a maintenance pass (journal truncate, lake vacuum) recovers exactly once") {
    // four batches of 20 offsets of one partition into both tables. The
    // pass truncates the journal's files at or below offset 19 (batch 0,
    // reaped at once, so after recovery data/ holds only live files). The
    // truncate commits version 4, a checkpoint at the journal's cadence of
    // 2, so the journal's manifests 0-3 retire with it. The pass keeps the
    // lake's last 2 versions, so vacuum materializes delta version 2 in
    // place before it deletes versions 0 (the checkpoint) and 1 (a delta).
    val changes = ChangeGen.changes(spark, 80, nKeys = 12, partitions = 1).cache()
    val want = rows(ChangeGen.oracleFinalState(changes))
    val surviving = changes.where(col("offset") > 19).select(col("partition"), col("offset"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq.sorted
    def journal(root: String) =
      new ChangeJournal(s"$root/journal", spark, chunkBytes = 2048, checkpointEvery = 2)
    def lake(root: String) = new LakeTable(s"$root/lake", spark, subBuckets = 1)
    withFaultingFs {
      val template = SparkTestSession.tempDir("crash-maint")
      (0 until 4).foreach { b =>
        val batch = changes.where(col("offset") >= b * 20 && col("offset") < b * 20 + 20)
        journal(template).append(batch, b)
        lake(template).merge(batch, b)
      }
      // each point once as one failed operation (which a retry inside the
      // pass may absorb) and once as the pass dying there
      for (crashStop <- Seq(false, true)) {
        val points = enumerate(template, "crash-maint-pt", CommitFaults.maintenanceWindow,
          Set("open", "create", "rename", "delete", "list"), maintenanceFaulted, crashStop) { root =>
          journal(root).truncate(Map(0 -> 19L), graceMs = 0L)
          lake(root).vacuum(keepLast = 2, orphanGraceMs = 0L)._2.toLong
        } { (root, what0) =>
          val what = if (crashStop) s"dying $what0" else what0
          val l = lake(root)
          assert(rows(l.read()) === want, what)
          assertManifestsResolve(s"$root/lake", what)
          val j = journal(root)
          val got = j.readFrom(Map.empty).select(col("partition"), col("offset"))
            .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq.sorted
          // (the read fails on a listed file that is missing)
          assert(got === surviving, s"$what: each surviving offset exactly once")
          // and a dropped file is reclaimed (grace 0), never leaked
          val live = j.chunkIndex().select("path").distinct().collect().map(_.getString(0)).toSet
          val onDisk = new java.io.File(s"$root/journal/data").list().toSet
            .filterNot(_.startsWith(".")).map("data/" + _)
          assert(onDisk === live, s"$what: the journal's data/ holds exactly its live files")
        }
        info(s"${points.size} ${if (crashStop) "dying" else "failing"} points: " +
          points.mkString("; "))
      }
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
      CommitFaults.arm(root, CommitFaults.fromStart)
      assert(journal.truncate(Map(0 -> 59L, 1 -> 59L), graceMs = 0L) === 2)
      val ops = CommitFaults.disarm(root).ops
      val opens = ops.filter(o => o.kind == "open" && o.rel == "snapshot.json")
      assert(opens.count(!_.inCas) === 2, ops)
      assert(journal.readFrom(Map.empty).count() === 120L)
    }
    changes.unpersist()
  }

  test("vacuum opens no manifest after its range fold") {
    // the fold parses each version once; the lineage roll-up of the doomed
    // versions and the shard GC of the kept ones take those manifests
    val changes = ChangeGen.changes(spark, 240, nKeys = 24, partitions = 2).cache()
    withFaultingFs {
      val root = SparkTestSession.tempDir("crash-vacuum")
      val lake = new LakeTable(root, spark, subBuckets = 2, checkpointEvery = 2,
        shardGroupSize = 1)
      (0 until 4).foreach { b =>
        lake.merge(changes.where(col("offset") >= b * 30 && col("offset") < b * 30 + 30), b)
      }
      val lineage = lake.lineage().collect().toSet
      CommitFaults.arm(root, CommitFaults.fromStart)
      val (_, manifestsDeleted) = lake.vacuum(keepLast = 2, orphanGraceMs = 0L)
      val ops = CommitFaults.disarm(root).ops
      assert(manifestsDeleted === 2)
      val fold = ops.lastIndexWhere(_.in("resolveRange"))
      assert(fold >= 0, ops)
      val reread = ops.drop(fold + 1)
        .filter(o => o.kind == "open" && o.rel.matches("""manifest-\d+\.json"""))
      assert(reread.isEmpty, ops)
      assert(lake.lineage().collect().toSet === lineage)
      assert(rows(lake.read()) === rows(ChangeGen.oracleFinalState(changes)))
    }
    changes.unpersist()
  }
}

object CommitCrashSpec {
  /** fail window operation `op` (the `k`-th of the dry run), before or after it runs */
  final case class Point(k: Int, after: Boolean, op: CommitFaults.Op) {
    override def toString = s"${if (after) "after" else "before"} op $k (${op.kind} ${op.rel}" +
      s"${if (op.n > 1) s" #${op.n}" else ""})"
  }
}

/** Counts, and fails once, the metadata operations of one window per armed
  * root (roots may be armed concurrently). A [[CommitFaults.Window]] opens
  * at the first operation on the root whose stack runs through its opening
  * method (or at once) and lasts until one runs through its closing method,
  * or until [[disarm]]. Only the outermost call on a thread is an
  * operation, so `create` → `mkdirs` or `exists` → `getFileStatus` count
  * once.
  */
object CommitFaults {
  final class InjectedFault(msg: String) extends java.io.IOException(msg)

  /** one operation: kind, root-relative path (a rename's destination; tmp
    * names shortened to `<name>.tmp`, their pid and clock dropped, and the
    * other per-run parts of a name — job UUIDs, Spark task attempt ids, a
    * lineage segment's clock — to placeholders),
    * its occurrence among the
    * window's operations of that kind and path, and the methods on its
    * thread's stack
    */
  final case class Op(kind: String, rel: String, n: Int, methods: Set[String]) {
    def in(method: String): Boolean = methods(method)
    /** ran inside the snapshot CAS */
    def inCas: Boolean = in("putIfVersion")
  }

  final case class Window(opensAt: Option[String], closesAt: Option[String])
  /** a commit's plan-coherence read to its snapshot swap */
  val commitWindow = Window(Some("requirePlanCoherent"), None)
  /** a table write's promotes, up to its commit */
  val publishWindow = Window(Some("publish"), Some("requirePlanCoherent"))
  /** an archive write's promotes, cursors and scratch sweep */
  val archiveWindow = Window(Some("publish"), None)
  /** a maintenance pass: a journal truncate, then a lake vacuum */
  val maintenanceWindow = Window(Some("truncate"), None)
  val fromStart = Window(None, None)

  /** what [[disarm]] returns: the window's operations, and whether the
    * armed fault fired
    */
  final case class Seen(ops: Seq[Op], fired: Boolean)

  private final class Armed(window: Window, fail: Option[Op], after: Boolean,
      crashStop: Boolean) {
    private var state = 0 // 0 before the window, 1 in it, 2 past it
    private val ops = scala.collection.mutable.ArrayBuffer.empty[Op]
    private var fired = false

    /** records an operation; Some(after) when it is the one to fail */
    def record(kind: String, rel: String): Option[Boolean] = synchronized {
      lazy val methods = Thread.currentThread().getStackTrace.map(_.getMethodName).toSet
      if (state == 0 && window.opensAt.forall(methods)) state = 1
      if (state == 1 && window.closesAt.exists(methods)) state = 2
      if (state != 1) None
      else {
        val op = Op(kind, rel, ops.count(o => o.kind == kind && o.rel == rel) + 1, methods)
        ops += op
        val hit = fail.exists(f => f.kind == kind && f.rel == rel && f.n == op.n)
        val dead = fired && crashStop
        if (hit) fired = true
        if (hit) Some(after) else if (dead) Some(false) else None
      }
    }

    def seen: Seen = synchronized(Seen(ops.toList, fired))
  }

  private val armed = new java.util.concurrent.ConcurrentHashMap[String, Armed]()
  private val depth = ThreadLocal.withInitial[Array[Int]](() => Array(0))

  private def prefix(dir: String) = new Path(dir).toUri.getPath.stripSuffix("/") + "/"

  /** count `dir`'s operations in `window`, failing `fail` (by kind, path
    * and occurrence) before it runs or, with `after`, after it; with
    * `crashStop`, every later operation of the window fails before it runs
    */
  def arm(dir: String, window: Window, fail: Option[Op] = None, after: Boolean = false,
      crashStop: Boolean = false): Unit =
    armed.put(prefix(dir), new Armed(window, fail, after, crashStop)): Unit

  /** the window's operations on `dir` since [[arm]] */
  def disarm(dir: String): Seen =
    Option(armed.remove(prefix(dir))).map(_.seen).getOrElse(Seen(Nil, fired = false))

  def disarmAll(): Unit = armed.clear()

  private def nested[T](body: => T): T = {
    val d = depth.get()
    d(0) += 1
    try body finally d(0) -= 1
  }

  def op[T](p: Path, kind: String)(body: => T): T = {
    if (depth.get()(0) > 0 || armed.isEmpty) return nested(body)
    val path = p.toUri.getPath + "/" // the root itself too
    val failing = armed.asScala.collectFirst { case (r, a) if path.startsWith(r) =>
      a.record(kind, ("./" + path.stripPrefix(r)).stripSuffix("/").stripPrefix("./")
        .replaceAll("""\.tmp-\d+-\d+$""", ".tmp").replaceAll(
          """[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}""", "<uuid>")
        .replaceAll("""(attempt|task)_\d+_\d+_m_\d+(_\d+)?""", "$1_<id>")
        .replaceAll("""(seg-\d{12})-[0-9a-f]{16}""", "$1-<ns>"))
    }.flatten
    if (failing.contains(false))
      throw new InjectedFault(s"injected failure before $kind $p")
    val r = nested(body)
    if (failing.contains(true)) {
      r match {
        case c: java.io.Closeable => c.close()
        case _ => ()
      }
      throw new InjectedFault(s"injected lost acknowledgement of $kind $p")
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
    CommitFaults.op(dst, "rename")(super.rename(src, dst))
  override def delete(f: Path, recursive: Boolean): Boolean =
    CommitFaults.op(f, "delete")(super.delete(f, recursive))
  override def listStatus(f: Path): Array[FileStatus] =
    CommitFaults.op(f, "list")(super.listStatus(f))
  override def getFileStatus(f: Path): FileStatus =
    CommitFaults.op(f, "get_status")(super.getFileStatus(f))
  override def mkdirs(f: Path, permission: FsPermission): Boolean =
    CommitFaults.op(f, "mkdirs")(super.mkdirs(f, permission))
  // FilterFileSystem sends the one-argument form straight to the raw FS
  override def mkdirs(f: Path): Boolean =
    CommitFaults.op(f, "mkdirs")(super.mkdirs(f))
}

/** The matching `file:` AbstractFileSystem: FileContext renames (the
  * commit store's overwrite and no-overwrite renames) go through it.
  */
class FaultingLocalFs(uri: URI, conf: Configuration) extends InJvmLocalFs(uri, conf) {
  override def renameInternal(src: Path, dst: Path, overwrite: Boolean): Unit =
    CommitFaults.op(dst, "rename")(super.renameInternal(src, dst, overwrite))
  override def renameInternal(src: Path, dst: Path): Unit =
    CommitFaults.op(dst, "rename")(super.renameInternal(src, dst))
}
