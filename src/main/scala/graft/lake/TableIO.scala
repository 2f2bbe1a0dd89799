package graft.lake

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, FsConstants, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import java.nio.charset.StandardCharsets

/** Filesystem plumbing shared by the journal, the lake table and the
  * archive writer: snapshot pointer swap + manifest read/write, the one
  * publish path for staged files and the one stale-scratch sweep, via the
  * Hadoop FileSystem API so the same code runs on local disk here and on
  * HDFS/S3A on a real cluster.
  *
  * This is the generalization of the reference's publish protocol
  * (sink/.../S3Writer.java:61-81: upload data, then index, then overwrite the
  * `last_chunk_index.{topic}-{partition}.txt` cursor; readers trust only the
  * cursor). Our cursor is `snapshot.json`, swapped by atomic rename; data and
  * manifest files that lost a race are unreferenced garbage, exactly like the
  * reference's orphaned uploads (SURVEY.md §4 caveat).
  */
object TableIO {
  /** Test seam: invoked before every attempt of a retried commit-boundary
    * op; specs throw an IOException from here to simulate a transient
    * object-store failure. Production never touches it.
    */
  @volatile private[graft] var faultHook: String => Unit = _ => ()

  /** Audit seam: receives each [[TableIO.writeBuckets]] frame just before
    * its write action, tagged by the staging op (`merge`, `compact`,
    * `append`), so specs can assert the write job's physical plan. A no-op
    * in production.
    */
  @volatile private[graft] var planHook: (String, DataFrame) => Unit = (_, _) => ()

  /** Write-time Hadoop overrides for the engine's STAGING parquet writes
    * (merge/append/compact). These dirs are consumed solely by our own
    * promote protocol, which re-wipes staging on any retry and requires
    * exactly one part file per bucket dir — so the committer can take the
    * fast path: no `_SUCCESS` marker (one create per write saved) and
    * algorithm v2 (tasks publish straight into the staging dir at task
    * commit instead of a second driver-side merge-rename pass over every
    * file at job commit — with one file per touched bucket that pass was
    * O(touched buckets) serial renames per batch, and on an object store
    * each one is a copy). v1's extra safety only protects readers of the
    * job's output dir from partially-committed jobs, which our staged →
    * promote → CAS pipeline never exposes.
    */
  private[graft] val stagingWriteOptions: Map[String, String] = Map(
    "mapreduce.fileoutputcommitter.marksuccessfuljobs" -> "false",
    "mapreduce.fileoutputcommitter.algorithm.version" -> "2")

  /** Whether the engine serves `root` with [[InJvmLocalFileSystem]] — the
    * ONE place that choice is made. A `file:` root in a session that leaves
    * the `file:` classes (`fs.file.impl`, `fs.AbstractFileSystem.file.impl`)
    * at Hadoop's defaults gets it: Hadoop's checksummed local FS with its
    * `chmod`/`readlink` forks run inside the JVM, so the bytes, `.crc`
    * sidecars and mode bits on disk are unchanged. Any other root (HDFS,
    * S3A), and a session that binds its own `file:` class (a counting FS, a
    * test double), gets exactly what the session configures. `conf` is the
    * one Spark's writes use (`sessionState.newHadoopConf()`), so a class
    * bound with `spark.conf.set` counts as the session's own. The same idea
    * as Delta Lake picking its log store by path scheme.
    */
  private[graft] def bindsInJvmLocal(root: Path, conf: Configuration): Boolean = {
    def unset(key: String, default: String) =
      Option(conf.getTrimmed(key)).forall(v => v.isEmpty || v == default)
    val scheme = Option(root.toUri.getScheme)
      .getOrElse(FileSystem.getDefaultUri(conf).getScheme)
    scheme == "file" &&
      unset("fs.file.impl", classOf[org.apache.hadoop.fs.LocalFileSystem].getName) &&
      unset("fs.AbstractFileSystem.file.impl", classOf[org.apache.hadoop.fs.local.LocalFs].getName)
  }

  /** The Hadoop FileSystem the engine mutates `root` through (see
    * [[bindsInJvmLocal]]).
    */
  private[graft] def fileSystem(root: Path, conf: Configuration): FileSystem =
    fileSystem(root, conf, bindsInJvmLocal(root, conf))

  private def fileSystem(root: Path, conf: Configuration,
      inJvmLocal: Boolean): FileSystem =
    if (!inJvmLocal) root.getFileSystem(conf)
    else {
      val fs = new InJvmLocalFileSystem
      fs.initialize(FsConstants.LOCAL_FS_URI, conf)
      fs
    }

  /** The FileContext (rename with overwrite control) matching `fs`. */
  private def fileContext(fs: FileSystem, conf: Configuration,
      inJvmLocal: Boolean): FileContext =
    if (inJvmLocal) FileContext.getFileContext(new InJvmLocalFs(fs.getUri, conf), conf)
    else FileContext.getFileContext(fs.getUri, conf)

  /** Hadoop options for a Spark write into a root the engine serves with
    * [[InJvmLocalFileSystem]]: the write's tasks and committer resolve paths
    * from its own Hadoop conf, so the class is bound there, per write. The
    * cache is bypassed because Hadoop caches FileSystems by scheme, not by
    * class. Empty when the root keeps the session's own FS.
    */
  private def writeOptions(inJvmLocal: Boolean): Map[String, String] =
    if (!inJvmLocal) Map.empty
    else Map(
      "fs.file.impl" -> classOf[InJvmLocalFileSystem].getName,
      "fs.file.impl.disable.cache" -> "true")

  /** Parquet codec for DATA files: zstd. A 100-TB lever: storage cost and
    * scan IO trade against write CPU. Measured on the full pipeline shape
    * (BENCH/BASELINE.md, "r07: parquet codec"): zstd stores 43% fewer bytes
    * than snappy at indistinguishable ingest and scan time — on an object
    * store those bytes are also the transfer and request cost, so zstd
    * dominates. Manifests and snapshots are tiny JSON and unaffected.
    */
  private[lake] val dataCodec = "zstd"

  /** Whether `st` is a `*.tmp-{pid}-{nanos}` file of an atomic publish
    * (putAtomic / putIfAbsent / a CAS marker claim) last written before
    * `cutoff`: a crashed writer's leak, never a live peer's in-flight tmp,
    * which is younger than its own batch.
    */
  private[lake] def leakedTmp(st: org.apache.hadoop.fs.FileStatus, cutoff: Long): Boolean =
    st.isFile && st.getPath.getName.matches(""".*\.tmp-\d+-\d+""") &&
      st.getModificationTime < cutoff
}

/** A conditional snapshot publish lost its compare-and-swap: another writer
  * committed the version this writer expected to claim. The failed batch did
  * NOT commit (its staged data and manifest are unreferenced garbage for the
  * vacuum sweep); the caller must re-read the table state before retrying.
  * Loud by design — the reference never needs this because Kafka Connect
  * guarantees one task per partition (the cursor overwrite at
  * sink/.../S3Writer.java:142-153 is safe only under that exclusivity); a
  * shared lake table earns the same safety with a CAS commit instead.
  */
final class ConcurrentCommitException(msg: String)
  extends IllegalStateException(msg)

/** The atomic-publish primitive as a SEAM. Every durable mutation this
  * engine's commit protocol performs reduces to two operations — publish a
  * complete small object at a known name (snapshot/manifest/cursor swap) and
  * publish a staged file at its deterministic name (the tables' data files
  * and the archive's data and index files, all through
  * [[TableIO.publish]]) — and WHICH
  * filesystem mutation implements them atomically differs by store:
  * rename-with-overwrite on HDFS/local (the default below), a whole-object
  * overwrite PUT on S3 (the one mutation S3 does atomically — the
  * reference's entire publish protocol is built on it,
  * sink/.../S3Writer.java:142-153). Readers' contract is the seam's
  * contract: at `dest` they must only ever observe the previous complete
  * content or the new complete content, never absence-after-existence or a
  * torn prefix.
  *
  * Implementations receive the owning [[TableIO]] for its FileSystem
  * handles; they perform ONE logical publish per call and may throw — retry
  * policy (bounded, jittered) stays in TableIO, store-agnostic.
  */
trait CommitStore {
  /** Atomically materialize `content` at `dest`, overwriting any previous
    * version.
    */
  def putAtomic(io: TableIO, dest: Path, content: String): Unit

  /** Publish the staged file `src` at `dest`, overwriting. The staged
    * source is consumed on success; on failure it may survive as
    * unreferenced garbage for the staging sweep (never referenced by any
    * manifest, so harmless — the reference's orphaned-upload story).
    */
  def publishFile(io: TableIO, src: Path, dest: Path): Unit

  /** Compare-and-swap publish for the table's commit point. `dest` holds a
    * small JSON object carrying a monotonically increasing numeric
    * `version`; publish `content` (whose version is `expected + 1`) ONLY if
    * the version currently at `dest` equals `expected` (`-1` = dest must
    * not exist — a brand-new table). Returns false when the precondition
    * fails — another writer committed first — and the store must make the
    * check-and-publish atomic against its own concurrent callers.
    *
    * Idempotency contract: if `dest` already holds exactly `content` (a
    * retried publish that had in fact succeeded), return true — a retry of
    * one's own completed swap is success, not a lost race.
    */
  def putIfVersion(io: TableIO, dest: Path, content: String, expected: Long): Boolean

  /** Exclusive create: materialize `content` at `dest` ONLY if nothing
    * exists there, atomically against the store's own concurrent callers —
    * If-None-Match on an object store, no-overwrite rename on HDFS. Returns
    * false when `dest` already exists (some writer — possibly a crashed
    * one — claimed the name first). This is the claim primitive for
    * version-NAMED meta files (`manifest-v{N}`): [[putIfVersion]] guards
    * the pointer, but the pointer CAS alone cannot stop a raced loser from
    * overwriting the WINNER'S version-named file before its own swap fails
    * — the file write itself must be exclusive (Delta's LogStore
    * `putIfAbsent` is this exact primitive).
    */
  def putIfAbsent(io: TableIO, dest: Path, content: String): Boolean
}

/** Default store: single rename-with-OVERWRITE, atomic on HDFS and on the
  * engine's local binding, where it is one `rename(2)`
  * ([[InJvmRawLocalFs]]). Hadoop's own local AbstractFileSystem deletes the
  * destination before renaming, so a session that binds it (or another
  * `file:` class built on it) gives up that atomicity.
  */
object RenameCommitStore extends CommitStore {
  def putAtomic(io: TableIO, dest: Path, content: String): Unit = {
    // a failed attempt best-effort reclaims its own tmp
    val tmp = tmpFor(dest)
    try {
      io.writeString(tmp, content)
      io.renameOverwrite(tmp, dest)
    } catch {
      case t: Throwable =>
        try io.fs.delete(tmp, false): Unit catch { case _: Throwable => () }
        throw t
    }
  }

  /** one rename-with-overwrite: `dest` holds the previous file or the new
    * one, never nothing (a delete followed by a rename would leave it
    * absent in between)
    */
  def publishFile(io: TableIO, src: Path, dest: Path): Unit =
    io.renameOverwrite(src, dest)

  // Per-destination JVM locks: same-process writers (the spec's race, or two
  // pipelines in one driver) serialize the check-and-claim exactly; the
  // version-named marker rename below is the cross-PROCESS backstop (atomic
  // exclusive on HDFS; on a raw local fs the no-overwrite rename has the
  // usual check-then-act window, which is why the lock exists — the same
  // split Delta's single-driver LogStore documents for local/dev use).
  private val casLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** CAS markers retained below the published version (see the GC note in
    * [[putIfVersion]]): the roll-forward repair needs a surviving marker.
    */
  private[lake] val markerRetain = 8L

  /** A tmp name next to `dest`, unique per attempt: a FIXED tmp name would
    * let two racing writers (a zombie and its fenced successor both commit
    * here by design) interleave writes into one tmp file and rename a torn
    * mix over the destination — the exact torn-read failure the publishes
    * exist to prevent.
    */
  private def tmpFor(dest: Path) = new Path(dest.getParent, dest.getName +
    s".tmp-${ProcessHandle.current().pid()}-${System.nanoTime()}")

  /** Write a complete tmp file and rename it onto `dest` WITHOUT overwrite:
    * false when `dest` already exists. A crash mid-write leaves only an
    * unreferenced tmp, so an existing `dest` is always complete. No
    * exists() pre-check: the no-overwrite rename is the authority (throws
    * FileAlreadyExists on both HDFS and local FileContext), and the commit
    * path pays for every metadata RPC here (measured in BENCH/BASELINE.md,
    * "r07: the claim protocol's driver-side cost").
    */
  private def claim(io: TableIO, dest: Path, content: String): Boolean = {
    val tmp = tmpFor(dest)
    try {
      io.writeString(tmp, content)
      io.renameNoOverwrite(tmp, dest)
      true
    } catch {
      case _: org.apache.hadoop.fs.FileAlreadyExistsException =>
        try io.fs.delete(tmp, false): Unit
        catch { case _: Throwable => () }
        false // another writer claimed the name first
      case t: Throwable =>
        try io.fs.delete(tmp, false): Unit
        catch { case _: Throwable => () }
        throw t
    }
  }

  /** Exclusive create: [[claim]], the same primitive as the CAS markers
    * below — atomic on HDFS, JVM-lock-backstopped on a raw local fs. An
    * existing `dest` is always COMPLETE — the invariant the orphan
    * roll-forward in [[TableIO.resolveLostVersionClaim]] relies on.
    */
  def putIfAbsent(io: TableIO, dest: Path, content: String): Boolean = {
    // lock key = the PARENT dir, not the (version-unique) dest: claims are
    // one-per-commit, so per-dest interning would grow the JVM-singleton
    // map by one dead entry per commit forever. Per-table serialization is
    // exactly the putIfVersion granularity anyway (commits serialize on
    // the one snapshot path).
    val q = io.fs.makeQualified(dest.getParent).toString
    val lock = casLocks.computeIfAbsent(q, _ => new Object)
    lock.synchronized(claim(io, dest, content))
  }

  /** CAS via version-named claim markers + roll-forward.
    *
    * Claiming version v = expected+1 is a rename WITHOUT overwrite of a
    * complete tmp file onto `_cas/<dest>.v{v}` — exactly one claimer can
    * win, and a crash mid-write leaves no marker (the tmp is unreferenced
    * garbage), so an existing marker is always complete. The marker IS the
    * commit point: a writer that crashed between claiming and publishing
    * left a durable commit that the next caller ROLLS FORWARD into `dest`
    * before judging its own precondition — no committed version is ever
    * lost, and the crashed writer's restart sees its own commit (and is
    * deduped by the batch fence). Markers at or below the published
    * version are inert and GC'd opportunistically.
    */
  def putIfVersion(io: TableIO, dest: Path, content: String,
      expected: Long): Boolean = {
    val q = io.fs.makeQualified(dest).toString
    val lock = casLocks.computeIfAbsent(q, _ => new Object)
    lock.synchronized {
      val casDir = new Path(dest.getParent, "_cas")
      val prefix = dest.getName + ".v"
      def markerVersion(p: Path): Option[Long] = {
        val n = p.getName
        if (n.startsWith(prefix))
          scala.util.Try(n.drop(prefix.length).toLong).toOption
        else None
      }
      // list-and-catch / read-and-catch, not exists-then-act: each probe
      // is one metadata RPC the commit path pays every swap (BENCH/BASELINE.md,
      // r07 claim protocol)
      def listMarkers(): Seq[(Path, Long)] = io.listOrEmpty(casDir).toSeq
        .map(_.getPath).flatMap(p => markerVersion(p).map(p -> _))
      val markers = listMarkers()
      def destVersion(): Long =
        io.readIfExists(dest).map(Json.parse(_).get("version").asLong).getOrElse(-1L)
      // Publish `content` (version v) only if dest is still BEHIND v,
      // re-reading immediately before the PUT: in-JVM callers are
      // serialized by casLocks, but a peer PROCESS may have published a
      // newer version since our listing — an unconditional PUT here could
      // move the pointer BACKWARD (violating the snapshot-only-moves-
      // forward contract readers rely on). The re-read shrinks that TOCTOU
      // window to the read→PUT gap, and a regression that still slips
      // through is repaired IMMEDIATELY after the PUT: the newer version's
      // marker is retained (markerRetain below keeps the last K, so a
      // delayed PUT can no longer outlive its repair source — the r7
      // ADVICE sticky-regression mode), and the newest marker above the
      // re-read pointer is rolled forward on the spot. The repair's own
      // read→PUT gap shrinks the window again by the same argument; any
      // residue self-heals at the next putIfVersion. True cross-process
      // serialization needs a store-level conditional PUT — exactly what
      // an object-store CommitStore supplies.
      def publishIfBehind(v: Long, c: String): Unit =
        if (destVersion() < v) {
          putAtomic(io, dest, c)
          val cur2 = destVersion()
          listMarkers().filter(_._2 > cur2).sortBy(_._2).lastOption.foreach {
            case (p, mv) =>
              io.readIfExists(p).foreach(c2 =>
                if (destVersion() < mv) putAtomic(io, dest, c2))
          }
        }
      var cur = destVersion()
      // roll forward the highest committed-but-unpublished marker
      markers.filter(_._2 > cur).sortBy(_._2).lastOption.foreach {
        case (p, v) => publishIfBehind(v, io.readString(p)); cur = v
      }
      if (cur == expected + 1 && io.readString(dest) == content)
        return true // idempotent retry of our own completed publish
      if (cur != expected) return false
      val v = expected + 1
      // a cross-process claimer may beat us to v
      if (!claim(io, new Path(casDir, f"$prefix$v%012d"), content)) return false
      // our marker IS the commit point; the pointer publish is conditional
      // too (a peer that rolled our marker forward and committed v+1 must
      // not be regressed by our own delayed PUT)
      publishIfBehind(v, content)
      // GC only markers OLDER than the last `markerRetain` versions, never
      // everything at or below `expected`: a retained marker is the repair
      // source for publishIfBehind's post-PUT roll-forward — GC'ing at the
      // published version made a sufficiently delayed peer PUT a STICKY
      // pointer regression with nothing left to heal from (r7 ADVICE).
      // K small files of retention cost nothing; the sweep stays one
      // already-listed pass.
      markers.filter(_._2 <= expected - RenameCommitStore.markerRetain)
        .foreach { case (p, _) =>
          try io.fs.delete(p, false): Unit catch { case _: Throwable => () }
        }
      true
    }
  }
}

final class TableIO(val root: String, spark: SparkSession,
    store: CommitStore = RenameCommitStore) {
  // the conf Spark's own writes into this root resolve paths with, so the
  // engine's choice of FileSystem agrees with theirs
  private val conf = spark.sessionState.newHadoopConf()
  val rootPath = new Path(root)
  private val inJvmLocal = TableIO.bindsInJvmLocal(rootPath, conf)
  val fs: FileSystem = TableIO.fileSystem(rootPath, conf, inJvmLocal)

  /** Hadoop options every Spark write into this root carries (see
    * [[TableIO.writeOptions]]).
    */
  val writeOptions: Map[String, String] = TableIO.writeOptions(inJvmLocal)

  /** Bounded retry with jittered exponential backoff for driver-side FS
    * calls at the commit boundary (promote renames, snapshot swaps). Spark's
    * task retries don't cover these, and on an object store one flaky
    * copy/rename would otherwise fail the whole batch — the reference
    * retries its uploads the same way (common/.../S3.java:41-47, retry
    * count/backoff config S3ConfigurationConfig.java:108-110). Only
    * IOExceptions (transient-IO shaped) retry; contract violations
    * (IllegalArgument/IllegalState) propagate immediately.
    */
  private def retry[T](tag: String, attempts: Int = 4)(body: => T): T = {
    var delay = 100L
    var n = 0
    while (true) {
      n += 1
      try {
        TableIO.faultHook(tag)
        return body
      } catch {
        case e: java.io.IOException =>
          if (n >= attempts) throw e
          Thread.sleep(delay / 2 +
            java.util.concurrent.ThreadLocalRandom.current().nextLong(delay / 2 + 1))
          delay *= 2
      }
    }
    throw new IllegalStateException("unreachable")
  }

  def snapshotPath = new Path(rootPath, "snapshot.json")

  def readString(p: Path): String = {
    val in = fs.open(p)
    try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
  }

  /** `p`'s content, None when it does not exist. Read-and-catch, not
    * exists-then-read: one RPC instead of two, and no TOCTOU against a
    * concurrent create or delete between the probe and the open.
    */
  def readIfExists(p: Path): Option[String] =
    try Some(readString(p))
    catch { case _: java.io.FileNotFoundException => None }

  def writeString(p: Path, s: String): Unit = {
    // no mkdirs: FileSystem.create makes parents (Hadoop contract, all
    // impls here), and the commit path pays 3 writeStrings per commit —
    // the redundant mkdirs was one metadata RPC each (BENCH/BASELINE.md r07)
    val out = fs.create(p, true)
    try out.write(s.getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  private lazy val fc = TableIO.fileContext(fs, conf, inJvmLocal)

  /** Single rename-with-OVERWRITE (FileContext — FileSystem.rename has no
    * overwrite flag). Exposed for [[RenameCommitStore]]; atomic on HDFS and
    * on the engine's local binding (see [[RenameCommitStore]]).
    */
  private[graft] def renameOverwrite(src: Path, dest: Path): Unit =
    fc.rename(fs.makeQualified(src), fs.makeQualified(dest),
      org.apache.hadoop.fs.Options.Rename.OVERWRITE)

  /** Rename that FAILS (FileAlreadyExistsException) if `dest` exists — the
    * exclusive-claim primitive for [[RenameCommitStore.putIfVersion]]
    * (atomic on HDFS; see the casLocks note for local fs).
    */
  private[graft] def renameNoOverwrite(src: Path, dest: Path): Unit =
    fc.rename(fs.makeQualified(src), fs.makeQualified(dest),
      org.apache.hadoop.fs.Options.Rename.NONE)

  /** Atomic write via the [[CommitStore]] seam — there is never a window
    * with the destination missing or truncated: a crash in one would leave
    * NO snapshot, silently resetting the table to "brand new" and orphaning
    * all history. The default store renames (atomic on HDFS and on the
    * engine's local binding, see [[RenameCommitStore]]); an object-store backend
    * plugs in its own atomic publish (on S3, the whole-object overwrite PUT
    * — the reference's cursor overwrite, S3Writer.java:142-153). The whole
    * publish retries as a unit.
    */
  def writeAtomic(dest: Path, s: String): Unit = retry("writeAtomic") {
    store.putAtomic(this, dest, s)
  }

  /** Compare-and-swap snapshot publish — the table's ONE commit point for
    * concurrent-writer safety. `expected` is the snapshot version this
    * writer planned against (`-1` for a brand-new table); if another writer
    * committed in between, the swap fails LOUDLY with
    * [[ConcurrentCommitException]] and nothing was published (the staged
    * manifest/data are unreferenced garbage for vacuum). Retries as a unit:
    * the store's idempotency contract makes a retry of an own completed
    * swap read as success, never as a lost race.
    */
  def swapSnapshot(snapshot: Snapshot, expected: Long): Unit = {
    val json = Json.write(snapshot)
    val won = retry("swapSnapshot") {
      store.putIfVersion(this, snapshotPath, json, expected)
    }
    if (!won) {
      val (curV, curApp) = currentWriter()
      throw new ConcurrentCommitException(
        s"lost commit race at $root: expected snapshot version $expected " +
          s"but found $curV (appId=$curApp); this batch did NOT commit — " +
          "re-read the table state before retrying")
    }
  }

  /** Current snapshot, or None for a brand-new table — the 404 ⇒ offset 0
    * case (S3Writer.java:101-107).
    */
  def readSnapshot(): Option[Snapshot] =
    // one RPC on the per-commit plan-coherence check (a concurrent first
    // commit between an exists probe and the open would read as a crash)
    readIfExists(snapshotPath).map(Json.read[Snapshot](_))

  /** the current snapshot's version and writer ((-1, "?") for none) */
  private def currentWriter(): (Long, String) =
    readSnapshot().map(s => (s.version, s.appId)).getOrElse((-1L, "?"))

  /** The plan-coherence guard at the door of every commit — ONE
    * implementation for both tables (the protocol's most safety-critical
    * check must never fork between copies). The caller's plan (state read,
    * watermark gate, schema ladder, staged files) is valid only against
    * `plannedVersion`; a foreign commit that landed mid-batch makes it
    * stale — fail LOUDLY here, before anything is written. The exclusive
    * manifest claim and the pointer CAS close the remaining windows.
    */
  def requirePlanCoherent(plannedVersion: Long, what: String): Unit = {
    val (current, who) = currentWriter()
    if (current != plannedVersion) throw new ConcurrentCommitException(
      s"$what $root advanced while this batch was planned/written: " +
        s"planned against version $plannedVersion, found $current " +
        s"(appId=$who); this batch did NOT commit — re-read and retry")
  }

  /** Exclusively claim the version-named meta file `dest` (manifest). True
    * = ours (including the idempotent retry of an own completed create);
    * false = another writer holds the name — resolve with
    * [[resolveLostVersionClaim]]. The pointer CAS ([[swapSnapshot]]) alone
    * cannot give this safety: a loser that wrote `manifest-v{N}` with a
    * plain overwrite before failing its swap would CORRUPT the winner's
    * already-published commit, since the winner's snapshot references that
    * very name.
    */
  def createVersioned(dest: Path, content: String): Boolean =
    retry("createVersioned") {
      store.putIfAbsent(this, dest, content) ||
        // a transient failure AFTER our create succeeded retries into
        // "already exists" — identical content means it is ours
        readIfExists(dest).contains(content)
    }

  /** A version-named manifest claim was lost: either a concurrent writer
    * committed this version, or a writer CRASHED between creating its
    * manifest and swapping the pointer. Disambiguate by the pointer: if it
    * already advanced past `plannedVersion`, simply lose; if it still reads
    * `plannedVersion`, the existing manifest is a complete crashed commit
    * (exclusive creates are all-or-nothing, and every caller promotes data
    * files BEFORE committing) — ROLL IT FORWARD so the table never wedges
    * on a dead writer's claim: `claimed` is its snapshot, read from the
    * claimed manifest's header. Either way this writer's batch did not
    * commit: always throws [[ConcurrentCommitException]].
    */
  def resolveLostVersionClaim(manifestRel: String, version: Long,
      plannedVersion: Long)(claimed: => Snapshot): Nothing = {
    if (currentWriter()._1 == plannedVersion) {
      val s = claimed
      try {
        swapSnapshot(s, plannedVersion)
        System.err.println(s"[graft] WARN: rolled forward writer ${s.appId}'s " +
          s"committed-but-unpublished version $version at $root (claimed " +
          "but never swapped — a crash, or a live writer mid-publish)")
      } catch {
        // the claimer was alive after all and swapped first — same outcome
        case _: ConcurrentCommitException => ()
      }
    }
    val who = currentWriter()._2
    throw new ConcurrentCommitException(
      s"lost the claim on $manifestRel at $root: another writer " +
        s"(appId=$who) holds version $version; this batch did NOT commit " +
        "— re-read the table state before retrying")
  }

  def exists(rel: String): Boolean = fs.exists(new Path(rootPath, rel))

  /** list-and-catch: a missing directory lists as empty — one RPC, where
    * an exists probe before the listing would be two
    */
  def listOrEmpty(dir: Path): Array[org.apache.hadoop.fs.FileStatus] =
    try fs.listStatus(dir)
    catch { case _: java.io.FileNotFoundException => Array.empty }

  /** Tasks for a write that ends in one parquet FILE per bucket: the
    * bucket count, capped by the session's tuned shuffle parallelism —
    * derived from the work's own shape rather than left to AQE, whose
    * byte-based advisory coalescing (blind to per-file open/close/footer
    * cost) collapses a small batch's shuffle into one task that writes
    * every file serially (measured: the dominant slice of merge/write at
    * gate scale). Scale-adaptive in both directions: small batches
    * parallelize by bucket, huge bucket sets still respect the
    * cluster-tuned cap.
    */
  def writeTasks(buckets: Long): Int =
    math.min(buckets, spark.sessionState.conf.numShufflePartitions.toLong)
      .max(1L).toInt

  /** Write `df` as one parquet file per bucket and publish them — the one
    * lifecycle every table write runs, the reference's per-partition writer
    * (group by TopicPartition, write, finish, upload, clean up;
    * S3SinkTask.java:107-178). A bucket is one value of the integer columns
    * `keys`, and the caller clusters `df` one task per bucket (an exchange
    * on `keys` sized by [[writeTasks]]), so each bucket dir holds one part.
    *
    * The staged tree goes under `_staging/{staging}` (`{op}-{appId}-{id}`,
    * wiped first, so a retried batch starts clean), one directory per key,
    * on a copy of each key column: partitionBy strips its columns from the
    * files, which must stay self-contained (the manifest, not the path, is
    * the source of truth). Each copy is named like no column of `df`,
    * case-insensitively, so a payload column is never overwritten by one or
    * ambiguous with it. The sort by (copies, `order`) is the ordering
    * FileFormatWriter requires of a dynamic-partition write: without it the
    * writer inserts its own UNSTABLE prefix-only sort (rows in a different
    * order on retry), and when `df` already arrives in that order the sort
    * is removed as redundant. The files hold `columns`; [[planHook]] sees
    * the final frame, tagged by `op`.
    *
    * ONE listing of the staged tree finds each bucket's part (no
    * per-bucket probes: on an object store it is one paged LIST).
    * `dest(key, part)` names each root-relative destination before anything
    * is published and may throw to reject a bucket. Returns key →
    * destination.
    */
  def writeBuckets(df: DataFrame, staging: String, keys: Seq[String], order: Seq[String],
      columns: Seq[String])(dest: (Seq[Int], Path) => String): Map[Seq[Int], String] = {
    val taken = df.columns.map(SchemaEvolution.keyOf).toSet
    val dirs = keys.indices.map(i => Iterator.iterate(s"_b$i")("_" + _).find(!taken(_)).get)
    val out = df.select(col("*") +: keys.zip(dirs).map { case (k, d) => col(k).as(d) }: _*)
      .sortWithinPartitions((dirs ++ order).map(col): _*)
      .select((columns ++ dirs).map(col): _*)
    TableIO.planHook(staging.takeWhile(_ != '-'), out)
    val stagingPath = new Path(rootPath, s"_staging/$staging")
    fs.delete(stagingPath, true)
    out.write.mode("overwrite").partitionBy(dirs: _*)
      .option("compression", TableIO.dataCodec)
      .options(TableIO.stagingWriteOptions ++ writeOptions)
      .parquet(stagingPath.toString)
    def bucketKey(bucket: String): Seq[Int] = {
      val segs = bucket.split('/').toSeq
      require(segs.map(_.takeWhile(_ != '=')) == dirs,
        s"unrecognized staged bucket dir $bucket under $stagingPath")
      segs.map(s => s.drop(s.indexOf('=') + 1).toInt)
    }
    val named = listStagedParts(stagingPath).toSeq.sortBy(_._1).map { case (bucket, src) =>
      val key = bucketKey(bucket)
      (key, src, dest(key, src))
    }
    publish(Seq(named.map { case (_, src, rel) => src -> new Path(rootPath, rel) }))
    fs.delete(stagingPath, true)
    named.map { case (key, _, rel) => key -> rel }.toMap
  }

  /** Each staged write tree bucket dir (relative) → its single part file.
    * Exactly one part file per bucket dir is REQUIRED: a second part would
    * mean the write lost its one-task-per-bucket clustering.
    */
  private def listStagedParts(staging: Path): Map[String, Path] = {
    // plain listStatus recursion over the (two-level) staging tree, NOT
    // FileSystem.listFiles(recursive=true): the generic recursive iterator
    // materializes LocatedFileStatus — block locations per file — and
    // measured ~230 ms per merge batch on a 32-bucket local tree vs ~5 ms
    // for this walk (the exact regression the promote-phase counter
    // caught). An object-store backend would implement this seam as one
    // flat prefix LIST.
    val base = fs.makeQualified(staging).toString
    val out = scala.collection.mutable.HashMap.empty[String, Path]
    def walk(dir: Path): Unit = {
      listOrEmpty(dir).foreach { st =>
        val p = st.getPath
        if (st.isDirectory) {
          if (p.getName != "_temporary") walk(p)
        } else if (p.getName.startsWith("part-")) {
          val parent = fs.makeQualified(p.getParent).toString
          require(parent.startsWith(base),
            s"staged part $p resolved outside $staging")
          val rel = parent.drop(base.length).stripPrefix("/")
          require(!out.contains(rel),
            s"expected exactly one part file under $staging/$rel, found more")
          out(rel) = p
        }
      }
    }
    walk(staging)
    out.toMap
  }

  /** Publish staged files at their deterministic destinations: each
    * destination dir is created once, then each wave's (source,
    * destination) pairs fan out on the shared metadata pool (MetaIO), one
    * wave after another (the archive's data files, then its indexes). On
    * an object store each publish is a copy, and at 10^6 micro-batches a
    * per-call pool would be 10^6 create/destroy cycles on the driver;
    * fetchAll cancels the queued remainder on failure, so a failed publish
    * does not keep burning doomed copies before the caller's retry.
    */
  def publish(waves: Seq[Seq[(Path, Path)]]): Unit = {
    waves.flatten.map(_._2.getParent).distinct.foreach(fs.mkdirs)
    waves.foreach(moves => MetaIO.fetchAll(moves) { case (src, dst) => promote(src, dst) })
  }

  /** Publish one staged file at `dest` through the [[CommitStore]].
    * Deterministic names are load-bearing: re-running a batch overwrites
    * the same keys instead of appending, which is the reference's whole
    * dedup story (offset-named S3 keys, BlockGZIPFileWriter.java:161-163).
    * A RETRY that finds the source gone and the destination present treats
    * the previous attempt's publish as complete (the failure hit after the
    * move). A source missing at a publish is never retried: the name at
    * `dest` may be an earlier writer's file (archive names repeat across
    * jobs), which that shortcut would take as this write's.
    */
  private def promote(src: Path, dest: Path): Unit = {
    var attempt = 0
    retry("promote") {
      attempt += 1
      if (attempt > 1 && !fs.exists(src)) {
        if (!fs.exists(dest)) throw new java.io.IOException(
          s"staged $src vanished mid-promote and $dest is absent")
      } else try store.publishFile(this, src, dest) catch {
        case e: java.io.FileNotFoundException => throw new IllegalStateException(
          s"staged $src is missing at its publish to $dest", e)
      }
    }
  }

  /** Opportunistic reclamation of ABANDONED scratch: the entries of
    * `staging` (the tables' `_staging/`, the archive's `.inprogress/`)
    * that crashed writers left, and the `*.tmp-{pid}-{nanos}` files the
    * atomic-publish primitives (putAtomic / putIfAbsent / the CAS marker
    * claim) leak at the root and in `_cas/` when a writer crashes
    * mid-publish (ADVICE r7: unbounded residue across crashes). Only what
    * is past the grace window goes — a live peer's in-flight staging and
    * tmps are always younger than its own batch. Replaces the old
    * wholesale `_staging` delete, which was safe only under single-writer
    * exclusivity (it would nuke a concurrent writer's in-flight promote
    * sources mid-batch).
    *
    * A staging entry's age is its NEWEST DESCENDANT FILE, never the
    * top-level directory mtime: object stores have no real directories (an
    * S3A fake-dir prefix reports mtime 0 or probe time — trusting it would
    * either reclaim a live peer's in-flight staging or never reclaim at
    * all), and a long-running job that is still writing keeps its staging
    * alive file by file, so the grace window no longer needs to outlast
    * the longest believable job. Unknown age (no files, no trustworthy
    * mtime) never reclaims. Staging is transient and small next to the
    * data it produces; reclaiming it a week late costs nothing, and the
    * per-entry recursive listing runs at maintenance cadence, not on the
    * commit path (BENCH/BASELINE.md, r07 claim protocol).
    */
  def sweepStaleStaging(staging: Path = new Path(rootPath, "_staging"),
      graceMs: Long = 7L * 24 * 3600 * 1000): Unit = {
    val cutoff = System.currentTimeMillis() - graceMs
    def reapTmps(listed: Array[org.apache.hadoop.fs.FileStatus]): Unit =
      listed.foreach { st =>
        if (TableIO.leakedTmp(st, cutoff))
          try fs.delete(st.getPath, false): Unit catch { case _: Throwable => () }
      }
    val top = listOrEmpty(rootPath)
    reapTmps(top)
    // `_cas/` holds the CAS markers; a root without one (an archive) costs
    // no listing
    if (top.exists(st => st.isDirectory && st.getPath.getName == "_cas"))
      reapTmps(listOrEmpty(new Path(rootPath, "_cas")))
    listOrEmpty(staging).foreach { st =>
      // files are the SOLE age authority when any exist: folding in a
      // fake-dir mtime that reports probe time would read as forever-fresh
      // and the entry would never reclaim. The top-level mtime is only the
      // fallback for a file-less entry (real dirs on local/HDFS).
      var newest = 0L
      try {
        val it = fs.listFiles(st.getPath, true)
        while (it.hasNext)
          newest = math.max(newest, it.next().getModificationTime)
      } catch { // the owner's own cleanup raced the walk: nothing to reclaim
        case _: java.io.FileNotFoundException => newest = Long.MaxValue
      }
      if (newest == 0L) newest = math.max(0L, st.getModificationTime)
      if (newest > 0 && newest < cutoff)
        try fs.delete(st.getPath, true): Unit catch { case _: Throwable => () }
    }
  }

  /** Exact row count from the parquet footer, without a Spark job. The
    * journal's append compares it with its stats pass's count, so a batch
    * source that differs between its two scans fails loudly.
    */
  def parquetRowCount(p: Path): Long = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try r.getRecordCount finally r.close()
  }
}
