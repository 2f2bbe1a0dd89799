package graft.lake

import com.fasterxml.jackson.module.scala.JavaTypeable
import org.apache.hadoop.fs.Path

/** A table's pinned head: the ONE snapshot read a batch plans against.
  * Every plan input (fence, CAS baseline, manifest, listing) derives from
  * it. Per-accessor re-reads let a peer's commit land BETWEEN two reads and
  * hand a batch an inconsistent plan — observed in the 3-writer soak as
  * "empty lake table" (schema ladder from the pre-commit version, file set
  * from the post-commit one) — and a baseline read any later than the plan
  * lets a peer's commit be silently clobbered by a plan that never saw it.
  * Pinning turns every such race into the one designed outcome: a clean
  * ConcurrentCommitException at the commit (and saves the re-reads).
  * `version` and `batchId` are -1 for a brand-new table. The manifest is
  * read on first use, so a fenced replay never reads it.
  */
private[lake] final class Head[M](val version: Long, val batchId: Long,
    val appId: String, readManifest: () => M) {
  lazy val manifest: Option[M] =
    if (version < 0) None else Some(readManifest())
}

/** What a table adds to its manifests for the log: the key of a live
  * entry, a checkpoint's listing (which may need IO, like the lake's
  * shards) and the order a resolved listing is kept in.
  */
private[lake] trait LogCodec[K, E, M] {
  def key(e: E): K
  def checkpoint(m: M): Seq[E]
  def ordered(es: Seq[E]): Seq[E]
}

/** What a commit does to the live listing: replace it wholesale (always
  * written as a checkpoint), or remove keys and add entries.
  */
private[lake] sealed trait Change[K, E]
private[lake] final case class Full[K, E](entries: Seq[E]) extends Change[K, E]
private[lake] final case class Delta[K, E](removed: Seq[K], added: Seq[E])
  extends Change[K, E]

/** One commit being written: its header (version, batch, writer), whether
  * it is a checkpoint, the checkpoint version to record and the
  * post-commit listing. `base()` takes the chain the head's listing was
  * folded from, or walks it (only a checkpoint that reuses needs it): for a
  * delta change, the nearest checkpoint at or below the planned head and
  * every key changed since it, this commit's change included; None for a
  * full change, on a brand-new table, or when the walk back cannot reach a
  * checkpoint.
  */
private[lake] final class Commit[K, E, M](val version: Long, val batchId: Long,
    val appId: String, val full: Boolean, val checkpointVersion: Long, val files: Seq[E],
    val base: () => Option[(M, Set[K])])

/** The versioned log both engine tables run on — the Iceberg-style snapshot
  * log of SURVEY.md §4.1 with Delta Lake's checkpoint cadence: version-named
  * manifests (`manifest-{v:012d}.json`), each a checkpoint or a delta on top
  * of its predecessor, and one `snapshot.json` pointer swapped by CAS. This
  * is the reference's data + index + cursor trio (S3Writer.java:61-81)
  * generalized; the tables keep only their manifest type, entry codec and
  * data path.
  *
  * Owns the per-batch pinned head, the replay fence, the version-keyed
  * manifest and listing caches, the delta fold, and the commit: plan
  * coherence, checkpoint cadence, exclusive manifest claim and snapshot CAS.
  */
private[lake] final class SnapshotLog[K, E, M <: LogManifest[K, E] : JavaTypeable](
    io: TableIO, appId: String, what: String, checkpointEvery: Int,
    codec: LogCodec[K, E, M]) {
  require(checkpointEvery >= 1, "checkpointEvery must be >= 1")
  // appId names durable paths (data files, staging dirs, shards) and carries
  // the CAS writer identity: a '/', '=' or whitespace would silently change
  // the layout (nested dirs under data/ break the sweep's name comparisons),
  // so fail loudly at construction (ADVICE r7). Concurrent writers must use
  // DISTINCT appIds — the no-collision story of staging and promoted names
  // assumes it.
  require(appId.matches("[A-Za-z0-9._-]+"),
    s"appId must match [A-Za-z0-9._-]+ (it names durable paths); got '$appId'")

  // current-manifest and resolved-listing caches keyed by snapshot version:
  // a checkpoint manifest is O(live files) of JSON and chain resolution
  // reads up to checkpointEvery of them, so both are computed once per
  // version, not once per accessor (another writer's commit bumps the
  // version, which invalidates them for free). The listing keeps the chain
  // it was folded from (oldest first; None when a commit wrote it), so a
  // checkpoint commit on that head takes its base without a second walk.
  @volatile private var manifestCache: Option[(Long, M)] = None
  @volatile private var filesCache: Option[(Long, Seq[E], Option[List[M]])] = None

  def pin(): Head[M] = io.readSnapshot() match {
    case None => new Head(-1L, -1L, "", () => throw new IllegalStateException("no manifest"))
    case Some(s) => new Head(s.version, s.batchId, s.appId, () => manifestOf(s.version, s.manifest))
  }

  /** the manifest `rel` of snapshot `version` (parsed once per version) */
  private def manifestOf(version: Long, rel: String): M = manifestCache match {
    case Some((v, m)) if v == version => m
    case _ =>
      val m = Json.read[M](io.readString(new Path(io.rootPath, rel)))
      manifestCache = Some((version, m))
      m
  }

  /** Replay fence against a pinned head: same writer identity AND a batch
    * id at or below the committed one. A different appId is a new writer
    * whose numbering restarted (the Delta txnAppId pattern) — its data
    * passes the fence and dedups on offsets.
    */
  def isReplayOf(h: Head[M], batchId: Long): Boolean =
    h.appId == appId && batchId <= h.batchId

  // read-and-catch: one RPC on every chain-resolution step, and no TOCTOU
  // against a concurrent GC deleting the manifest
  def manifestAt(version: Long): Option[M] =
    io.readIfExists(new Path(io.rootPath, SnapshotLog.manifestRel(version)))
      .map(Json.read[M](_))

  /** live listing of a pinned head (cached per version) */
  def files(h: Head[M]): Seq[E] =
    if (h.version < 0) Nil
    else filesCache match {
      case Some((v, fs, _)) if v == h.version => fs
      case _ =>
        val (chain, fs) = resolveChain(h.manifest.get, retried = false)
        filesCache = Some((h.version, fs, Some(chain)))
        fs
    }

  private type State = scala.collection.mutable.LinkedHashMap[K, E]

  private def stateOf(es: Seq[E]): State = {
    val st = scala.collection.mutable.LinkedHashMap.empty[K, E]
    es.foreach(e => st(codec.key(e)) = e)
    st
  }

  private def applyDelta(st: State, removed: Seq[K], added: Seq[E]): State = {
    removed.foreach(st.remove)
    added.foreach(e => st(codec.key(e)) = e)
    st
  }

  /** Resolve a manifest's live listing. A checkpoint answers directly; a
    * delta folds forward from the nearest checkpoint at or below it (walk
    * back until a checkpoint appears — the chain is at most
    * `checkpointEvery` long, shorter after a GC materialized a checkpoint).
    */
  def resolve(m: M): Seq[E] = resolveChain(m, retried = false)._2

  /** [[resolve]], with the chain it folded (oldest first) */
  private def resolveChain(m: M, retried: Boolean): (List[M], Seq[E]) = {
    if (!m.delta) return (List(m), codec.checkpoint(m))
    val chain = walk(List(m))
    if (chain.head.delta) {
      val pv = chain.head.version - 1
      // Self-heal against a concurrent vacuum: it materializes the oldest
      // kept version IN PLACE before deleting the chain below it, so a
      // reader holding pre-materialization manifests restarts the walk
      // ONCE from a fresh read of its version — if it is retained, the new
      // walk terminates at the materialized checkpoint before ever reaching
      // the deleted range. One retry suffices: materialization is monotone.
      if (retried) throw broken(m.version, pv)
      return resolveChain(manifestAt(m.version).getOrElse(throw broken(m.version, pv)),
        retried = true)
    }
    val st = stateOf(codec.checkpoint(chain.head))
    chain.tail.foreach(d => applyDelta(st, d.removedKeys, d.addedEntries))
    (chain, codec.ordered(st.values.toSeq))
  }

  /** The one chain walk: prepend predecessors to `chain` (oldest first)
    * until its head is a checkpoint, or until a predecessor is gone (then
    * the head is still a delta).
    */
  @annotation.tailrec
  private def walk(chain: List[M]): List[M] =
    if (!chain.head.delta) chain
    else manifestAt(chain.head.version - 1) match {
      case Some(p) => walk(p :: chain)
      case None => chain
    }

  private def broken(v: Long, pv: Long) = new IllegalStateException(
    s"$what manifest chain for version $v broken at $pv under ${io.root} (vacuumed)")

  /** The manifest and live listing of every existing version in [from, to]
    * with ONE manifest read per version: fold each delta onto the running
    * state; a checkpoint (or a gap) resets the fold. Only GC needs a whole
    * range — everything else resolves single versions.
    */
  def resolveRange(from: Long, to: Long): Map[Long, (M, Seq[E])] = {
    val out = scala.collection.mutable.Map.empty[Long, (M, Seq[E])]
    var state: Option[State] = None
    for (v <- from to to) manifestAt(v) match {
      case None => state = None
      case Some(m) =>
        val st = state.filter(_ => m.delta) match {
          case Some(prev) => applyDelta(prev, m.removedKeys, m.addedEntries)
          case None => stateOf(resolve(m))
        }
        out(v) = (m, codec.ordered(st.values.toSeq))
        state = Some(st)
    }
    out.toMap
  }

  /** Rewrite a delta manifest in place as `checkpoint`, its (semantically
    * identical) checkpoint made from a [[resolveRange]] fold's listing, so
    * every manifest below it can be deleted without breaking fold-forward
    * resolution of the versions above. Reads nothing. Atomic rename: a
    * crash mid-rewrite leaves the old delta intact.
    */
  def materialize(checkpoint: M): Unit = {
    io.writeAtomic(new Path(io.rootPath, SnapshotLog.manifestRel(checkpoint.version)),
      Json.write(checkpoint))
    // the rewrite may concern the CURRENT version: drop the parsed
    // manifest so later reads see the checkpoint, not the stale delta, and
    // the cached chain, whose manifests below it are about to be retired
    manifestCache = None
    filesCache = filesCache.map { case (v, fs, _) => (v, fs, None) }
  }

  private def horizonPath = new Path(io.rootPath, "gc-horizon.txt")

  /** Oldest manifest version that may still exist: every version below it
    * was retired. Bounds GC folds and lineage walks to the retained
    * versions. An absent file reads as 0. The file is trusted only while it
    * is at most `below` and within [[SnapshotLog.maxHorizonLag]] of it;
    * otherwise (unreadable or foreign content, a file that survived a
    * restore of the table from a backup, or a horizon so old it would name
    * thousands of long-gone versions) one root listing gives the oldest
    * manifest on disk instead. Never throws on content: a throw here would
    * fail every maintenance pass, and with it the stream, until someone
    * deleted the file by hand.
    */
  def horizon(below: Long): Long = {
    val stored =
      try io.readIfExists(horizonPath).fold(0L)(_.trim.toLong)
      catch { case scala.util.control.NonFatal(_) => -1L }
    if (stored >= 0 && stored <= below && below - stored <= SnapshotLog.maxHorizonLag) stored
    else io.listOrEmpty(io.rootPath).iterator.map(_.getPath.getName)
      .collect { case SnapshotLog.manifestName(v) => v.toLong }
      .minOption.getOrElse(below)
  }

  /** Retire manifests [`from`, `below`) — `from` is the caller's
    * [[horizon]] read — then advance the horizon to `below`. Newest first:
    * a delta resolves down to its checkpoint, so a crash part-way leaves a
    * prefix of versions whose chains are intact (a checkpoint deleted
    * before the deltas above it would leave chains no later fold can
    * resolve). The horizon moves only after every delete, so a crash
    * re-covers the same range; deletes of missing names are no-ops.
    * Returns how many manifests went.
    */
  def retire(from: Long, below: Long): Int = {
    val deleted = (from until below).reverse.count(v =>
      io.fs.delete(new Path(io.rootPath, SnapshotLog.manifestRel(v)), false))
    if (below > from) io.writeAtomic(horizonPath, below.toString)
    deleted
  }

  /** Commit `change` on top of the pinned head `planned`, as batch
    * `batchId`. `build` makes the table's manifest from the [[Commit]]: its
    * header, the `checkpointVersion` to record, either the checkpoint
    * listing or the delta, and the base a checkpoint may reuse. Returns the
    * manifest written.
    *
    * The manifest is checkpointed every `checkpointEvery` versions (and on
    * the first commit and every `Full` change), bounding readers' fold
    * chains. It is claimed exclusively ([[TableIO.createVersioned]]); a lost
    * claim rolls a crashed claimer's commit forward and always throws
    * ConcurrentCommitException ([[TableIO.resolveLostVersionClaim]]).
    */
  def commit(planned: Head[M], batchId: Long, change: Change[K, E])
      (build: Commit[K, E, M] => M): M = {
    io.requirePlanCoherent(planned.version, what)
    val version = planned.version + 1
    // nearest checkpoint at or below the previous version (advisory — the
    // reader walks back to the first actual checkpoint; this drives the
    // cadence, and a GC-materialized checkpoint in between merely
    // checkpoints again sooner than strictly needed). Pinned to the
    // coherence-checked head, never a fresh read: a peer committing right
    // after the check must fail the claim/CAS below, not leak its state
    // into this commit's bookkeeping.
    val prevCkpt = planned.manifest.map(_.checkpointVersion)
    val (files, full) = change match {
      case Full(es) => (codec.ordered(es), true)
      case Delta(removed, added) =>
        (codec.ordered(applyDelta(stateOf(this.files(planned)), removed, added)
          .values.toSeq),
          prevCkpt.forall(version - _ >= checkpointEvery))
    }
    val base = () => change match {
      case Delta(removed, added) => filesCache
        .collect { case (v, _, Some(chain)) if v == planned.version => chain }
        .orElse(planned.manifest.map(h => walk(List(h))))
        .filterNot(_.head.delta).map(chain => chain.head -> (chain.tail
          .flatMap(d => d.removedKeys ++ d.addedEntries.map(codec.key)) ++
          removed ++ added.map(codec.key)).toSet)
      case Full(_) => None
    }
    val m = build(new Commit(version, batchId, appId, full,
      if (full) version else prevCkpt.get, files, base))
    val rel = SnapshotLog.manifestRel(version)
    if (!io.createVersioned(new Path(io.rootPath, rel), Json.write(m)))
      io.resolveLostVersionClaim(rel, version, planned.version) {
        val claimed = manifestAt(version).getOrElse(throw new IllegalStateException(
          s"$what manifest $rel at ${io.root} vanished after its claim was lost"))
        Snapshot(version, rel, claimed.batchId, claimed.appId)
      }
    io.swapSnapshot(Snapshot(version, rel, batchId, appId), planned.version)
    filesCache = Some((version, files, None))
    manifestCache = Some((version, m))
    m
  }
}

private[lake] object SnapshotLog {
  /** the version-named manifest (zero-padded: lexicographic = numeric order) */
  def manifestRel(version: Long): String = f"manifest-$version%012d.json"
  /** a manifest's name; past 12 digits the zero-padded name just grows */
  private val manifestName = """manifest-(\d{12,})\.json""".r
  /** how far behind a stored horizon may be before a listing is cheaper */
  private val maxHorizonLag = 4096L
}
