"""Metric arithmetic of the benchmark: turns the raw record of one run
(timings, spans and counters written by the workload JVM, perfbench.Main) into the metrics
named in BENCHMARK.json.

Every timing is a median over the run's timed operations; the highest
percentile the sample supports is reported beside it only where at least
ten samples lie beyond it.
"""
import math
import statistics

# (name, unit, better) — the order is the order of BENCHMARK.json.
END_TO_END = [
    ("write_mb_per_s", "MB/s", "higher"),
    ("op_p50_s", "s", "lower"),
    ("stored_bytes_per_input_byte", "ratio", "lower"),
    ("setup_s", "s", "lower"),
]

_PHASES = ("stats_s", "write_s", "promote_s", "commit_s")
_KINDS = ("open", "create", "rename", "delete", "list", "get_status", "mkdirs")

PER_LAYER = (
    [("pipeline.batches", "count", "higher"),
     ("pipeline.events_per_s", "1/s", "higher"),
     ("pipeline.batch_p50_s", "s", "lower"),
     ("pipeline.batch_tail_pct", "%", "higher"),
     ("pipeline.batch_tail_s", "s", "lower"),
     ("pipeline.maintenance_batch_p50_s", "s", "lower"),
     ("pipeline.wall_per_event_us", "us", "lower"),
     ("pipeline.merge_minus_append_s", "s", "lower"),
     ("pipeline.batch_self_share", "ratio", "lower")]
    # read throughput is reported traced only: its runs spread too far for a bound
    + [("traced." + n, u, b) for n, u, b in END_TO_END + [("read_mb_per_s", "MB/s", "higher")]]
    + [("lake.merge.wall_s", "s", "lower"),
       ("lake.merge.wall_s_total", "s", "lower")]
    + [("lake.merge." + p, "s", "lower") for p in _PHASES]
    + [("lake.merge.rows_in", "count", "lower"),
       ("lake.merge.rows_applied", "count", "higher"),
       ("lake.merge.gate_keep_ratio", "ratio", "higher"),
       ("lake.merge.rows_written", "count", "lower"),
       ("lake.merge.rewrite_amp", "ratio", "lower"),
       ("lake.merge.bytes_written", "B", "lower"),
       ("lake.merge.bytes_written_total", "B", "lower"),
       ("lake.merge.files_written", "count", "lower"),
       ("lake.merge.shuffle_write_bytes", "B", "lower"),
       ("lake.merge.shuffle_read_bytes", "B", "lower"),
       ("lake.merge.spill_bytes", "B", "lower"),
       ("lake.merge.jobs", "count", "lower"),
       ("lake.merge.stages", "count", "lower"),
       ("lake.merge.tasks", "count", "lower"),
       ("lake.merge.task_busy_s", "s", "lower"),
       ("lake.merge.busy_share", "ratio", "higher"),
       ("lake.journal.append_s", "s", "lower"),
       ("lake.journal.append_s_total", "s", "lower"),
       ("lake.journal.rows_appended", "count", "higher"),
       ("lake.journal.bytes_written", "B", "lower"),
       ("lake.journal.files_written", "count", "lower"),
       ("lake.journal.shuffle_write_bytes", "B", "lower"),
       ("lake.journal.jobs", "count", "lower"),
       ("lake.journal.tasks", "count", "lower"),
       ("lake.journal.task_busy_s", "s", "lower"),
       ("lake.journal.busy_share", "ratio", "higher"),
       ("lake.journal.truncate_s", "s", "lower"),
       ("lake.journal.files_truncated", "count", "higher")]
    + [("lake.meta." + k, "count", "lower") for k in _KINDS]
    + [("lake.meta.ops_per_batch", "count", "lower"),
       ("lake.vacuum.wall_s", "s", "lower"),
       ("lake.vacuum.files_deleted", "count", "higher"),
       ("lake.compact.wall_s", "s", "lower"),
       ("lake.compact.bytes_written", "B", "lower"),
       ("lake.compact.shuffle_write_bytes", "B", "lower"),
       ("lake.read.wall_s", "s", "lower"),
       ("lake.read.bytes_read", "B", "lower"),
       ("sources.archive.write_s", "s", "lower"),
       ("sources.archive.write_shuffle_bytes", "B", "lower"),
       ("sources.archive.write_tasks", "count", "lower"),
       ("sources.archive.files_written", "count", "lower"),
       ("sources.archive.chunks_written", "count", "lower"),
       ("sources.archive.read_s", "s", "lower"),
       ("sources.archive.read_tasks", "count", "lower"),
       ("sources.archive.fetch_offsets_s", "s", "lower"),
       ("sources.archive.resume_read_s", "s", "lower"),
       ("sources.archive.meta_ops", "count", "lower"),
       ("jvm.gc_s", "s", "lower"),
       ("jvm.peak_rss_mb", "MB", "lower"),
       ("spark.unattributed_jobs", "count", "lower"),
       ("spark.unattributed_task_busy_s", "s", "lower")]
)

UNITS = {n: u for n, u, _ in END_TO_END + PER_LAYER}


# ---------------------------------------------------------------- arithmetic

def median(xs):
    """Median, or 0.0 for an empty sample (a layer the workload never calls)."""
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def ratio(num, den):
    """num / den; 0.0 when the base is zero, so that a layer that did no work
    reads 0 instead of failing the run."""
    return num / den if den else 0.0


def _rank(q, n):
    """1-based nearest rank of the q-th percentile among n samples (rounded
    first so that 99.9% of 10000 is rank 9990, not 9991)."""
    return max(1, math.ceil(round(q * n / 100.0, 6)))


def percentile(xs, q):
    """Nearest-rank q-th percentile of a non-empty sample."""
    s = sorted(xs)
    return s[_rank(q, len(s)) - 1]


def tail_percentile(n, ladder=(99.9, 99.0, 90.0, 50.0)):
    """The highest percentile of `ladder` with at least ten of `n` samples
    beyond its nearest rank, or None when even the median has fewer."""
    for q in ladder:
        if n - _rank(q, n) >= 10:
            return q
    return None


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span, children):
    """A span's duration minus the part of it covered by its children
    (children may overlap each other; each is clipped to the span)."""
    clipped = [(max(c["start"], span["start"]), min(c["end"], span["end"]))
               for c in children]
    covered = union_length([(s, e) for s, e in clipped if e > s])
    return (span["end"] - span["start"]) - covered


# ---------------------------------------------------------------- end to end

def end_to_end(raw):
    ops = raw["ops"]
    walls = [o["wall_s"] for o in ops]
    stored = raw.get("stored") or {}
    if raw["kind"] == "ingest":
        write = ratio(sum(o["payload_bytes"] for o in ops), sum(walls)) / 1e6
        # the lake scans run in traced runs only
        read = ratio(raw["read_payload_bytes"], median(raw["read_s"])) / 1e6 if raw["read_s"] else None
        kept = stored.get("lake_bytes", 0) + stored.get("journal_bytes", 0)
    else:
        write = ratio(sum(o["payload_bytes"] for o in ops), sum(o["write_s"] for o in ops)) / 1e6
        read = ratio(sum(o["payload_bytes"] for o in ops), sum(o["read_s"] for o in ops)) / 1e6
        kept = stored.get("archive_bytes", 0)
    e2e = {
        "write_mb_per_s": write,
        "op_p50_s": median(walls),
        "stored_bytes_per_input_byte": ratio(kept, stored.get("input_payload_bytes", 0)),
        "setup_s": raw["setup_s"],
    }
    if read is not None:
        e2e["read_mb_per_s"] = read
    return e2e


# ---------------------------------------------------------------- per layer

def per_layer(raw, e2e):
    tr = raw["trace"]
    ops = raw["ops"]
    timed = {o["op"] for o in ops}
    cores = tr["cores"]
    groups = tr["groups"]
    spans = tr["spans"]
    records = {r["op"]: r for r in tr["records"] if r["op"] in timed}
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)

    def named(name):
        return [s for s in spans if s["name"] == name and s["op"] in timed]

    def dur(s):
        return s["end"] - s["start"]

    def grp(layer, op, key):
        return groups.get(f"{layer}#{op}", {}).get(key, 0)

    def per_op(layer, key, scale=1.0):
        return [grp(layer, o, key) * scale for o in sorted(timed)
                if f"{layer}#{o}" in groups]

    def fs_total(rec, tags, kinds=_KINDS):
        return sum(rec.get("fs", {}).get(f"{t}.{k}", 0) for t in tags for k in kinds)

    m = {n: 0.0 for n, _, _ in PER_LAYER}
    m.update({"traced." + k: v for k, v in e2e.items()})
    m["jvm.gc_s"] = tr["gc_s"]
    m["jvm.peak_rss_mb"] = raw["peak_rss_mb"]
    m["spark.unattributed_jobs"] = groups.get("unattributed", {}).get("jobs", 0)
    m["spark.unattributed_task_busy_s"] = groups.get("unattributed", {}).get("executor_run_ms", 0) / 1e3

    walls = [o["wall_s"] for o in ops]
    if raw["kind"] == "ingest":
        n = len(walls)
        q = tail_percentile(n)
        m["pipeline.batches"] = n
        m["pipeline.events_per_s"] = ratio(sum(o["events"] for o in ops), sum(walls))
        m["pipeline.batch_p50_s"] = median(walls)
        m["pipeline.batch_tail_pct"] = q or 0.0
        m["pipeline.batch_tail_s"] = percentile(walls, q) if q else 0.0
        m["pipeline.maintenance_batch_p50_s"] = median(o["wall_s"] for o in ops if o["maintenance"])
        m["pipeline.wall_per_event_us"] = median(o["wall_s"] / o["events"] * 1e6 for o in ops)
        batches = named("pipeline.batch")
        m["pipeline.batch_self_share"] = median(
            ratio(self_time(s, children.get(s["id"], [])), dur(s)) for s in batches)
        merge = {s["op"]: s for s in named("lake.merge")}
        append = {s["op"]: s for s in named("lake.journal.append")}
        m["pipeline.merge_minus_append_s"] = median(
            dur(merge[o]) - dur(append[o]) for o in merge if o in append)

        mw = [dur(s) for s in merge.values()]
        m["lake.merge.wall_s"] = median(mw)
        m["lake.merge.wall_s_total"] = sum(mw)
        for p in _PHASES:
            m["lake.merge." + p] = median(
                r.get("merge_phases", {}).get(p[:-2], 0.0) for r in records.values())
        rows_in = [o["delivered"] for o in ops]
        applied = [r["rows_applied"] for r in records.values()]
        written = per_op("lake.merge", "records_written")
        m["lake.merge.rows_in"] = median(rows_in)
        m["lake.merge.rows_applied"] = median(applied)
        m["lake.merge.gate_keep_ratio"] = ratio(sum(applied), sum(rows_in))
        m["lake.merge.rows_written"] = median(written)
        m["lake.merge.rewrite_amp"] = ratio(sum(written), sum(applied))
        bw = per_op("lake.merge", "bytes_written")
        m["lake.merge.bytes_written"] = median(bw)
        m["lake.merge.bytes_written_total"] = sum(bw)
        m["lake.merge.files_written"] = median(
            r.get("fs", {}).get("lake.data_files", 0) for r in records.values())
        m["lake.merge.shuffle_write_bytes"] = median(per_op("lake.merge", "shuffle_write_bytes"))
        m["lake.merge.shuffle_read_bytes"] = median(per_op("lake.merge", "shuffle_read_bytes"))
        m["lake.merge.spill_bytes"] = median(per_op("lake.merge", "spill_bytes"))
        m["lake.merge.jobs"] = median(per_op("lake.merge", "jobs"))
        m["lake.merge.stages"] = median(per_op("lake.merge", "stages"))
        m["lake.merge.tasks"] = median(per_op("lake.merge", "tasks"))
        busy = per_op("lake.merge", "executor_run_ms", 1e-3)
        m["lake.merge.task_busy_s"] = median(busy)
        m["lake.merge.busy_share"] = ratio(sum(busy), sum(mw) * cores)

        aw = [dur(s) for s in append.values()]
        m["lake.journal.append_s"] = median(aw)
        m["lake.journal.append_s_total"] = sum(aw)
        m["lake.journal.rows_appended"] = median(r["rows_appended"] for r in records.values())
        m["lake.journal.bytes_written"] = median(per_op("lake.journal.append", "bytes_written"))
        m["lake.journal.files_written"] = median(
            r.get("fs", {}).get("journal.data_files", 0) for r in records.values())
        m["lake.journal.shuffle_write_bytes"] = median(
            per_op("lake.journal.append", "shuffle_write_bytes"))
        m["lake.journal.jobs"] = median(per_op("lake.journal.append", "jobs"))
        m["lake.journal.tasks"] = median(per_op("lake.journal.append", "tasks"))
        jbusy = per_op("lake.journal.append", "executor_run_ms", 1e-3)
        m["lake.journal.task_busy_s"] = median(jbusy)
        m["lake.journal.busy_share"] = ratio(sum(jbusy), sum(aw) * cores)
        m["lake.journal.truncate_s"] = median(dur(s) for s in named("lake.journal.truncate"))
        m["lake.journal.files_truncated"] = sum(
            max(0, r["files_truncated"]) for r in records.values())

        for k in _KINDS:
            m["lake.meta." + k] = median(
                fs_total(r, ("lake", "journal"), (k,)) for r in records.values())
        m["lake.meta.ops_per_batch"] = median(
            fs_total(r, ("lake", "journal")) for r in records.values())
        m["lake.vacuum.wall_s"] = median(dur(s) for s in named("lake.vacuum"))
        m["lake.vacuum.files_deleted"] = sum(
            max(0, r["vacuum_files_deleted"]) for r in records.values())

        compact = [s for s in spans if s["name"] == "lake.compact"]
        if compact:
            c = compact[-1]
            m["lake.compact.wall_s"] = dur(c)
            m["lake.compact.bytes_written"] = grp("lake.compact", c["op"], "bytes_written")
            m["lake.compact.shuffle_write_bytes"] = grp("lake.compact", c["op"], "shuffle_write_bytes")
        # the timed scans are the last len(read_s); the ones before are warm-up
        reads = sorted((s for s in spans if s["name"] == "lake.read"),
                       key=lambda s: s["op"])[-len(raw["read_s"]):]
        m["lake.read.wall_s"] = median(dur(s) for s in reads)
        m["lake.read.bytes_read"] = median(grp("lake.read", s["op"], "bytes_read") for s in reads)
    else:
        m["sources.archive.write_s"] = median(dur(s) for s in named("sources.archive.write"))
        m["sources.archive.write_shuffle_bytes"] = median(
            per_op("sources.archive.write", "shuffle_write_bytes"))
        m["sources.archive.write_tasks"] = median(per_op("sources.archive.write", "tasks"))
        m["sources.archive.files_written"] = median(
            r.get("fs", {}).get("archive.data_files", 0) for r in records.values())
        m["sources.archive.chunks_written"] = median(r["chunks_written"] for r in records.values())
        m["sources.archive.read_s"] = median(dur(s) for s in named("sources.archive.read"))
        m["sources.archive.read_tasks"] = median(per_op("sources.archive.read", "tasks"))
        m["sources.archive.fetch_offsets_s"] = median(
            dur(s) for s in named("sources.archive.fetch_offsets"))
        m["sources.archive.resume_read_s"] = median(
            dur(s) for s in named("sources.archive.resume_read"))
        m["sources.archive.meta_ops"] = median(fs_total(r, ("archive",)) for r in records.values())
    return m


# ---------------------------------------------------------------- result line

def summarize(raw):
    """(result line, detail) for one run's raw record."""
    e2e = end_to_end(raw)
    checks = raw.get("checks", [])
    correct = (bool(raw["ops"]) and raw["failed"] == 0 and not raw.get("error")
               and all(c.get("ok") for c in checks))
    if raw["stamp"]["trace"]:
        values = per_layer(raw, e2e)
        names = [n for n, _, _ in PER_LAYER]
    else:
        values = e2e
        names = [n for n, _, _ in END_TO_END]
    result = {
        "correct": correct,
        "attempted": max(1, int(raw["attempted"])),
        "failed": int(raw["failed"]),
        "metrics": {n: {"value": float(values[n]), "unit": UNITS[n]} for n in names},
    }
    detail = {
        "workload": raw["stamp"]["workload"],
        "end_to_end": e2e,
        "ops": raw["ops"],
        "checks": checks,
        "error": raw.get("error"),
        "shape": raw.get("shape"),
        "roots": raw.get("roots"),
        "stored": raw.get("stored"),
        "compact_s": raw.get("compact_s"),
        "read_s": raw.get("read_s"),
        "marks": raw.get("marks"),
        "failed_op_ratio": ratio(raw["failed"], max(1, raw["attempted"])),
    }
    return result, detail
