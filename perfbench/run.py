#!/usr/bin/env python3
"""The repository benchmark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the engine (src/main/scala) and the benchmark program
(perfbench/src) with the Scala compiler that ships in Spark's jars, runs
one workload in a fresh JVM, and prints, as the last line of standard
output, one JSON object with the keys correct, attempted, failed and
metrics. The line before it holds the full detail of the run: the set-up
it ran under, every operation timing, the oracle checks, and, for a traced
run, the per-layer breakdown.

Everything the benchmark writes lives under .perfbench/ in the checkout:
the build (reused while no source changes), the tables of the running
workload (deleted when it ends) and the detail of each run.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import zipfile
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import metrics  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
BENCH = ROOT / "perfbench"
STATE = ROOT / ".perfbench"
WORKLOADS = ("ingest_bulk", "ingest_trickle", "archive_roundtrip")
JVM_HEAP = "3g"
JVM_TIMEOUT_S = 170
# What spark-submit would pass on JDK 17 (the same list as build.sbt).
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


class BenchError(Exception):
    pass


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else next to spark-submit."""
    homes = []
    if os.environ.get("SPARK_HOME"):
        homes.append(Path(os.environ["SPARK_HOME"]))
    submit = shutil.which("spark-submit")
    if submit:
        homes.append(Path(submit).resolve().parent.parent)
    for home in homes:
        jars = home / "jars"
        if list(jars.glob("scala-compiler-*.jar")) and list(jars.glob("spark-sql_*.jar")):
            return jars
    raise BenchError("no Spark installation with a Scala compiler found "
                     "(set SPARK_HOME or put spark-submit on PATH)")


def sources():
    engine = ROOT / "src" / "main" / "scala"
    if not engine.is_dir():
        raise BenchError(f"no engine sources at {engine.relative_to(ROOT)}")
    files = sorted(engine.rglob("*.scala")) + sorted((BENCH / "src").rglob("*.scala"))
    if not files:
        raise BenchError("no Scala sources to build")
    return files


def classpath(build_dir, jars):
    # explicit and sorted, so that the class archive of the build matches it
    return ":".join([str(build_dir / "perfbench.jar")] + [str(j) for j in sorted(jars.glob("*.jar"))])


def java_cmd(build_dir, jars, work, extra=()):
    # no hsperfdata file under the system temp directory
    cmd = ["java", f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work / 'tmp'}", *extra]
    cmd += [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
    return cmd + ["-cp", classpath(build_dir, jars), "perfbench.Main"]


def smoke_report(docs):
    """One line per workload of a smoke run, and whether every one passed its
    checks with no failed call."""
    lines, ok = [], True
    for raw in docs:
        result, detail = metrics.summarize(raw)
        ok = ok and result["correct"]
        lines.append(f"{detail['workload']:18s} {'ok' if result['correct'] else 'FAILED'} "
                     f"attempted={result['attempted']} failed={result['failed']} "
                     f"checks={json.dumps(detail['checks'])}")
    return "\n".join(lines) + "\n", ok


def build(jars):
    """Compile engine and benchmark into .perfbench/build/<source hash>/perfbench.jar,
    then run the three workloads at tiny size, traced, once in one JVM: a
    smoke test of the build, whose report is kept as smoke.txt (and smoke.ok
    if every check passed). The classes that JVM loaded are kept as a
    class-data archive (classes.jsa). Later runs map that archive instead of
    loading Spark's classes one by one, which takes seconds off every JVM
    start and first query."""
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode() + b"\0" + f.read_bytes() + b"\0")
    h.update(" ".join(sorted(p.name for p in jars.glob("*.jar"))).encode())
    key = h.hexdigest()[:16]
    out = STATE / "build" / key
    if (out / "ready").is_file():
        return out, key
    shutil.rmtree(out, ignore_errors=True)
    (out / "classes").mkdir(parents=True)
    try:
        argfile = out / "sources.txt"
        argfile.write_text("\n".join(str(f) for f in files) + "\n")
        cp = f"{jars}/*"
        t = time.monotonic()
        r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
                            "-classpath", cp, "-nowarn", "-d", str(out / "classes"), f"@{argfile}"],
                           stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            raise BenchError("build failed:\n" + r.stdout[-4000:])
        with zipfile.ZipFile(out / "perfbench.jar", "w", zipfile.ZIP_STORED) as z:
            for f in sorted((out / "classes").rglob("*.class")):
                z.write(f, f.relative_to(out / "classes"))
        shutil.rmtree(out / "classes")
        # the archive records the class path, so it is made where it is used
        work = out / "work"
        (work / "tmp").mkdir(parents=True)
        docs = run_jvm(java_cmd(out, jars, work, [f"-XX:ArchiveClassesAtExit={out / 'classes.jsa'}"]),
                       ["--workload", "all", "--size", "tiny", "--seed", "1", "--seconds", "2",
                        "--trace", "1", "--work", str(work), "--out", str(out / "smoke.json")],
                       out / "smoke.json", out / "smoke.log")
        shutil.rmtree(work)
        report, ok = smoke_report(docs)
        (out / "smoke.txt").write_text(report)
        if ok:
            (out / "smoke.ok").touch()
        else:
            print("perfbench: the build's smoke run failed its checks:\n" + report, file=sys.stderr)
        (out / "ready").write_text(key + "\n")
        print(f"perfbench: built {len(files)} sources in {time.monotonic() - t:.1f} s",
              file=sys.stderr)
    except BaseException:
        shutil.rmtree(out, ignore_errors=True)
        raise
    return out, key


def fs_type(path):
    """Filesystem type of the mount holding `path` (from /proc/mounts)."""
    best, kind = "", "unknown"
    try:
        for line in Path("/proc/mounts").read_text().splitlines():
            parts = line.split()
            mnt = parts[1].replace("\\040", " ")
            if (str(path) + "/").startswith(mnt.rstrip("/") + "/") and len(mnt) > len(best):
                best, kind = mnt, parts[2]
    except OSError:
        pass
    return kind


def git_commit():
    try:
        r = subprocess.run(["git", "-C", str(ROOT), "rev-parse", "HEAD"],
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        return r.stdout.strip() if r.returncode == 0 else None
    except OSError:
        return None


def run_jvm(cmd, args, out_file, log_file):
    """Run one workload JVM to completion (killing it after JVM_TIMEOUT_S) and
    return the JSON it wrote."""
    with open(log_file, "w") as log:
        proc = subprocess.Popen(cmd + args, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except BaseException:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise BenchError(f"workload JVM killed after {JVM_TIMEOUT_S} s")
    if rc != 0 or not out_file.exists():
        tail = Path(log_file).read_text(errors="replace")[-4000:]
        raise BenchError(f"workload JVM exited with {rc}:\n{tail}")
    return json.loads(out_file.read_text())


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    args = ap.parse_args()

    try:
        jars = spark_jars()
        build_dir, source_key = build(jars)
        run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
        work = STATE / "work" / run_id
        outdir = STATE / "runs"
        outdir.mkdir(parents=True, exist_ok=True)
        shutil.rmtree(work, ignore_errors=True)
        (work / "tmp").mkdir(parents=True)
        try:
            out_file = outdir / f"{run_id}.raw.json"
            cds = build_dir / "classes.jsa"
            raw = run_jvm(java_cmd(build_dir, jars, work,
                                   [f"-XX:SharedArchiveFile={cds}"] if cds.is_file() else []),
                          ["--workload", args.workload, "--seed", str(args.seed),
                           "--seconds", str(args.seconds), "--trace", str(args.trace),
                           "--work", str(work), "--out", str(out_file)],
                          out_file, outdir / f"{run_id}.log")
        finally:
            shutil.rmtree(work, ignore_errors=True)
    except BenchError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2

    raw["stamp"].update({
        "git_commit": git_commit(), "source_sha256": source_key,
        "work_root": str(work.relative_to(ROOT)), "work_fs": fs_type(work.parent),
    })
    result, detail = metrics.summarize(raw)
    detail["stamp"] = raw["stamp"]
    (outdir / f"{run_id}.json").write_text(json.dumps(detail, indent=1, sort_keys=True))
    print(json.dumps({"detail": detail}, sort_keys=True))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
