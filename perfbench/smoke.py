#!/usr/bin/env python3
"""Smoke test of the benchmark: all three workloads at tiny size, traced, in
one JVM. That run is part of the build (run.build), so this builds if the
sources changed and reports the build's smoke run. Exits 1 if any workload
failed its oracle check or a call into the engine failed, 2 if the build or
the JVM failed.

    python3 perfbench/smoke.py
"""
import sys

import run


def main():
    try:
        build_dir, _ = run.build(run.spark_jars())
    except run.BenchError as e:
        print(f"smoke: {e}", file=sys.stderr)
        return 2
    print((build_dir / "smoke.txt").read_text(), end="")
    return 0 if (build_dir / "smoke.ok").is_file() else 1


if __name__ == "__main__":
    sys.exit(main())
