#!/usr/bin/env python3
"""Record the query faces' expected digests and costs into perfbench/expected.tsv.

    python3 perfbench/record.py --sf sf0.1 [--dump <dir>]

Runs every registered face twice (cold from empty session caches, then warm)
in one fresh JVM with the benchmark's session, and replaces the rows of that
scale factor in expected.tsv: row count, digest (sum of xxhash64 over each
row), cold and warm seconds. With --dump it also writes each face's output as
parquet plus oracle_sql.json, so the recorded outputs can be compared with the
DuckDB oracle:

    python3 tools/check_correctness.py <data>/<sf> <dir>
"""
import argparse
import shutil
from pathlib import Path

import run


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--sf", required=True)
    ap.add_argument("--dump", default="")
    a = ap.parse_args()
    cp = run.build()
    work = run.build_dir() / "work" / f"record-{a.sf}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    out = work / "recorded.tsv"
    args = ["--record", str(out), "--data", str(run.data_dir(a.sf))]
    if a.dump:
        args += ["--dump", str(Path(a.dump).resolve())]
    run.RUN_TIMEOUT_S = 3600
    code, _ = run.java(cp, args, work)
    if code != 0:
        raise SystemExit(f"record failed with exit code {code}")
    expected = run.BENCH / "expected.tsv"
    new = out.read_text().splitlines()
    old = expected.read_text().splitlines() if expected.exists() else new[:1]
    kept = [l for l in old[1:] if l.split("\t")[0] != a.sf]
    expected.write_text("\n".join([new[0]] + kept + new[1:]) + "\n")
    shutil.rmtree(work, ignore_errors=True)
    print(f"recorded {len(new) - 1} faces for {a.sf}")


if __name__ == "__main__":
    main()
