#!/usr/bin/env python3
"""Run one benchmark workload against the program in this checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: ingest_bulk, query_mix (see BENCHMARK.json).

The first call builds the program and the harness from source with sbt
(perfbench/build.sbt compiles against the program's own build) and keeps the
classpath under the build directory ($CARGO_TARGET_DIR, else .bench_build);
later calls rebuild only when a source file changed. Each run is one fresh JVM
(perfbench.Main) whose working files live in the build directory and are
deleted afterwards. The last line of standard output is the result object.

Input tables are the project's sf parquet tables (see TESTDATA.md), read from
$PERFBENCH_DATA/<sf>, by default ~/testdata/<sf>; sf0.1 unless --sf says
otherwise.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORKLOADS = ("ingest_bulk", "query_mix")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# Spark 4 on JDK 17 outside spark-submit needs these (the same list the
# program's build.sbt passes to its forked runs).
ADD_OPENS = [
    f"--add-opens={m}=ALL-UNNAMED" for m in (
        "java.base/java.lang", "java.base/java.lang.invoke",
        "java.base/java.lang.reflect", "java.base/java.io",
        "java.base/java.net", "java.base/java.nio",
        "java.base/java.util", "java.base/java.util.concurrent",
        "java.base/java.util.concurrent.atomic",
        "java.base/sun.nio.ch", "java.base/sun.nio.cs",
        "java.base/sun.security.action", "java.base/sun.util.calendar")
]


def log(msg):
    print(f"[run.py] {msg}", file=sys.stderr, flush=True)


def build_dir():
    return (Path.cwd() / os.environ.get("CARGO_TARGET_DIR", ".bench_build")).resolve()


def sources_stamp():
    """Hash of every file the build reads, so an unchanged tree skips sbt."""
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", BENCH / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    h = hashlib.sha256()
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + str(Path.home() / ".sbt" / "repositories") +
                   " -Dsbt.offline=true -Xmx2g")
    return env


def run_group(cmd, cwd, timeout, env=None, log=None):
    """Run `cmd` in its own process group and return (code, stdout, stderr);
    with `log`, both streams go to that file instead. The whole group is
    killed on timeout."""
    pipe = subprocess.PIPE if log is None else log
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=pipe,
                            stderr=subprocess.STDOUT if log else subprocess.PIPE,
                            text=True, start_new_session=True)
    try:
        out, err = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise SystemExit(f"[run.py] timed out after {timeout} s: {cmd[0]}")
    return proc.returncode, out, err


def build():
    """Compile program + harness; return the runtime classpath."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        raise SystemExit("[run.py] no program sources next to perfbench/ (build.sbt, src/main/scala)")
    out = build_dir()
    out.mkdir(parents=True, exist_ok=True)
    stamp = sources_stamp()
    cp_file, stamp_file = out / "classpath.txt", out / "stamp.txt"
    if cp_file.is_file() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    log("building program and harness with sbt")
    with open(out / "build.log", "w") as logf:
        code, _, _ = run_group(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=BENCH, timeout=BUILD_TIMEOUT_S, env=sbt_env(), log=logf)
    lines = (out / "build.log").read_text().splitlines()
    if code != 0:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        raise SystemExit(f"[run.py] sbt failed with exit code {code}")
    cp = next(l for l in reversed(lines) if "perfbench" in l and ":" in l and not l.startswith("["))
    cp_file.write_text(cp)
    stamp_file.write_text(stamp)
    return cp


def heap():
    """Half the machine's memory, clamped to 2..4 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{max(2, min(4, kb // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def java(cp, args, work):
    """Run perfbench.Main in a fresh JVM; return (exit code, stdout)."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory
    cmd = ["java", f"-Xms{heap()}", f"-Xmx{heap()}", "-XX:-UsePerfData", *ADD_OPENS,
           "-Dspark.ui.enabled=false", "-Duser.language=en", "-Duser.country=US",
           f"-Djava.io.tmpdir={tmp}", "-cp", cp, "perfbench.Main",
           *args, "--work", str(work), "--cache", str(build_dir() / "cache")]
    code, out, err = run_group(cmd, cwd=work, timeout=RUN_TIMEOUT_S)
    # Spark's own log lines are noise; keep the harness's and any failure
    for line in err.splitlines():
        if line.startswith("[") or code != 0:
            print(line, file=sys.stderr)
    return code, out


def data_dir(sf):
    d = Path(os.environ.get("PERFBENCH_DATA", Path.home() / "testdata")) / sf
    if not (d / "lineitem.parquet").exists():
        raise SystemExit(f"[run.py] input tables not found under {d}")
    return d


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", default="sf0.1", help="scale-factor directory name")
    a = ap.parse_args()

    data = data_dir(a.sf)
    cp = build()
    work = build_dir() / "work" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        code, out = java(cp, ["--workload", a.workload, "--seed", str(a.seed),
                              "--seconds", str(a.seconds), "--trace", str(a.trace),
                              "--data", str(data), "--expected", str(BENCH / "expected.tsv")],
                         work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines:
        raise SystemExit(f"[run.py] harness exited with code {code}")
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
