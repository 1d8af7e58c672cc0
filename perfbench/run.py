"""Pipeline benchmark: daily ingest, cold-start backfill and daily corpus runs.

Run from the root of a checkout:

    python3 perfbench/run.py --workload ingest_daily --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --self-test

Builds the library and the benchmark from source (see build.py), then runs
one workload in one JVM with Spark ``local[<cores>]``. Every file it writes
goes under ``.bench_build/`` in the checkout. The last line of stdout is the
JSON result; the exit code is non-zero when the build, a run, a read or a
correctness check failed. BENCHMARK.json describes workloads and metrics.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("ingest_daily", "ingest_backfill", "corpus_daily")
LIMIT_S = 170

# Spark on JDK 17 outside spark-submit needs these module openings.
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def run_jvm(main, args, classes, work, limit):
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = [build.java(), "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-Duser.timezone=UTC", "-Dfile.encoding=UTF-8", *ADD_OPENS,
           "-cp", f"{classes}{os.pathsep}{build.spark_jars()}{os.sep}*", main, *args]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, cwd=work)
    try:
        out, _ = proc.communicate(timeout=limit)
    except subprocess.TimeoutExpired:
        raise SystemExit(f"perfbench: {main} exceeded {limit:.0f} s")
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    return proc.returncode, out


def main():
    # a terminated benchmark unwinds, so the JVM it started is killed too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--root", default=".", help="checkout root (default: working directory)")
    ap.add_argument("--self-test", action="store_true", help="run the benchmark's own tests")
    a = ap.parse_args()
    if not a.self_test and not a.workload:
        ap.error("--workload is required")
    root = Path(a.root).resolve()
    t0 = time.monotonic()
    classes = build.build(root)
    limit = 600 if a.self_test else max(60, LIMIT_S - (time.monotonic() - t0))
    bb = root / ".bench_build"
    work = bb / "work" / str(os.getpid())
    shutil.rmtree(work, ignore_errors=True)
    try:
        if a.self_test:
            code, out = run_jvm("perfbench.SelfTest", ["--root", str(root)], classes, work, limit)
            sys.stdout.write(out)
            sys.exit(code)
        code, out = run_jvm("perfbench.Main", [
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--root", str(root), "--work", str(work),
            "--out", str(bb / "traces")], classes, work, limit)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.rstrip("\n").split("\n") if out.strip() else []
    try:
        result = json.loads(lines[-1])
        ok = set(result) == {"correct", "attempted", "failed", "metrics"}
    except (IndexError, ValueError):
        ok = False
    if not ok:
        sys.stderr.write(out)
        raise SystemExit(f"perfbench: no result (exit code {code})")
    sys.stdout.write("\n".join(lines) + "\n")
    sys.exit(code if code != 0 else (0 if result["correct"] else 1))


if __name__ == "__main__":
    main()
