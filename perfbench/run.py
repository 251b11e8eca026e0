#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload cdc_merge --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --selftest

Builds the engine and the benchmark from source when needed (build.py),
then runs `graftbench.Main` in one JVM on `local[<cores>]`. Each run works
in its own scratch root under `.bench_build/runs/`, which is removed when
the run ends; the report line records the bytes left behind. The last
stdout line is the result object (`correct`, `attempted`, `failed`,
`metrics`), the line before it the report. A traced run (`--trace 1`) also
writes its spans and jobs to `.bench_build/traces/`. The exit code is
non-zero when the build fails, a check fails, or the run exceeds its
time limit.
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

HERE = Path(__file__).resolve().parent
sys.dont_write_bytecode = True
sys.path.insert(0, str(HERE))
import build  # noqa: E402

RUNS = build.BUILD / "runs"
TRACES = build.BUILD / "traces"
RUN_LIMIT_S = 170

# What spark-submit adds on JDK 17 (JavaModuleOptions), needed by a
# SparkSession created in a plain JVM.
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def tree_bytes(path: Path) -> int:
    if not path.exists():
        return 0
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file() and not f.is_symlink())


def jvm(cp: str, root: Path, main: str, args: list) -> list:
    return [build.java(), "-Xmx3g", "-XX:-UsePerfData", *ADD_OPENS,
            f"-Djava.io.tmpdir={root / 'tmp'}",
            f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
            "-Duser.timezone=UTC",
            "-Dspark.ui.enabled=false",
            f"-Dspark.local.dir={root / 'spark-local'}",
            f"-Dspark.sql.warehouse.dir={root / 'warehouse'}",
            "-cp", cp, main, *args]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=["full_load", "cdc_merge"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true", help="check the benchmark's own logic and exit")
    args = ap.parse_args()
    if not args.selftest and not args.workload:
        ap.error("--workload is required")

    try:
        cp = build.ensure_built()
    except build.BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2

    RUNS.mkdir(parents=True, exist_ok=True)
    found = tree_bytes(RUNS)
    name = "selftest" if args.selftest else f"{args.workload}-{args.seed}"
    root = RUNS / f"{name}-{os.getpid()}"
    (root / "tmp").mkdir(parents=True)
    if args.selftest:
        cmd = jvm(cp, root, "graftbench.SelfTest", [])
    else:
        cmd = jvm(cp, root, "graftbench.Main", [
            "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--root", str(root / "work"),
            "--trace-out", str(TRACES / f"{args.workload}-seed{args.seed}.jsonl")])
    started = time.monotonic()
    # a SIGTERM to this script ends the run the same way: JVM killed and
    # waited for, scratch root removed
    signal.signal(signal.SIGTERM, lambda signum, _: sys.exit(128 + signum))
    proc = subprocess.Popen(cmd, cwd=root, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_LIMIT_S)
    except subprocess.TimeoutExpired:
        print(f"run exceeded {RUN_LIMIT_S} s", file=sys.stderr)
        return 3
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.communicate()
        shutil.rmtree(root, ignore_errors=True)
    residue = tree_bytes(RUNS) - found

    lines = out.splitlines()
    if args.selftest:
        print(out, end="")
        return proc.returncode
    if len(lines) < 2 or not lines[-1].startswith("{"):
        sys.stderr.write(out)
        print(f"run failed with exit code {proc.returncode} and no result", file=sys.stderr)
        return proc.returncode or 4
    report = json.loads(lines[-2])
    report["report"]["scratch_residue_bytes"] = residue
    report["report"]["jvm_wall_s"] = time.monotonic() - started
    for line in lines[:-2]:
        print(line)
    print(json.dumps(report))
    print(lines[-1])
    return proc.returncode or (5 if residue else 0)


if __name__ == "__main__":
    sys.exit(main())
