"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload etl_batch --seed 1 --trace 0

Builds the program and the benchmark from source on first use (see
build.py), runs the workload in one JVM on local[<cores>], streams its
report to stdout and ends with one JSON line:
{"correct": .., "attempted": .., "failed": .., "metrics": {..}}.
`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer
ones, named and in the units BENCHMARK.json gives them (see
perfbench/README.md). Each run also appends a detail record
(host context, both metric sets, workload-specific metric names) to
`--results` (default .bench_build/results.jsonl) and, when traced,
writes its spans to .bench_build/spans/. The exit code is 0 only when
every correctness check passed.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import threading
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

ROOT = build.ROOT
TIMEOUT_S = 170
# runnable by name but left out of BENCHMARK.json's timed set (see README)
EXTRA_WORKLOADS = ["serve_lookup"]
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def commit() -> str:
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    names = [w["name"] for w in spec["workloads"]] + EXTRA_WORKLOADS
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=names)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=spec["run_seconds"])
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--results", default=str(build.OUT / "results.jsonl"))
    a = ap.parse_args()

    try:
        classes, key = build.build()
    except build.BuildError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2

    work = build.OUT / "work" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    spans = build.OUT / "spans" / f"{a.workload}-seed{a.seed}.jsonl"
    cmd = [build.java(), "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work / 'tmp'}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}{os.pathsep}{build.spark_jars() / '*'}", "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", str(work), "--detail", str(Path(a.results).resolve()),
            "--spans", str(spans), "--commit", commit(), "--source-digest", key]
    for kind in ("end_to_end", "per_layer"):
        cmd += ["--" + kind.replace("_", "-"),
                ",".join(f"{m['name']}:{m['unit']}" for m in spec[kind])]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    timer = threading.Timer(TIMEOUT_S, proc.kill)
    timer.start()
    last = ""
    try:
        for line in proc.stdout:
            sys.stdout.write(line)
            sys.stdout.flush()
            if line.strip():
                last = line.strip()
        rc = proc.wait()
    finally:
        timer.cancel()
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    if rc != 0:
        print(f"perfbench: workload exited with code {rc}", file=sys.stderr)
        return rc if rc > 0 else 3
    want = [m["name"] for m in spec["per_layer" if a.trace else "end_to_end"]]
    try:
        got = json.loads(last)
        ok = sorted(got["metrics"]) == sorted(want) and got["correct"] is True
    except (ValueError, KeyError, TypeError):
        ok = False
    if not ok:
        print("perfbench: result line does not match BENCHMARK.json", file=sys.stderr)
        return 4
    return 0


if __name__ == "__main__":
    sys.exit(main())
