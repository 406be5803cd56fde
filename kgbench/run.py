#!/usr/bin/env python3
"""Runs one benchmark workload and prints its result as the last stdout line.

    python3 kgbench/run.py --workload hot_entity_build --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Builds first when the sources changed (see
build.py), then runs kgbench.Main in one JVM. Scratch state lives under
.bench_build/ and is removed when the run ends; the traced run (--trace 1)
leaves its span dump in .bench_build/kgbench/traces/.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("recrawl_update", "hot_entity_build")
JVM_TIMEOUT_S = 170
HEAP = "3g"
YOUNG = "512m"


def with_units(metrics: dict, trace: bool) -> dict:
    """The JVM's name -> value map, in BENCHMARK.json's order and with its
    units; any missing or extra name is an error."""
    spec = json.loads((build.ROOT / "BENCHMARK.json").read_text())
    want = spec["per_layer" if trace else "end_to_end"]
    names = [m["name"] for m in want]
    if sorted(metrics) != sorted(names):
        raise ValueError(f"metrics {sorted(metrics)} do not match BENCHMARK.json {names}")
    return {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]} for m in want}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    try:
        classpath = build.build()
    except build.BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2

    work = build.OUT / f"work-{a.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    # a fixed young generation: a job then sees several collections, each a
    # sample of the heap it holds (see HeapPeak)
    cmd = [build.java(), *build.JVM_OPENS, f"-Xmx{HEAP}", f"-Xms{HEAP}", f"-Xmn{YOUNG}",
           f"-Djava.io.tmpdir={work}", "-cp", classpath, "kgbench.Main",
           "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--work", str(work), "--out", str(build.OUT / "traces"),
           "--floors", str(build.BENCH / "floors.json")]
    # a terminated run.py must not leave the JVM behind
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr,
                            text=True, cwd=build.ROOT, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"benchmark JVM exceeded {JVM_TIMEOUT_S}s", file=sys.stderr)
        return 3
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    lines = out.rstrip("\n").split("\n")
    if proc.returncode != 0:
        sys.stderr.write(out)
        print(f"benchmark JVM exited with {proc.returncode}", file=sys.stderr)
        return 3
    result = json.loads(lines[-1])
    try:
        result["metrics"] = with_units(result["metrics"], a.trace == 1)
    except ValueError as e:
        print(e, file=sys.stderr)
        return 3
    print("\n".join(lines[:-1]))
    for name, m in result["metrics"].items():
        print(f"[kgbench]   {name:30s} {m['value']:14.4f} {m['unit']}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
