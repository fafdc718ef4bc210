"""Benchmark entry point: one run of one workload, one JSON line at the end.

    python3 perfbench/run.py --workload metadata_only --seed 7 --seconds 10 --trace 0

Run it from the root of a checkout. The first run in a checkout generates
every workload's inputs (gen.py, a process of its own) under
``.perfbench_work/``; each run then measures in a fresh process
(measure.py) and checks its output against ``expected.json``. The seed
selects one of ``common.VARIANTS`` generated inputs. ``--record-expected``
runs once per variant and rewrites ``expected.json`` from what the engine
returns instead of checking it. See README.md in this directory.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import signal
import subprocess
import sys
import time

import common

EXPECTED = os.path.join(common.BENCH_DIR, "expected.json")
PR_SET_CHILD_SUBREAPER = 36


def run_child(argv: list[str], timeout: float, stdout=None) -> subprocess.CompletedProcess:
    """Run a Python child and reap every process it left behind.

    This process is a child subreaper, so the Spark JVM and Python workers a
    child starts are re-parented here if they outlive it; they are given a
    few seconds to exit, then killed, and always waited for."""
    try:
        proc = subprocess.run([sys.executable, *argv], env=common.child_env(),
                              stdout=stdout, timeout=timeout, text=True)
    finally:
        reap_orphans()
    return proc


def reap_orphans(grace_s: float = 3.0) -> None:
    deadline = time.monotonic() + grace_s
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return  # no children left
        if pid:
            continue
        if time.monotonic() > deadline:
            _kill_children()
            deadline = float("inf")
        time.sleep(0.2)


def _kill_children() -> None:
    me = str(os.getpid())
    for name in os.listdir("/proc"):
        try:
            with open(f"/proc/{name}/stat") as f:
                s = f.read()
        except OSError:
            continue
        if s[s.rfind(")") + 2 :].split()[1] == me:
            try:
                os.kill(int(name), signal.SIGKILL)
            except ProcessLookupError:
                pass  # it exited since its stat was read


def ensure_inputs() -> None:
    """Generate, once per checkout, every workload input that is missing."""
    for w in common.WORKLOADS.values():
        out = w.data_dir()
        if os.path.exists(os.path.join(out, "_DONE")):
            continue
        gen = run_child([os.path.join(common.BENCH_DIR, "gen.py"), "--shape", w.shape,
                         "--rows", str(w.rows), "--variants", str(common.VARIANTS),
                         "--out", out], timeout=600, stdout=sys.stderr)
        if gen.returncode != 0:
            sys.exit(f"perfbench: generating {w.name} failed ({gen.returncode})")


def measure(workload: common.Workload, variant: int, seconds: int, trace: int,
            expect: str, observed_out: str | None = None) -> str:
    argv = [os.path.join(common.BENCH_DIR, "measure.py"), "--workload", workload.name,
            "--data", os.path.join(workload.data_dir(), f"v{variant}"),
            "--seconds", str(seconds), "--trace", str(trace), "--expect", expect]
    if observed_out:
        argv += ["--observed-out", observed_out]
    proc = run_child(argv, timeout=175, stdout=subprocess.PIPE)
    if proc.returncode != 0:
        sys.exit(f"perfbench: measuring {workload.name} failed ({proc.returncode})")
    return proc.stdout.strip().splitlines()[-1]


def record_expected(workload: common.Workload, seconds: int) -> None:
    table = {}
    if os.path.exists(EXPECTED):
        with open(EXPECTED) as f:
            table = json.load(f)
    observed_out = os.path.join(common.WORK, "observed.txt")
    for v in range(common.VARIANTS):
        measure(workload, v, seconds, 0, "record", observed_out)
        with open(observed_out) as f:
            seen = f.read().split()
        if len(seen) != 1:
            sys.exit(f"perfbench: {workload.name} v{v} is not deterministic: {seen}")
        table.setdefault(workload.name, {})[str(v)] = seen[0]
    with open(EXPECTED, "w") as f:
        json.dump(table, f, indent=2, sort_keys=True)
        f.write("\n")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=sorted(common.WORKLOADS), required=True)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-expected", action="store_true")
    args = ap.parse_args()
    common.ensure_repo_importable()
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    os.makedirs(common.WORK, exist_ok=True)
    ensure_inputs()
    workload = common.WORKLOADS[args.workload]
    if args.record_expected:
        record_expected(workload, args.seconds)
        return 0
    variant = args.seed % common.VARIANTS
    with open(EXPECTED) as f:
        expect = json.load(f)[workload.name][str(variant)]
    print(measure(workload, variant, args.seconds, args.trace, expect))
    return 0


if __name__ == "__main__":
    sys.exit(main())
