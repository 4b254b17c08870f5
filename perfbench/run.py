"""Benchmark entry point.

    python3 perfbench/run.py --workload {stream,investigate} \
        --seed N --seconds S --trace {0,1}

Run from the repository root. Makes the seed's inputs and oracle
answers first if they are not cached yet (``prepare.py``, untimed), then
runs the workload in a fresh worker process and prints its result as the
last line of standard output: ``correct``, ``attempted``, ``failed`` and
``metrics``, the end-to-end metrics with ``--trace 0`` and the per-layer
ones with ``--trace 1``.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import common  # noqa: E402

WORKLOADS = ("stream", "investigate")
HERE = os.path.dirname(os.path.abspath(__file__))


def run(cmd: list[str], env: dict, timeout: float) -> int:
    """Run ``cmd`` in its own process group and make sure every process
    in it has ended before returning."""
    proc = subprocess.Popen(cmd, env=env, start_new_session=True, stdout=sys.stderr)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        print(f"timed out after {timeout:.0f} s: {' '.join(cmd[:2])}", file=sys.stderr)
        return -1
    finally:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
        # the JVM and Spark's Python workers are grandchildren: wait
        # until no process of the group is left
        for _ in range(100):
            try:
                os.killpg(proc.pid, 0)
            except ProcessLookupError:
                break
            time.sleep(0.1)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # on SIGTERM unwind through run()'s finally, which ends the worker's
    # whole process group (its JVM and Python workers included)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    for need in ("osprey_spark", "__spark_entry__.py"):
        if not os.path.exists(os.path.join(common.ROOT, need)):
            print(f"not a checkout of the engine: {need} is missing", file=sys.stderr)
            return 2

    tmp = os.path.join(common.STATE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, PYTHONPATH=common.ROOT, TMPDIR=tmp)
    env["JDK_JAVA_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    py = sys.executable
    import prepare

    if not prepare.is_prepared(args.seed):
        rc = run([py, os.path.join(HERE, "prepare.py"), "--seed", str(args.seed)], env, 600)
        if rc != 0:
            print(f"preparing seed {args.seed} failed ({rc})", file=sys.stderr)
            return 1

    result = os.path.join(common.STATE, f"result_{args.workload}.json")
    if os.path.exists(result):
        os.remove(result)
    cmd = [
        py, os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--result", result,
    ]
    rc = run(cmd + ["--t0", repr(time.time())], env, 170)
    if rc != 0 or not os.path.exists(result):
        print(f"workload {args.workload} failed ({rc})", file=sys.stderr)
        return 1
    with open(result) as fh:
        print(json.dumps(json.load(fh)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
