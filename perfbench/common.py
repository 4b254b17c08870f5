"""Paths, sizes and the Spark session settings shared by every step."""

from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STATE = os.path.join(ROOT, ".perfbench")  # generated, never committed
CACHE = os.path.join(STATE, "cache")
WORK = os.path.join(STATE, "work")
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

# transcripts: about 41 turns per conversation, so ~123k turns, of
# which the N_TURNS earliest by event time are kept: the same count on
# every seed, so a rate does not move with the seed's Zipf draw. They
# are cut by event time into FILES equal slices that stream in that order
N_CONVS = 3_000
N_TURNS = 100_000
FILES = 16
# 16 pipeline batches: label buckets compact past their 8th delta file,
# and snapshot expiry runs at batch 15 (maintenance_every=16)
DRAIN_FILES_PER_TRIGGER = 1
SESSIONS_FILES_PER_TRIGGER = 8

DRIVER_MEMORY = "2g"
PREPARE_VERSION = "5"


def cores() -> int:
    """Task slots: one fewer than the host's cores (at least 1, at most
    4), leaving a core for the driver and the Python workers."""
    n = len(os.sched_getaffinity(0))
    return max(1, min(4, n - 1))


def seed_dir(seed: int) -> str:
    return os.path.join(CACHE, f"seed{seed}")


def get_session(app_name: str):
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    # Spark's Python workers import the engine too
    paths = os.environ.get("PYTHONPATH", "").split(os.pathsep)
    if ROOT not in paths:
        os.environ["PYTHONPATH"] = os.pathsep.join([ROOT] + [p for p in paths if p])
    from osprey_spark.session import get_spark

    n = cores()
    return get_spark(
        cores=n,
        app_name=app_name,
        shuffle_partitions=n,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(STATE, "spark-local"),
        },
    )


def exit_now() -> None:
    """Ends the process at once, after its outputs are written. A normal
    interpreter exit after ``spark.stop()`` took 10-30 s in preparation
    runs on a 4-core host; ``run.py`` ends the whole process group (the
    JVM included) anyway."""
    sys.stdout.flush()
    sys.stderr.flush()
    os._exit(0)


def benchmark_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)
