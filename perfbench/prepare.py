"""Make one seed's inputs and oracle answers, anew.

    python3 perfbench/prepare.py --seed N

Writes ``.perfbench/cache/seed<N>/``:

- ``transcripts/``: conversation turns from
  ``osprey_spark.sources.datagen_spark`` (Zipf conversation sizes, a
  trigger phrase on about 1 turn in 13), sorted by event time, the
  earliest ``common.N_TURNS`` kept, and cut into equal files whose
  modification times follow that order, so a file stream reads them
  oldest first;
- ``tables/``: the analytics tables (``tables.py``);
- ``oracle.json``: the answers computed apart from the engine, in
  DuckDB: every investigate query's ``oracle_sql()``, and the
  sessionization and ordered-sequence answers for the stream workload.

The benchmark calls this when a seed has no cache yet; its time is not
part of any metric.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import common  # noqa: E402
import oracles  # noqa: E402
import tables  # noqa: E402


def write_transcripts(spark, out_dir: str, seed: int) -> int:
    import pyarrow as pa
    import pyarrow.dataset as ds
    import pyarrow.parquet as pq

    from osprey_spark.sources.datagen_spark import generate_transcripts_df

    tmp = out_dir + "_spark"
    generate_transcripts_df(spark, common.N_CONVS, seed=seed).write.mode("overwrite").parquet(tmp)
    tab = ds.dataset(tmp).to_table()
    # Spark writes INT96 timestamps that read back zone-less; the stream
    # reads `ts timestamp`, which needs the UTC-adjusted parquet type
    tab = tab.set_column(
        tab.schema.get_field_index("ts"), "ts", tab["ts"].cast(pa.timestamp("us", tz="UTC"))
    )
    tab = tab.sort_by([("ts", "ascending"), ("conv_id", "ascending"), ("turn_idx", "ascending")])
    if tab.num_rows < common.N_TURNS:
        raise SystemExit(f"seed {seed}: {tab.num_rows} turns, fewer than {common.N_TURNS}")
    tab = tab.slice(0, common.N_TURNS)
    os.makedirs(out_dir)
    n = tab.num_rows
    for i in range(common.FILES):
        lo, hi = i * n // common.FILES, (i + 1) * n // common.FILES
        path = os.path.join(out_dir, f"part-{i:05d}.parquet")
        pq.write_table(tab.slice(lo, hi - lo), path)
        os.utime(path, (1_000_000_000 + i, 1_000_000_000 + i))
    shutil.rmtree(tmp)
    return n


def prepare(seed: int) -> None:
    out = common.seed_dir(seed)
    shutil.rmtree(out, ignore_errors=True)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    tables.write_tables(os.path.join(tmp, "tables"), seed)
    spark = common.get_session("perfbench_prepare")
    try:
        n = write_transcripts(spark, os.path.join(tmp, "transcripts"), seed)
    finally:
        spark.stop()
    answers = oracles.precompute(tmp)
    answers["turns"] = n
    with open(os.path.join(tmp, "oracle.json"), "w") as fh:
        json.dump(answers, fh)
    with open(os.path.join(tmp, "VERSION"), "w") as fh:
        fh.write(common.PREPARE_VERSION)
    os.rename(tmp, out)


def is_prepared(seed: int) -> bool:
    try:
        with open(os.path.join(common.seed_dir(seed), "VERSION")) as fh:
            return fh.read() == common.PREPARE_VERSION
    except FileNotFoundError:
        return False


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    prepare(ap.parse_args().seed)
    common.exit_now()
