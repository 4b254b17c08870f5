"""One benchmark run of one workload, in a fresh process.

Started by ``run.py``, which passes the wall-clock time just before it
started this process (``--t0``): set-up time runs from then until the
engine is ready for input. Writes the run's result as JSON to
``--result``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time
from concurrent.futures import ThreadPoolExecutor

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import common  # noqa: E402
import oracles  # noqa: E402
import ruleset  # noqa: E402
from spans import SqlStatus, Tracer, median  # noqa: E402


def dir_bytes(*paths: str) -> tuple[int, int]:
    """(bytes, parquet files) under ``paths``."""
    size = files = 0
    for p in paths:
        for root, _dirs, names in os.walk(p):
            for n in names:
                size += os.path.getsize(os.path.join(root, n))
                files += n.endswith(".parquet")
    return size, files


class Run:
    def __init__(self, args) -> None:
        self.args = args
        self.seed_dir = common.seed_dir(args.seed)
        self.transcripts = os.path.join(self.seed_dir, "transcripts")
        with open(os.path.join(self.seed_dir, "oracle.json")) as fh:
            self.answers = json.load(fh)
        # a new directory per run, never deleted by the benchmark: on a
        # file system that discards blocks on delete, removing one drain's
        # ~5,000 state files took 28 s, a third of a run
        os.makedirs(common.WORK, exist_ok=True)
        self.work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=common.WORK)
        self.tracer = Tracer() if args.trace else None
        self.errors: list[str] = []
        self.attempted = 0
        self.failed = 0
        self.layer: dict[str, float] = {}
        self.jobs_per_batch: list[int] = []
        self.trigger_overhead_ms: list[float] = []
        self.spark = None
        self.sql = None

    # -- set-up ---------------------------------------------------------------

    def start_session(self) -> None:
        t = time.perf_counter()
        self.spark = common.get_session(f"perfbench_{self.args.workload}")
        self.layer["session.start_s"] = time.perf_counter() - t
        self.sql = SqlStatus(self.spark)

    def trace_engine(self) -> None:
        """Wrap the engine's rule-authoring entry points (module level,
        before any pipeline exists)."""
        if not self.tracer:
            return
        import osprey_spark.sml.validators as validators
        from osprey_spark.sml.compiler import RulesetCompiler

        self.tracer.wrap(validators, "validate_sources", "sml.validate")
        self.tracer.wrap(RulesetCompiler, "compile", "sml.compile")

    def new_pipeline(self, name: str):
        from osprey_spark.streaming.pipeline import RuleStreamPipeline

        wd = os.path.join(self.work, name)
        pipe = RuleStreamPipeline(self.spark, ruleset.RULES, wd, **ruleset.PIPELINE_KWARGS)
        if self.tracer:
            w = self.tracer.wrap
            w(pipe, "process_batch", "pipeline.batch")
            w(pipe.labels, "read", "labels.read")
            w(pipe.labels, "apply_mutations", "labels.merge")
            w(pipe.verdict_state, "read", "verdict_state.read")
            w(pipe.verdict_state, "merge_append", "verdict_state.merge")
            w(pipe.labels.store, "expire_snapshots", "state.expire")
            w(pipe.verdict_state, "expire_snapshots", "state.expire")
            w(pipe.sink, "write_batch", "sink.write")
        return pipe

    def batch_fn(self, pipe):
        """foreachBatch body: the pipeline's own, plus (traced) the count of
        Spark jobs the batch ran and the label-store write counts."""
        if not self.tracer:
            return pipe.process_batch

        def fn(df, batch_id):
            before = self.sql.last_id()
            pipe.process_batch(df, batch_id)
            self.jobs_per_batch.append(self.sql.jobs(self.sql.since(before)))
            st = pipe.labels.last_merge_stats
            self.tracer.add("labels.rows_appended", st.get("rows_appended", 0))
            self.tracer.add("labels.rows_compacted", st.get("rows_compacted", 0))

        return fn

    # -- streaming workload ----------------------------------------------------

    def check_pipeline(self, pipe, input_glob: str) -> None:
        from pyspark.sql import functions as F

        labels = {
            r[0]
            for r in pipe.labels.active_labels(self.spark)
            .filter((F.col("entity_type") == "Conversation") & (F.col("label_name") == "flagged"))
            .select("entity_id")
            .collect()
        }
        verdicts = {r[0]: r[1] for r in pipe.prior_verdict_counts().collect()}
        self.errors.extend(oracles.check_pipeline(pipe.sink.path, input_glob, labels, verdicts))

    def record_trigger_overhead(self, query) -> None:
        """Per batch, from query progress: triggerExecution minus addBatch."""
        for p in query.recentProgress:
            d = p.durationMs
            if "addBatch" in d:
                self.trigger_overhead_ms.append(d["triggerExecution"] - d["addBatch"])

    def state_layers(self, pipe) -> None:
        size, files = dir_bytes(pipe.labels.path, pipe.verdict_state.path)
        self.layer["state_mb"] = size / 1e6
        self.layer["state.live_files"] = files
        self.layer["sink.rows"] = sum(m["rows"] for m in pipe.sink.metrics())

    def drain(self, pipe) -> tuple[float, list[float]]:
        """Drains the whole backlog through the pipeline and checks the
        result; returns (wall from query start to the last commit, batch
        walls)."""
        q = (
            self.spark.readStream.schema(pipe.schema)
            .option("maxFilesPerTrigger", str(common.DRAIN_FILES_PER_TRIGGER))
            .parquet(self.transcripts)
            .withWatermark("ts", "10 minutes")
            .writeStream.foreachBatch(self.batch_fn(pipe))
            .option("checkpointLocation", pipe.checkpoint)
            .trigger(availableNow=True)
        )
        t0 = time.time()
        query = q.start()
        query.awaitTermination()
        markers = pipe.sink.metrics()
        wall = max(m["committed_at"] for m in markers) - t0
        self.layer["turns_per_s"] = sum(m["rows"] for m in markers) / wall
        self.check_pipeline(pipe, os.path.join(self.transcripts, "*.parquet"))
        if self.tracer:
            self.record_trigger_overhead(query)
            self.state_layers(pipe)
        return wall, [p.durationMs["triggerExecution"] / 1e3 for p in query.recentProgress]

    def session_frames(self):
        from pyspark.sql import functions as F

        from osprey_spark.streaming.cep_state import streaming_match_sequence
        from osprey_spark.streaming.escalation_state import streaming_escalation_sessions
        from osprey_spark.streaming.pipeline import TRANSCRIPT_SCHEMA

        def turns():
            return (
                self.spark.readStream.schema(TRANSCRIPT_SCHEMA)
                .option("maxFilesPerTrigger", str(common.SESSIONS_FILES_PER_TRIGGER))
                .parquet(self.transcripts)
            )

        esc = streaming_escalation_sessions(
            turns().withWatermark("ts", "30 minutes"),
            trigger=F.col("text").contains("hello"),
            gap_seconds=float(ruleset.ESCALATION_GAP_S),
            min_triggers=ruleset.ESCALATION_MIN_TRIGGERS,
        )
        cep = streaming_match_sequence(
            turns().withWatermark("ts", "10 minutes"),
            [F.col("tool") == t for t in ruleset.CEP_TOOLS],
        )
        return esc, cep

    def operators(self, frames) -> float:
        """Streams the backlog through the escalation operator, then through
        the ordered-sequence operator (never both at once), and checks both
        outputs; returns the summed query wall."""
        from pyspark.sql import functions as F

        out, total = {}, 0.0
        for name, frame in zip(("escalation", "cep"), frames):
            path = os.path.join(self.work, "operators", name)
            t0 = time.perf_counter()
            q = (
                frame.writeStream.format("parquet")
                .option("path", path)
                .option("checkpointLocation", path + "_checkpoint")
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            total += time.perf_counter() - t0
            prog = q.recentProgress
            if self.tracer:
                self.layer[f"{name}.batch_s"] = median(
                    [p.durationMs["triggerExecution"] / 1e3 for p in prog]
                )
                self.layer[f"{name}.state_rows"] = max(
                    sum(op.numRowsTotal for op in p.stateOperators) for p in prog
                )
                self.record_trigger_overhead(q)
            out[name] = path
        esc = self.spark.read.parquet(out["escalation"]).select(
            "conv_id",
            F.col("session_start").cast("double"),
            F.col("escalated_at").cast("double"),
            "n_turns",
            "n_triggers",
        )
        cep = self.spark.read.parquet(out["cep"]).select(
            "conv_id", "matched_at_turn", F.col("matched_at_ts").cast("double")
        )
        self.errors.extend(
            oracles.check_sessions(
                self.answers["sessions"],
                [tuple(r) for r in esc.collect()],
                [tuple(r) for r in cep.collect()],
            )
        )
        return total

    def stream(self, target) -> dict:
        """Drains the backlog through the rule pipeline, then through the
        two stateful operators, one query at a time: one round, over a
        minute on a 4-core host, whatever ``--seconds`` asks. A turn
        passes all three, so throughput is turns over the three queries'
        summed wall. Latency is the pipeline's median batch wall: a turn
        has its verdict when its batch commits."""
        pipe, frames = target
        drain_wall, pipe_walls = self.drain(pipe)
        ops_wall = self.operators(frames)
        self.attempted += 3 * self.answers["turns"]
        return {
            "throughput": self.answers["turns"] / (drain_wall + ops_wall),
            "latency_p50_s": median(pipe_walls),
        }

    # -- analyst queries ------------------------------------------------------

    def investigate(self, queries) -> dict:
        tables = os.path.join(self.seed_dir, "tables")
        names = oracles.CONSOLE + oracles.ANALYTICS
        answers = self.answers["investigate"]
        # round 0 checks every answer against the oracle and warms up,
        # its queries run concurrently because most of a query's first
        # run is driver-side planning and code generation; it is not
        # timed. The timed rounds after it run one query at a time into
        # the noop sink, which forces every output column without
        # collecting rows to the driver. A query with a known fault whose
        # answer is wrong here gives the same wrong answer in every round
        # (same plan, same input), so each of its executions counts as
        # failed.
        def fetch(name):
            df = queries[name](self.spark, tables)
            return df.toPandas().to_dict("records"), df.columns

        wrong: set[str] = set()
        with ThreadPoolExecutor(common.cores()) as pool:
            futures = {name: pool.submit(fetch, name) for name in names}
        for name in names:
            self.attempted += 1
            try:
                rows, columns = futures[name].result()
            except Exception as e:  # noqa: BLE001 — a failing query is counted, not fatal
                self.failed += 1
                print(f"query {name} failed: {type(e).__name__}: {e}", file=sys.stderr)
                continue
            diff = oracles.check_query(name, rows, columns, answers[name])
            if diff and name in oracles.KNOWN_FAULTS:
                wrong.add(name)
                self.failed += 1
                print(f"known fault: {diff}; {oracles.KNOWN_FAULTS[name]}", file=sys.stderr)
            elif diff:
                self.errors.append(diff)
        walls: dict[str, list[float]] = {n: [] for n in names}
        shuffle: dict[str, float] = {}
        python: dict[str, float] = {}
        t_run = time.perf_counter()
        while not walls[names[0]] or time.perf_counter() - t_run < self.args.seconds:
            for name in names:
                self.attempted += 1
                before = self.sql.last_id()
                t0 = time.perf_counter()
                try:
                    queries[name](self.spark, tables).write.format("noop").mode("overwrite").save()
                except Exception as e:  # noqa: BLE001
                    self.failed += 1
                    print(f"query {name} failed: {type(e).__name__}: {e}", file=sys.stderr)
                    continue
                walls[name].append(time.perf_counter() - t0)
                if name in wrong:
                    self.failed += 1
                if self.tracer:
                    shuffle[name], python[name] = self.sql.node_bytes(self.sql.since(before))
        med = {n: median(w) for n, w in walls.items()}
        for n in names:
            self.layer[f"query.{n}_s"] = med[n]
            self.layer[f"query.{n}.shuffle_mb"] = shuffle.get(n, 0.0) / 1e6
            self.layer[f"query.{n}.python_mb"] = python.get(n, 0.0) / 1e6
        self.layer["console_s"] = sum(med[n] for n in oracles.CONSOLE)
        self.layer["analytics_s"] = sum(med[n] for n in oracles.ANALYTICS)
        return {
            "throughput": len(names) / sum(med.values()),
            "latency_p50_s": median(list(med.values())),
        }

    # -- traced figures -------------------------------------------------------

    def pipeline_layers(self) -> None:
        t = self.tracer
        batches = t.durations("pipeline.batch")
        self.layer["pipeline.batches"] = len(batches)
        self.layer["pipeline.batch_s_p50"] = median(batches)
        self.layer["pipeline.jobs_per_batch"] = median(self.jobs_per_batch)
        self.layer["pipeline.self_s"] = median(t.self_times("pipeline.batch"))
        for span, key in (
            ("labels.read", "labels.read_s"),
            ("labels.merge", "labels.merge_s"),
            ("verdict_state.read", "verdict_state.read_s"),
            ("verdict_state.merge", "verdict_state.merge_s"),
            ("state.expire", "state.expire_s"),
            ("sink.write", "sink.write_s"),
        ):
            self.layer[key] = t.total(span)
        self.layer["labels.rows_appended"] = t.counters.get("labels.rows_appended", 0)
        self.layer["labels.rows_compacted"] = t.counters.get("labels.rows_compacted", 0)

    def jvm_peak_rss_mb(self) -> float:
        pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
        return 0.0


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--t0", type=float, required=True)
    ap.add_argument("--result", required=True)
    args = ap.parse_args()

    run = Run(args)
    run.trace_engine()
    run.start_session()
    wl = args.workload
    if wl == "stream":
        target = run.new_pipeline("pipeline"), run.session_frames()
    else:
        import __spark_entry__

        target = __spark_entry__.queries()
    setup_s = time.time() - args.t0

    e2e = getattr(run, wl)(target)
    e2e["setup_s"] = setup_s

    if run.tracer:
        run.layer["sml.validate_s"] = run.tracer.total("sml.validate")
        run.layer["sml.compile_s"] = run.tracer.total("sml.compile")
        if wl == "stream":
            run.pipeline_layers()
        run.layer["trigger.overhead_ms"] = median(run.trigger_overhead_ms)
        run.layer["jvm.peak_rss_mb"] = run.jvm_peak_rss_mb()
        metrics = {}
        units = {m["name"]: m["unit"] for m in common.benchmark_spec()["per_layer"]}
        for name, unit in units.items():
            metrics[name] = {"value": float(run.layer.get(name, 0.0)), "unit": unit}
        # the traced run's own end-to-end figures ride along, so traced
        # against untraced runs gives the tracing overhead
        run.tracer.dump(
            os.path.join(common.STATE, f"trace_{wl}_seed{args.seed}.json"),
            {k: v["value"] for k, v in metrics.items()},
            e2e,
        )
    else:
        units = {m["name"]: m["unit"] for m in common.benchmark_spec()["end_to_end"]}
        metrics = {name: {"value": float(e2e[name]), "unit": unit} for name, unit in units.items()}
    run.spark.stop()
    for e in run.errors:
        print(f"check failed: {e}", file=sys.stderr)
    result = {
        "correct": not run.errors,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }
    with open(args.result, "w") as fh:
        json.dump(result, fh)


if __name__ == "__main__":
    main()
    common.exit_now()
