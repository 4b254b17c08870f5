"""Answers computed apart from the engine, in DuckDB SQL.

- investigate: each query's ``__spark_entry__.oracle_sql()`` over the
  seed's tables, compared order-insensitively after the same value
  normalisation the repository's oracle gate uses;
- stream, stateful operators: gap sessionization with escalation at the
  second trigger, and the greedy ordered tool sequence, over the seed's
  transcripts;
- stream, rule pipeline: exactly-once per (conv_id, turn_idx), per-rule fire
  counts recounted from the text, label state, verdict state and
  RepeatOffender against the batch each turn was committed in.
"""

from __future__ import annotations

import datetime
import glob
import hashlib
import json
import math
import os

import duckdb

import ruleset

INVESTIGATE_TABLES = ("events", "documents", "embeddings")

# queries an analyst runs from the console, and the operator queries:
# the 14 headline queries plus the console views of __spark_entry__
CONSOLE = [
    "timeseries_hourly",
    "topn_event_types",
    "distinct_users_by_type",
    "scan_page",
    "query_filter",
    "event_fetch",
    "entity_activity",
    "entity_labels_view",
]
ANALYTICS = [
    "rule_eval",
    "velocity_tumbling",
    "velocity_trailing",
    "sessionization",
    "cep_ordered_pattern",
    "dedup_exact",
    "dedup_minhash_lsh",
    "text_token_counts",
    "text_lang_id",
    "sim_cosine_topk",
    "sim_knn_join",
]

# Queries whose answer is known to differ from oracle_sql() because of a
# fault in the engine. Their executions are counted as failed operations
# while the fault stands; a wrong answer from any other query makes the
# run incorrect. Both faults show on every seed through the window-edge
# events of tables.EDGE_EVENTS.
KNOWN_FAULTS = {
    "velocity_trailing": "attach_trailing_count orders its range window by"
    " unix_timestamp(ts), whole seconds, so an event 3600.2 s back still counts",
    "sessionization": "sessionize compares unix_timestamp(ts), whole seconds,"
    " so a gap of 1800.5 s does not open a new session",
}

# dedup_minhash_lsh is approximate (64 hashes in 16 bands, an s-curve
# centred near Jaccard 0.5): every pair it returns must be a true pair,
# and it must find at least this share of the exact oracle's pairs
MINHASH_MIN_RECALL = 0.9
# sim_cosine_topk rounds to 4 decimals after computing in another float
# precision than DuckDB, so a value at a rounding edge may differ by 1e-4
COSINE_TOL = 1e-4 + 1e-9


def normalize(v):
    if hasattr(v, "to_pydatetime"):
        v = v.to_pydatetime()
    if isinstance(v, datetime.datetime):
        return v.isoformat()
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        if v.is_integer():
            return int(v)
        return round(v, 6)
    if isinstance(v, (list, tuple)):
        return tuple(normalize(x) for x in v)
    if hasattr(v, "tolist"):  # numpy scalars and arrays
        return normalize(v.tolist())
    return v


def fingerprint(rows: list[dict], columns: list[str]) -> dict:
    """Order-insensitive fingerprint of a result: one string per row,
    values in case-insensitive column-name order, sorted and hashed."""
    lower = {c.lower(): c for c in columns}
    order = [lower[c] for c in sorted(lower)]
    keys = sorted(str(tuple(normalize(r[c]) for c in order)) for r in rows)
    return {
        "columns": sorted(lower),
        "rows": len(keys),
        "sha256": hashlib.sha256("\n".join(keys).encode()).hexdigest(),
    }


def _con(tables_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for t in INVESTIGATE_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables_dir}/{t}.parquet'")
    return con


def investigate_answers(tables_dir: str) -> dict:
    import __spark_entry__

    sql = __spark_entry__.oracle_sql()
    con = _con(tables_dir)
    out = {}
    for name in CONSOLE + ANALYTICS:
        if name == "dedup_minhash_lsh":
            out[name] = {"pairs": sorted(con.execute(sql[name]).fetchall())}
        elif name == "sim_cosine_topk":
            out[name] = {"rows": sorted(con.execute(sql[name]).fetchall())}
        else:
            df = con.execute(sql[name]).fetch_df()
            out[name] = fingerprint(df.to_dict("records"), list(df.columns))
    return out


def check_query(name: str, rows: list[dict], columns: list[str], want: dict) -> str | None:
    """Compares one query's result with its oracle answer; returns what
    differs, or None."""
    if name == "dedup_minhash_lsh":
        got = {(r["id_a"], r["id_b"]) for r in rows}
        true = {tuple(p) for p in want["pairs"]}
        false_pairs, found = len(got - true), len(got & true)
        recall = found / len(true) if true else 1.0
        if false_pairs or recall < MINHASH_MIN_RECALL:
            return (
                f"{name}: {false_pairs} pairs below the Jaccard threshold, recall"
                f" {found}/{len(true)} (floor {MINHASH_MIN_RECALL})"
            )
        return None
    if name == "sim_cosine_topk":
        got = sorted((r["vec_id"], r["cosine"]) for r in rows)
        ok = len(got) == len(want["rows"]) and all(
            g[0] == w[0] and abs(g[1] - w[1]) <= COSINE_TOL for g, w in zip(got, want["rows"])
        )
        return None if ok else f"{name}: top-k {got} differs from oracle_sql() {want['rows']}"
    got = fingerprint(rows, columns)
    if got != want:
        return (
            f"{name}: {got['rows']} rows {got['columns']} differ from oracle_sql()"
            f" ({want['rows']} rows {want['columns']})"
        )
    return None


ESCALATION_SQL = f"""
WITH t AS (
  SELECT conv_id, turn_idx, ts, epoch(ts) AS e, contains(text, 'hello') AS trig
  FROM read_parquet('{{dir}}/*.parquet')
), g AS (
  -- both windows break event-time ties the same way, so tied turns never
  -- land in different sessions
  SELECT *, e - lag(e) OVER (PARTITION BY conv_id ORDER BY e, turn_idx) AS gap FROM t
), s AS (
  SELECT *, sum(CASE WHEN gap IS NULL OR gap > {ruleset.ESCALATION_GAP_S} THEN 1 ELSE 0 END)
              OVER (PARTITION BY conv_id ORDER BY e, turn_idx ROWS UNBOUNDED PRECEDING) AS sid
  FROM g
), k AS (
  SELECT conv_id, sid, min(e) AS start_e,
         list_sort(list(e) FILTER (WHERE trig)) AS trig_e
  FROM s GROUP BY 1, 2
), x AS (
  SELECT conv_id, sid, start_e, trig_e[{ruleset.ESCALATION_MIN_TRIGGERS}] AS esc_e
  FROM k WHERE len(trig_e) >= {ruleset.ESCALATION_MIN_TRIGGERS}
)
SELECT x.conv_id, x.start_e, x.esc_e,
       count(*) FILTER (WHERE s.e < x.esc_e) + 1 AS n_turns_lo,
       count(*) FILTER (WHERE s.e <= x.esc_e) AS n_turns_hi
FROM x JOIN s ON s.conv_id = x.conv_id AND s.sid = x.sid
GROUP BY 1, 2, 3
"""

CEP_SQL = """
WITH t AS (SELECT conv_id, turn_idx, tool, epoch(ts) AS e FROM read_parquet('{dir}/*.parquet')),
a AS (SELECT conv_id, min(turn_idx) AS t1 FROM t WHERE tool = '{s0}' GROUP BY 1),
b AS (SELECT a.conv_id, min(t.turn_idx) AS t2 FROM a JOIN t
        ON t.conv_id = a.conv_id AND t.tool = '{s1}' AND t.turn_idx > a.t1 GROUP BY 1),
c AS (SELECT b.conv_id, min(t.turn_idx) AS t3 FROM b JOIN t
        ON t.conv_id = b.conv_id AND t.tool = '{s2}' AND t.turn_idx > b.t2 GROUP BY 1)
SELECT c.conv_id, c.t3 AS turn, t.e FROM c JOIN t ON t.conv_id = c.conv_id AND t.turn_idx = c.t3
"""


def sessions_answers(transcripts_dir: str) -> dict:
    con = duckdb.connect()
    esc = con.execute(ESCALATION_SQL.format(dir=transcripts_dir)).fetchall()
    s0, s1, s2 = ruleset.CEP_TOOLS
    cep = con.execute(CEP_SQL.format(dir=transcripts_dir, s0=s0, s1=s1, s2=s2)).fetchall()
    return {
        "escalation": sorted([c, float(a), float(b), int(lo), int(hi)] for c, a, b, lo, hi in esc),
        "cep": sorted([c, int(t), float(e)] for c, t, e in cep),
    }


def precompute(seed_dir: str) -> dict:
    return {
        "investigate": investigate_answers(os.path.join(seed_dir, "tables")),
        "sessions": sessions_answers(os.path.join(seed_dir, "transcripts")),
    }


def check_sessions(answer: dict, escalations: list, matches: list) -> list[str]:
    """``escalations``: (conv_id, session_start, escalated_at, n_turns,
    n_triggers) with epoch-second times; ``matches``: (conv_id,
    matched_at_turn, matched_at_ts). Turns tied on event time may fold
    in either order, so n_turns is checked against the range the ties
    allow."""
    errors = []
    want = {(c, a, b): (lo, hi) for c, a, b, lo, hi in answer["escalation"]}
    got = {}
    for c, a, b, n, k in escalations:
        if k != ruleset.ESCALATION_MIN_TRIGGERS:
            errors.append(f"escalation {c}: {k} triggers")
        got[(c, float(a), float(b))] = n
    if set(got) != set(want):
        errors.append(
            f"escalations differ: {len(set(got) - set(want))} extra, "
            f"{len(set(want) - set(got))} missing of {len(want)}"
        )
    else:
        bad = [k for k, n in got.items() if not want[k][0] <= n <= want[k][1]]
        if bad:
            errors.append(f"escalation n_turns outside the tie range for {len(bad)} sessions")
    want_cep = sorted(tuple(r) for r in answer["cep"])
    got_cep = sorted((c, int(t), float(e)) for c, t, e in matches)
    if got_cep != want_cep:
        errors.append(f"ordered-sequence matches differ: {len(got_cep)} vs {len(want_cep)} expected")
    return errors


def committed_rows(con: duckdb.DuckDBPyConnection, results_dir: str) -> None:
    """View ``out``: every committed sink row with its batch id and the
    time its batch's commit marker landed."""
    markers = []
    for fp in glob.glob(os.path.join(results_dir, "_commits", "*.json")):
        with open(fp) as fh:
            m = json.load(fh)
        markers.append((m["batch_id"], m["committed_at"]))
    con.execute("CREATE TABLE commits (batch BIGINT, committed_at DOUBLE)")
    con.executemany("INSERT INTO commits VALUES (?, ?)", markers)
    con.execute(
        f"""CREATE VIEW out AS
        SELECT d.*, c.committed_at FROM read_parquet('{results_dir}/data/batch=*/*.parquet',
             hive_partitioning = true) d JOIN commits c ON c.batch = d.batch"""
    )


def check_pipeline(
    results_dir: str, input_glob: str, labels: set[str], verdicts: dict[str, int]
) -> list[str]:
    """Checks one drained pipeline; returns what failed."""
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    committed_rows(con, results_dir)
    con.execute(
        f"""CREATE TABLE inp AS SELECT conv_id, turn_idx,
              regexp_matches(text, '(?i)\\bhello\\b') AS hello,
              regexp_matches(text, '[a-z0-9.]+@[a-z0-9.]+') AS email,
              regexp_matches(text, '[A-Za-z][A-Za-z0-9+.-]*://[^/\\s]') AS link
            FROM read_parquet('{input_glob}')"""
    )
    errors = []
    n, distinct, n_in = con.execute(
        "SELECT count(*), (SELECT count(*) FROM (SELECT DISTINCT conv_id, turn_idx FROM out)),"
        " (SELECT count(*) FROM inp) FROM out"
    ).fetchone()
    if not n == distinct == n_in:
        errors.append(f"exactly-once: {n} committed rows, {distinct} distinct keys, {n_in} input turns")
    # expected verdicts per committed row; RepeatOffender needs the
    # conversation flagged in an EARLIER committed batch
    con.execute(
        """CREATE TABLE expect AS
        WITH j AS (SELECT o.*, i.hello, i.email, i.link FROM out o
                   JOIN inp i USING (conv_id, turn_idx)),
        first_flag AS (SELECT conv_id, min(batch) AS b FROM j WHERE hello OR email GROUP BY 1)
        SELECT j.*, (j.hello AND f.b IS NOT NULL AND f.b < j.batch) AS repeat
        FROM j LEFT JOIN first_flag f USING (conv_id)"""
    )
    rules = dict(zip(ruleset.RULE_COLUMNS, ("hello", "email", "link", "repeat")))
    for rule, col in rules.items():
        bad = con.execute(
            f"SELECT count(*) FILTER (WHERE coalesce({rule}, false) <> {col}),"
            f" count(*) FILTER (WHERE {col}) FROM expect"
        ).fetchone()
        if bad[0]:
            errors.append(f"{rule}: {bad[0]} rows differ from the recount ({bad[1]} expected fires)")
    want_labels = {r[0] for r in con.execute("SELECT DISTINCT conv_id FROM inp WHERE hello OR email").fetchall()}
    if labels != want_labels:
        errors.append(f"label state: {len(labels)} flagged, {len(want_labels)} expected")
    want_verdicts = dict(
        con.execute(
            """SELECT conv_id, sum(CAST(hello OR email AS INT) + CAST(link AS INT)
                                   + CAST(repeat AS INT)) AS n
               FROM expect GROUP BY 1 HAVING n > 0"""
        ).fetchall()
    )
    if verdicts != want_verdicts:
        diff = sum(1 for k in set(verdicts) | set(want_verdicts) if verdicts.get(k) != want_verdicts.get(k))
        errors.append(f"verdict state: {diff} conversations differ")
    return errors
