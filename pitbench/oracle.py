"""Output checks against computations independent of the engine.

* ``pit_asof``: DuckDB ``ASOF LEFT JOIN`` over the same parquet inputs,
  compared row by row.
* ``feature_materialize``: DuckDB ``ASOF LEFT JOIN`` and window SQL
  against the written buckets, row by row; numpy over the input columns
  for the fitted StandardScore, IndexLookup and t-digest state and the
  written feature values; and a file diff proving the resume rewrote
  exactly the buckets whose manifests were removed.

Each check returns a list of failures (empty when correct).  ``plant``
corrupts the engine's output before it is compared, so that the
benchmark's self-test can prove each check catches a wrong answer:
``shift`` moves some as-of matches, ``skip`` / ``extra`` make the resume
look as if it skipped a removed bucket or rewrote a kept one.
"""

from __future__ import annotations

import glob
import os

import duckdb
import numpy as np
import pyarrow.parquet as pq

from spans import NullTracer
import workloads

# duckdb reads every timestamp as epoch microseconds, so timestamp
# columns compare exactly whatever parquet type each side was written with
ASOF_EXPECTED = """
SELECT s.doc_id, s.n_tok,
       f0.v0, epoch_us(f0.feature_ts) AS f0_matched_ts,
       f1.v1, epoch_us(f1.feature_ts) AS f1_matched_ts,
       f2.v2, epoch_us(f2.feature_ts) AS f2_matched_ts
FROM spine s
ASOF LEFT JOIN feat0 f0 ON s.user_id = f0.user_id AND s.ts >= f0.feature_ts
ASOF LEFT JOIN feat1 f1 ON s.user_id = f1.user_id AND s.ts >= f1.feature_ts
ASOF LEFT JOIN feat2 f2 ON s.user_id = f2.user_id AND s.ts >= f2.feature_ts
"""

WINDOW_EXPECTED = f"""
WITH j AS (
  SELECT s.doc_id, s.user_id, s.ts, s.n_tok, s.score, f.v0,
         epoch_us(f.feature_ts) AS matched_feature_ts
  FROM spine s
  ASOF LEFT JOIN feat0 f ON s.user_id = f.user_id AND s.ts >= f.feature_ts
), w AS (
  SELECT *,
    lag(n_tok) OVER o AS n_tok_lag1,
    lead(n_tok) OVER o AS n_tok_lead1,
    last_value(score IGNORE NULLS) OVER (o ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS score_ff,
    CASE WHEN lag(ts) OVER o IS NULL
           OR epoch_us(ts) - epoch_us(lag(ts) OVER o) > {workloads.SESSION_GAP_S * 1e6} THEN 1
         ELSE 0 END AS boundary
  FROM j WINDOW o AS (PARTITION BY user_id ORDER BY ts, doc_id)
)
SELECT doc_id, n_tok, v0, matched_feature_ts, n_tok_lag1, n_tok_lead1, score_ff AS score,
  sum(boundary) OVER (PARTITION BY user_id ORDER BY ts, doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS session_id
FROM w
"""


WINDOW_COLUMNS = ["n_tok", "v0", "matched_feature_ts", "n_tok_lag1", "n_tok_lead1", "score", "session_id"]


def _duckdb(work_dir: str, paths: dict) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect(config={
        "threads": os.cpu_count(), "memory_limit": "1GB",
        "temp_directory": os.path.join(work_dir, "duckdb-tmp"),
    })
    for name, path in paths.items():
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}/*.parquet')")
    return con


def _diff(con, expected_sql: str, actual: str, columns: list) -> list:
    """Row-by-row comparison keyed on doc_id; returns failures."""
    mism = " OR ".join(f"e.{c} IS DISTINCT FROM a.{c}" for c in columns)
    n_exp, n_act, bad, missing = con.sql(f"""
        WITH e AS ({expected_sql})
        SELECT (SELECT count(*) FROM e), (SELECT count(*) FROM {actual}),
               count(*) FILTER (WHERE e.doc_id IS NOT NULL AND a.doc_id IS NOT NULL AND ({mism})),
               count(*) FILTER (WHERE e.doc_id IS NULL OR a.doc_id IS NULL)
        FROM e FULL OUTER JOIN {actual} a ON e.doc_id = a.doc_id
    """).fetchone()
    failures = []
    if n_exp != n_act or missing:
        failures.append(f"row sets differ: expected {n_exp} rows, got {n_act}, {missing} unpaired")
    if bad:
        first = con.sql(f"""
            WITH e AS ({expected_sql})
            SELECT e.doc_id FROM e JOIN {actual} a ON e.doc_id = a.doc_id WHERE {mism} LIMIT 1
        """).fetchone()[0]
        failures.append(f"{bad} rows differ from the oracle (first: doc_id {first})")
    return failures


def _engine_result(wl, ts_cols: list):
    """Engine output as an Arrow table: tokens dropped, timestamps as
    epoch microseconds."""
    from pyspark.sql import functions as F

    df = wl.result(NullTracer()).drop("tokens")
    return df.withColumns({c: F.unix_micros(F.col(c)) for c in ts_cols}).toArrow()


def _planted(col: str, plant) -> str:
    """SQL for ``col``, or for the planted wrong answer: every 97th row's
    match one second later."""
    return f"CASE WHEN hash(doc_id) % 97 = 0 THEN {col} + 1000000 ELSE {col} END" if plant == "shift" else col


def check_pit_asof(wl, paths, work_dir, plant=None) -> list:
    ts_cols = ["f0_matched_ts", "f1_matched_ts", "f2_matched_ts"]
    con = _duckdb(work_dir, paths)
    try:
        con.register("result", _engine_result(wl, ts_cols))
        con.sql(f"CREATE VIEW actual AS SELECT * REPLACE ({_planted(ts_cols[0], plant)} AS {ts_cols[0]}) FROM result")
        return _diff(con, ASOF_EXPECTED, "actual", ["n_tok", "v0", "v1", "v2"] + ts_cols)
    finally:
        con.close()


def _close(a: float, b: float, rtol: float = 1e-9) -> bool:
    return abs(a - b) <= rtol * max(abs(a), abs(b), 1.0)


def check_feature_materialize(wl, paths, work_dir, plant=None) -> list:
    last = wl.last
    spine = pq.read_table(paths["spine"], columns=["n_tok", "source"])
    n_tok = spine["n_tok"].to_numpy().astype(np.float64)
    source = spine["source"].to_numpy(zero_copy_only=False)
    n = len(n_tok)
    failures = []
    ops = {name: f.ops[0] for name, f in last["pipe"].features.items()}

    # StandardScore: mean and ddof=1 std
    mean, std = n_tok.mean(), n_tok.std(ddof=1)
    if not (_close(ops["n_tok_z"].mean, mean) and _close(ops["n_tok_z"].std, std)):
        failures.append(f"StandardScore fit ({ops['n_tok_z'].mean}, {ops['n_tok_z'].std}) != ({mean}, {std})")

    # IndexLookup: count DESC, key ASC; indices skip padding 0 and unknown 1
    keys, counts = np.unique(source, return_counts=True)
    order = sorted(range(len(keys)), key=lambda i: (-counts[i], keys[i]))
    vocab = {str(keys[i]): rank + 2 for rank, i in enumerate(order)}
    if ops["source_idx"].lookup != vocab:
        failures.append("IndexLookup vocabulary differs from the numpy count order")

    # t-digest state: total weight, extremes and first moment are exact
    d = ops["n_tok_q"].get_state()["digest"]
    w, m = np.asarray(d["weights"]), np.asarray(d["means"])
    if not (d["processed_weight"] == n == w.sum() and d["mean_min"] == n_tok.min()
            and d["mean_max"] == n_tok.max() and _close((w * m).sum() / n, mean, 1e-6)):
        failures.append("t-digest state disagrees with numpy (weight, extremes or mean)")

    if plant == "extra":  # a resume that also rewrote a bucket whose manifest was kept
        kept = min(set(last["after"]) - set(workloads.RESUME_BUCKETS))
        last["after"][kept] = last["after"][kept] + [("planted.parquet", 0, 0)]
    elif plant == "skip":  # a resume that skipped a removed bucket, leaving its old files in place
        skipped = workloads.RESUME_BUCKETS[0]
        last["after"][skipped] = last["before"][skipped]

    # resume: exactly the removed buckets were rewritten, all manifests back
    rewritten = workloads.rewritten(last["before"], last["after"])
    if rewritten != set(workloads.RESUME_BUCKETS):
        failures.append(f"resume rewrote buckets {sorted(rewritten)}, removed {list(workloads.RESUME_BUCKETS)}")
    if not last["status"].is_complete:
        failures.append(f"resume left buckets {last['status'].remaining} without a manifest")
    for rec in last["writer"].metrics():
        files = glob.glob(os.path.join(last["writer"].path, f"__ckpt_bucket={rec['bucket']}", "*.parquet"))
        if sum(pq.read_metadata(f).num_rows for f in files) != rec["rows"]:
            failures.append(f"bucket {rec['bucket']} holds other rows than its manifest records")

    # written features against the numpy fit
    cdf_lo = {float(v): np.mean(n_tok < v) for v in np.unique(n_tok)}
    con = _duckdb(work_dir, paths)
    try:
        # the written join and window columns, row by row
        con.sql(f"""CREATE VIEW written AS SELECT * REPLACE ({_planted("epoch_us(matched_feature_ts)", plant)}
                    AS matched_feature_ts) FROM read_parquet('{last["writer"].path}/*/*.parquet')""")
        failures += _diff(con, WINDOW_EXPECTED, "written", WINDOW_COLUMNS)
        con.sql("CREATE TABLE vocab (source VARCHAR, idx BIGINT)")
        con.executemany("INSERT INTO vocab VALUES (?, ?)", list(vocab.items()))
        con.sql("CREATE TABLE cdf (n_tok DOUBLE, lo DOUBLE, hi DOUBLE)")
        con.executemany("INSERT INTO cdf VALUES (?, ?, ?)",
                        [(v, lo, lo + np.mean(n_tok == v)) for v, lo in cdf_lo.items()])
        rows, docs, bad_z, bad_idx, bad_q, unknown = con.sql(f"""
            SELECT count(*), count(DISTINCT o.doc_id),
              count(*) FILTER (WHERE abs(o.n_tok_z - (o.n_tok - {mean}) / {std}) > 1e-9),
              count(*) FILTER (WHERE o.source_idx IS DISTINCT FROM v.idx),
              count(*) FILTER (WHERE o.n_tok_q < c.lo - 0.01 OR o.n_tok_q > c.hi + 0.01 OR o.n_tok_q IS NULL),
              count(*) FILTER (WHERE o.doc_id NOT IN (SELECT doc_id FROM spine))
            FROM written o
            LEFT JOIN vocab v ON o.source = v.source
            LEFT JOIN cdf c ON o.n_tok = c.n_tok
        """).fetchone()
    finally:
        con.close()
    if rows != n or docs != n or unknown:
        failures.append(f"output holds {rows} rows / {docs} doc_ids, input {n} ({unknown} unknown)")
    for count, what in [(bad_z, "n_tok_z"), (bad_idx, "source_idx"), (bad_q, "n_tok_q")]:
        if count:
            failures.append(f"{count} rows of {what} disagree with the numpy fit")
    return failures


CHECKS = {
    "pit_asof": check_pit_asof,
    "feature_materialize": check_feature_materialize,
}
