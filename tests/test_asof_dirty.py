"""As-of strategy twins on dirty input: NULL keys and timestamps on both
sides, duplicate timestamps, unknown entities, an empty feature side and
one hot entity.  Every strategy (and the k-table entry point) must return
the same rows as DuckDB's ``ASOF LEFT JOIN``."""

import duckdb
import numpy as np
import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from torchestra_spark.operators.temporal import asof_join, asof_join_multi

STRATEGIES = ("union", "broadcast", "merge_asof", "auto")


def _frame(spark, rows, ddl, ts_cols):
    df = spark.createDataFrame(rows, ddl)
    return df.withColumns({c: F.to_timestamp(c) for c in ts_cols})


@pytest.fixture(scope="module")
def dirty_feats(spark):
    # one clean row, one NULL-ts row, one NULL-key row
    return _frame(
        spark,
        [(1, "2024-01-02 00:00:00", 10.0), (1, None, 99.0), (None, "2024-01-03 00:00:00", 77.0)],
        "user_id long, feature_ts string, fval double",
        ["feature_ts"],
    )


@pytest.mark.parametrize("strategy", STRATEGIES)
def test_asof_null_feature_rows_ignored(spark, dirty_feats, strategy):
    """Feature rows with a NULL key or NULL ts never match: not onto an
    earlier probe (NULL ts sorts first), not onto a NULL-key probe, and
    they must not shift other entities' matches."""
    probe = _frame(
        spark,
        [(0, 1, "2024-01-05 00:00:00"), (1, 2, "2024-01-05 00:00:00"),
         (2, None, "2024-01-05 00:00:00"), (3, 1, "2024-01-01 00:00:00")],
        "event_id long, user_id long, ts string",
        ["ts"],
    )
    out = asof_join(probe, dirty_feats, on="user_id", left_ts="ts", right_ts="feature_ts",
                    value_cols=["fval"], strategy=strategy).collect()
    got = {r["event_id"]: (r["fval"], r["matched_feature_ts"] is not None) for r in out}
    assert got == {0: (10.0, True), 1: (None, False), 2: (None, False), 3: (None, False)}


@pytest.mark.parametrize("strategy", STRATEGIES)
def test_asof_null_probe_ts_unmatched(spark, strategy):
    """A probe row with a NULL ts is kept and comes back unmatched."""
    probe = _frame(
        spark,
        [(0, 1, "2024-01-05 00:00:00"), (1, 1, None)],
        "event_id long, user_id long, ts string",
        ["ts"],
    )
    feats = _frame(
        spark, [(1, "2024-01-02 00:00:00", 10.0)],
        "user_id long, feature_ts string, fval double", ["feature_ts"],
    )
    out = asof_join(probe, feats, on="user_id", left_ts="ts", right_ts="feature_ts",
                    value_cols=["fval"], strategy=strategy).collect()
    got = {r["event_id"]: (r["fval"], r["matched_feature_ts"] is not None) for r in out}
    assert got == {0: (10.0, True), 1: (None, False)}


@pytest.mark.xfail(strict=True, reason="union keeps a NaN feature value as NaN; the "
                   "pandas-backed broadcast and merge_asof paths return it as NULL")
def test_asof_nan_feature_value_same_on_every_strategy(spark):
    probe = _frame(spark, [(1, "2024-01-05 00:00:00")], "user_id long, ts string", ["ts"])
    feats = _frame(
        spark, [(1, "2024-01-02 00:00:00")], "user_id long, feature_ts string", ["feature_ts"]
    ).withColumn("fval", F.lit(float("nan")))
    got = set()
    for strategy in ("union", "broadcast", "merge_asof"):
        v = asof_join(probe, feats, on="user_id", left_ts="ts", right_ts="feature_ts",
                      value_cols=["fval"], strategy=strategy).first()["fval"]
        got.add("NULL" if v is None else repr(v))
    assert len(got) == 1, got


# ------------------------------------------------------------ property test
T0 = pd.Timestamp("2024-01-01")
HOT = 0  # entity that owns most probe rows when the hot flag is drawn
_key = st.one_of(st.none(), st.integers(0, 5))  # features only use 0..3
_minute = st.one_of(st.none(), st.integers(0, 12))  # few minutes -> ties


def _ts(minutes):
    return pd.to_datetime([None if m is None else T0 + pd.Timedelta(minutes=m) for m in minutes])


def _probe_pdf(rows):
    return pd.DataFrame({
        "pid": np.arange(len(rows), dtype=np.int64),
        "uid": pd.array([u for u, _m in rows], dtype="Int64"),
        "ts": _ts([m for _u, m in rows]),
    })


def _feat_pdf(rows, vcol):
    # duplicate (entity, ts) rows carry equal values, so every tie
    # order gives the same answer
    first = {}
    for u, m, v in rows:
        first.setdefault((u, m), v)
    return pd.DataFrame({
        "uid": pd.array([u for u, _m, _v in rows], dtype="Int64"),
        "fts": _ts([m for _u, m, _v in rows]),
        vcol: pd.array([first[(u, m)] for u, m, _v in rows], dtype="Float64"),
    })


def _duckdb_asof(probe, feat, vcol, tol_s):
    """Oracle.  DuckDB 1.0.0 pairs a NULL probe ts and NULL feature ts
    with real rows, so NULLs are excluded here explicitly: feature rows
    with a NULL key or ts never match, probe rows with a NULL ts stay
    unmatched."""
    con = duckdb.connect()
    con.register("p", probe)
    con.register("f", feat)
    exp = con.execute(f"""
        SELECT p.pid, p.ts,
               CASE WHEN p.ts IS NOT NULL THEN f.{vcol} END AS val,
               CASE WHEN p.ts IS NOT NULL THEN f.fts END AS fts
        FROM p ASOF LEFT JOIN
             (SELECT * FROM f WHERE uid IS NOT NULL AND fts IS NOT NULL) f
        ON p.uid = f.uid AND p.ts >= f.fts
        ORDER BY p.pid
    """).df()
    con.close()
    if tol_s is not None:
        late = (exp["ts"] - exp["fts"]) > pd.Timedelta(seconds=tol_s)
        exp.loc[late, ["val", "fts"]] = None
    return exp["val"].astype(float).to_numpy(), pd.to_datetime(exp["fts"]).to_numpy()


def _assert_same(label, got_val, got_ts, exp):
    exp_val, exp_ts = exp
    # values compare NaN == NULL
    assert np.array_equal(got_val.astype(float), exp_val, equal_nan=True), label
    got_ts = pd.to_datetime(got_ts).to_numpy()
    assert np.array_equal(pd.isna(got_ts), pd.isna(exp_ts)), label
    assert (got_ts[~pd.isna(got_ts)] == exp_ts[~pd.isna(exp_ts)]).all(), label


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow])
@given(
    probe_rows=st.lists(st.tuples(_key, _minute), min_size=1, max_size=12),
    hot=st.booleans(),
    feats=st.lists(
        st.lists(
            st.tuples(st.one_of(st.none(), st.integers(0, 3)), _minute,
                      st.one_of(st.none(), st.integers(-5, 5).map(float))),
            max_size=10,
        ),
        min_size=2, max_size=2,
    ),
    tol_s=st.sampled_from([None, 180.0]),
)
def test_asof_strategies_match_duckdb_on_dirty_input(spark, probe_rows, hot, feats, tol_s):
    if hot:  # one entity owns most probe rows: exercises the salted spine
        probe_rows = probe_rows + [(HOT, m % 13) for m in range(2 * len(probe_rows) + 6)]
    probe = _probe_pdf(probe_rows)
    fa, fb = _feat_pdf(feats[0], "a"), _feat_pdf(feats[1], "b")
    exp_a = _duckdb_asof(probe, fa, "a", tol_s)
    exp_b = _duckdb_asof(probe, fb, "b", None)

    lt = spark.createDataFrame(probe, "pid long, uid long, ts timestamp")
    ra = spark.createDataFrame(fa, "uid long, fts timestamp, a double")
    rb = spark.createDataFrame(fb, "uid long, fts timestamp, b double")
    runs = {
        "union": dict(strategy="union"),
        "union-salted": dict(strategy="union", salt_buckets=4, salt_threshold=3),
        "broadcast": dict(strategy="broadcast"),
        "merge_asof": dict(strategy="merge_asof"),
        "auto": dict(strategy="auto"),
    }
    for label, kw in runs.items():
        got = (
            asof_join(lt, ra, on="uid", left_ts="ts", right_ts="fts", tolerance_sec=tol_s, **kw)
            .toPandas().sort_values("pid", ignore_index=True)
        )
        assert got["pid"].tolist() == probe["pid"].tolist(), label
        _assert_same(label, got["a"].to_numpy(), got["matched_fts"], exp_a)

    specs = [
        dict(name="a", df=ra, ts="fts", tolerance_sec=tol_s),
        dict(name="b", df=rb, ts="fts"),
    ]
    multi_runs = {"multi-auto": {}, "multi-salted": dict(salt_buckets=4, salt_threshold=3)}
    for label, kw in multi_runs.items():
        got = (
            asof_join_multi(lt, specs, on="uid", left_ts="ts", **kw)
            .toPandas().sort_values("pid", ignore_index=True)
        )
        assert got["pid"].tolist() == probe["pid"].tolist(), label
        _assert_same(label + "/a", got["a"].to_numpy(), got["a_matched_ts"], exp_a)
        _assert_same(label + "/b", got["b"].to_numpy(), got["b_matched_ts"], exp_b)
