"""The benchmark's workloads: one closed-loop iteration each.

Every workload opens its tables once (set-up) and then runs
``iteration()`` back to back; ``prepare()`` runs untimed before each
iteration.  The engine is only called through its public functions, and
each call sits in a ``tracer.span`` named ``<layer>.<call>``.
"""

from __future__ import annotations

import os
import shutil

from torchestra_spark import CheckpointedWriter, Feature, IndexLookup, Pipeline
from torchestra_spark import StandardScore, TDigestDistribution
from torchestra_spark.operators.temporal import (
    asof_join,
    asof_join_multi,
    fill_forward,
    lag_lead,
    sessionize,
)

ORDER = ["ts", "doc_id"]  # doc_id breaks timestamp ties deterministically
SESSION_GAP_S = 3600.0
SALT_BUCKETS = 4
N_BUCKETS = 8
# one wave for the first write, a second for the resume: each re-runs the
# whole lineage; more waves would add about 1 s each to an iteration
WAVE_SIZE = N_BUCKETS
RESUME_BUCKETS = (1, 6)  # manifests removed before the resume


class PitAsof:
    """Uniform-key spine as-of joined to three Zipf feature tables with
    ``asof_join_multi(strategy="auto")`` (broadcast kernel), noop sink."""

    shape = "uniform"

    def __init__(self, spark, paths: dict, work_dir: str):
        self.spine = spark.read.parquet(paths["spine"])
        self.tables = [
            dict(name=f"f{k}", df=spark.read.parquet(paths[f"feat{k}"]), ts="feature_ts", value_cols=[f"v{k}"])
            for k in range(3)
        ]

    def prepare(self) -> None:
        pass

    def result(self, tracer):
        with tracer.span("temporal.asof_multi"):
            return asof_join_multi(self.spine, self.tables, on="user_id", left_ts="ts", strategy="auto")

    def iteration(self, tracer) -> None:
        out = self.result(tracer)
        with tracer.span("sink.noop"):
            out.write.format("noop").mode("overwrite").save()


def window_features(spine, feat, salt_threshold: int, tracer):
    """Salted union as-of join of the spine to ``feat``, then lag/lead,
    fill-forward and sessionize: JVM sort/window work and a shuffle of
    the wide ``tokens`` payload, with no Python UDF."""
    with tracer.span("temporal.asof_union"):
        out = asof_join(
            spine, feat, on="user_id", left_ts="ts", right_ts="feature_ts",
            value_cols=["v0"], strategy="union", salt_buckets=SALT_BUCKETS,
            salt_threshold=salt_threshold,
        )
    with tracer.span("temporal.window"):
        out = lag_lead(out, "user_id", ORDER, "n_tok", lags=(1,), leads=(1,))
        out = fill_forward(out, "user_id", ORDER, ["score"])
        return sessionize(out, "user_id", ORDER, gap_sec=SESSION_GAP_S)


def new_pipeline() -> Pipeline:
    return Pipeline(
        {
            "n_tok_z": Feature("n_tok", [StandardScore()]),
            "n_tok_q": Feature("n_tok", [TDigestDistribution()]),
            "source_idx": Feature("source", [IndexLookup()]),
        }
    )


def bucket_files(path: str) -> dict:
    """bucket -> sorted (file name, size, mtime ns) of its data files."""
    out = {}
    for d in os.listdir(path):
        if d.startswith("__ckpt_bucket="):
            bdir = os.path.join(path, d)
            out[int(d.split("=", 1)[1])] = sorted(
                (f, st.st_size, st.st_mtime_ns)
                for f in os.listdir(bdir)
                for st in [os.stat(os.path.join(bdir, f))]
            )
    return out


def rewritten(before: dict, after: dict) -> set:
    """Buckets whose data files differ between two ``bucket_files`` listings."""
    return {b for b in before.keys() | after.keys() if before.get(b) != after.get(b)}


class FeatureMaterialize:
    """The point-in-time feature pipeline end to end, on a hot-key
    spine: ``window_features``, then ``Pipeline`` fit (on the spine) and
    transform, written through ``CheckpointedWriter`` into a fresh
    directory; then a resume after removing a fixed set of bucket
    manifests.  Every write wave re-runs the join and windows on its
    buckets."""

    shape = "skew"

    def __init__(self, spark, paths: dict, work_dir: str):
        self.spine = spark.read.parquet(paths["spine"])
        self.feat = spark.read.parquet(paths["feat0"])
        # hot: an entity with over a tenth of the spine (only entity 0 is)
        self.salt_threshold = max(self.spine.count() // 10, 1)
        self.root = os.path.join(work_dir, "materialize")
        self.n = 0
        self.last = None

    def prepare(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)
        self.n += 1
        self.path = os.path.join(self.root, f"iter-{self.n}")

    def iteration(self, tracer) -> None:
        pipe = new_pipeline()
        with tracer.span("pipeline.fit"):
            pipe.fit(self.spine)
        out = window_features(self.spine, self.feat, self.salt_threshold, tracer)
        with tracer.span("pipeline.transform"):
            out = pipe.transform(out)
        writer = CheckpointedWriter(self.path, key_col="doc_id", n_buckets=N_BUCKETS, wave_size=WAVE_SIZE)
        with tracer.span("checkpoint.run"):
            writer.run(out)
        before = bucket_files(self.path)
        for b in RESUME_BUCKETS:
            os.remove(os.path.join(writer.manifest_dir, f"bucket-{b}.json"))
        with tracer.span("checkpoint.resume"):
            status = writer.run(out)
        self.last = dict(
            pipe=pipe, writer=writer, status=status, before=before, after=bucket_files(self.path)
        )


WORKLOADS = {
    "pit_asof": PitAsof,
    "feature_materialize": FeatureMaterialize,
}
