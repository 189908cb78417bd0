"""Seeded input generator for the point-in-time benchmark.

Built on numpy + pyarrow only, so no change to the engine (including its
own ``torchestra_spark.io.sources`` generators) can change the inputs it
is measured on.  The same (seed, shape, rows) always gives byte-identical
tables.

Tables, written as parquet under one cache directory per input set:

* ``spine``: one row per tokenized sequence —
  ``doc_id`` string, ``user_id`` int64, ``ts`` timestamp(us, UTC),
  ``tokens`` list<int32>, ``n_tok`` int32, ``source`` string and
  ``score`` double (about 30% NULL, for fill-forward).
* ``feat0`` .. ``feat2``: small feature tables ``(user_id, feature_ts,
  v<i>)`` whose entities follow a Zipf law, with unique
  ``(user_id, feature_ts)`` pairs so that every as-of match is unambiguous.
"""

from __future__ import annotations

import json
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

T0_S = 1_767_225_600  # 2026-01-01T00:00:00Z
SPAN_S = 30 * 86_400
N_FEATURE_TABLES = 3
N_SOURCES = 40
VOCAB = 50_000
SPINE_FILES = 8
KEEP_INPUT_SETS = 2  # cached input sets kept; older ones are evicted


def _spine(rng: np.random.Generator, n: int, n_entities: int, hot_share: float) -> pa.Table:
    user = rng.integers(1, n_entities, size=n, dtype=np.int64)
    if hot_share > 0:
        # entity 0 owns ``hot_share`` of the rows: the hot-key path
        user[rng.random(n) < hot_share] = 0
    ts_us = (T0_S + rng.integers(0, SPAN_S, size=n, dtype=np.int64)) * 1_000_000
    n_tok = np.clip(rng.geometric(1 / 32, size=n), 1, 256).astype(np.int32)
    offsets = np.zeros(n + 1, dtype=np.int32)
    np.cumsum(n_tok, out=offsets[1:])
    tokens = pa.ListArray.from_arrays(
        pa.array(offsets), pa.array(rng.integers(0, VOCAB, size=int(offsets[-1]), dtype=np.int32))
    )
    weights = 1.0 / np.arange(1, N_SOURCES + 1) ** 1.1
    src_codes = rng.choice(N_SOURCES, size=n, p=weights / weights.sum()).astype(np.int32)
    source = pa.DictionaryArray.from_arrays(
        pa.array(src_codes), pa.array([f"src-{k:02d}" for k in range(N_SOURCES)])
    ).cast(pa.string())
    score = rng.normal(size=n)
    ids = pa.array(np.arange(n, dtype=np.int64)).cast(pa.string())
    doc_id = pc.binary_join_element_wise("d", pc.utf8_lpad(ids, 9, "0"), "")
    return pa.table(
        {
            "doc_id": doc_id,
            "user_id": pa.array(user),
            "ts": pa.array(ts_us, type=pa.timestamp("us", tz="UTC")),
            "tokens": tokens,
            "n_tok": pa.array(n_tok),
            "source": source,
            "score": pa.array(score, mask=rng.random(n) < 0.3),
        }
    )


def _feature_table(rng: np.random.Generator, k: int, rows: int, n_entities: int) -> pa.Table:
    weights = 1.0 / np.arange(1, n_entities + 1) ** 1.2
    # entity 0, the hot one of the skew spine, has the longest history,
    # so the hot-key path has a real history to replicate
    rank_to_entity = np.concatenate([[0], 1 + rng.permutation(n_entities - 1)]).astype(np.int64)
    user = rank_to_entity[rng.choice(n_entities, size=rows, p=weights / weights.sum())]
    # starts two days before the spine so that early probes find history
    ts_s = T0_S - 2 * 86_400 + rng.integers(0, SPAN_S + 2 * 86_400, size=rows, dtype=np.int64)
    key = np.unique(user * np.int64(1 << 32) + ts_s)  # unique (entity, ts) pairs
    user, ts_s = key >> 32, key & np.int64((1 << 32) - 1)
    return pa.table(
        {
            "user_id": pa.array(user),
            "feature_ts": pa.array(ts_s * 1_000_000, type=pa.timestamp("us", tz="UTC")),
            f"v{k}": pa.array(rng.normal(size=len(key)) * (k + 1)),
        }
    )


def _write(table: pa.Table, path: str, files: int) -> None:
    os.makedirs(path)
    step = -(-table.num_rows // files)
    for i in range(files):
        pq.write_table(table.slice(i * step, step), os.path.join(path, f"part-{i:02d}.parquet"))


def inputs(cache_dir: str, seed: int, shape: str, rows: int) -> tuple:
    """Paths of the seeded input set, generating it on a cache miss.

    ``shape`` is ``"uniform"`` (entities uniform over the spine) or
    ``"skew"`` (one entity owns about a third of the spine rows).
    Returns ``(paths, seconds spent generating)``; 0.0 on a cache hit.
    """
    if shape not in ("uniform", "skew"):
        raise ValueError(f"unknown shape {shape!r}")
    root = os.path.join(cache_dir, f"s{seed}-{shape}-{rows}")
    paths = {"spine": os.path.join(root, "spine")}
    paths.update({f"feat{k}": os.path.join(root, f"feat{k}") for k in range(N_FEATURE_TABLES)})
    done = os.path.join(root, "_done.json")
    t0 = time.perf_counter()
    if os.path.exists(done):
        os.utime(root)  # most recently used: kept by eviction
        return paths, 0.0
    shutil.rmtree(root, ignore_errors=True)
    rng = np.random.default_rng([seed, rows, 1 if shape == "skew" else 0])
    n_entities = max(rows // 50, 10)
    _write(_spine(rng, rows, n_entities, 1 / 3 if shape == "skew" else 0.0), paths["spine"], SPINE_FILES)
    for k in range(N_FEATURE_TABLES):
        _write(_feature_table(rng, k, max(rows // 10, 10), n_entities), paths[f"feat{k}"], 1)
    with open(done, "w") as fh:
        json.dump({"seed": seed, "shape": shape, "rows": rows}, fh)
    _evict(cache_dir, keep=root)
    return paths, time.perf_counter() - t0


def _evict(cache_dir: str, keep: str) -> None:
    sets = [os.path.join(cache_dir, d) for d in os.listdir(cache_dir)]
    sets = sorted((p for p in sets if p != keep), key=os.path.getmtime, reverse=True)
    for old in sets[KEEP_INPUT_SETS - 1 :]:
        shutil.rmtree(old, ignore_errors=True)
