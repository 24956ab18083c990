"""Seeded input generator for the benchmark.

Every table is a pure function of (workload, seed, size): the same triple
gives byte-identical parquet files. Generated sets are cached on disk under
``<cache_root>/<workload>-s<seed>-<size>/`` with a ``shape.json`` that records
row counts and the shape parameters (skew, damage rates, near-duplicate rate)
so every result can quote the exact input it measured.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# events-shaped origin of the cdm workload
ZIPF_A = 1.3  # user_id skew
N_USERS = 50_000
EVENT_TYPES = ["view", "click", "purchase", "error", "scroll"]
EVENT_TYPE_P = [0.45, 0.3, 0.1, 0.05, 0.1]
BIG_PROPS_RATE = 1e-4  # rows whose props exceed the 1 KB guardrail
BIG_PROPS_BYTES = 1500
# validate target damage (disjoint row sets)
DELETE_RATE = 0.004
MUTATE_RATE = 0.004

# curate corpus
VOCAB = (
    "key agg row scan slow fast table value part hash a the line sort window "
    "merge batch spark order data column join small customer query big "
    "stream group filter vector"
).split()
LANGS = ["en", "de", "fr", "es", "zh"]
EXACT_DUP_RATE = 0.02
NEAR_DUP_RATE = 0.05
NEAR_DUP_EDITS = 2  # words replaced in a near-duplicate
EMB_DIM = 64
EMB_CLUSTERS = 10
EMB_NOISE = 0.15

# row counts per size label; "tiny" is for tests and smoke runs
SIZES = {
    "tiny": {"events": 20_000, "documents": 300, "embeddings": 200},
    "full": {"events": 500_000, "documents": 1_000, "embeddings": 500},
}

_T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent stream per table, so adding one never shifts another."""
    return np.random.default_rng([seed, *stream.encode()])


def events_table(seed: int, n: int) -> pa.Table:
    """Events origin: PK (event_id, user_id), Zipf user_id, JSON props and
    two per-cell writetime columns (µs epoch)."""
    rng = _rng(seed, "events")
    event_id = np.arange(n, dtype=np.int64)
    ts_us = _T0_US + np.cumsum(rng.integers(1, 20_000_000, n, dtype=np.int64))
    ranks = np.minimum(rng.zipf(ZIPF_A, n), N_USERS) - 1
    user_id = rng.permutation(N_USERS).astype(np.int64)[ranks]
    etype = np.asarray(EVENT_TYPES)[rng.choice(len(EVENT_TYPES), n, p=EVENT_TYPE_P)]
    value = np.round(rng.gamma(2.0, 10.0, n), 2)
    k = pc.cast(pa.array(rng.integers(0, 100, n)), pa.string())
    src = pa.array(np.asarray(VOCAB)[rng.integers(0, len(VOCAB), n)])
    pad = np.full(n, "", dtype=object)
    pad[rng.random(n) < BIG_PROPS_RATE] = "x" * BIG_PROPS_BYTES
    props = pc.binary_join_element_wise(
        '{"k": ', k, ', "src": "', src, '", "pad": "', pa.array(pad, pa.string()), '"}', ""
    )
    return pa.table(
        {
            "event_id": event_id,
            "ts": pa.array(ts_us, pa.timestamp("us")),
            "user_id": user_id,
            "event_type": etype,
            "value": value,
            "props": props,
            "__writetime_value": ts_us,
            "__writetime_props": ts_us - rng.integers(0, 1000, n) * 1_000_000,
        }
    )


def damaged_target(seed: int, origin: pa.Table) -> tuple[pa.Table, dict]:
    """Validate target: origin minus planted deletes, with planted value
    mutations; returns the table and the planted PK sets."""
    rng = _rng(seed, "damage")
    n = origin.num_rows
    draw = rng.random(n)
    deleted = draw < DELETE_RATE
    mutated = (draw >= DELETE_RATE) & (draw < DELETE_RATE + MUTATE_RATE)
    value = origin["value"].to_numpy().copy()
    value[mutated] += 1.0
    # the target keeps the writetime cells, as a migrated table does; at
    # 500k rows that makes it too large to broadcast, so validate's PK join
    # shuffles both sides
    target = origin.set_column(origin.schema.get_field_index("value"), "value", pa.array(value))
    target = target.filter(pa.array(~deleted))
    ids = origin["event_id"].to_numpy()
    users = origin["user_id"].to_numpy()
    planted = {
        "missing": sorted(zip(ids[deleted].tolist(), users[deleted].tolist())),
        "mismatch": sorted(zip(ids[mutated].tolist(), users[mutated].tolist())),
    }
    return target, planted


def _doc_text(rng, n_words: int) -> str:
    return " ".join(np.asarray(VOCAB)[rng.integers(0, len(VOCAB), n_words)])


def documents_table(seed: int, n: int) -> pa.Table:
    """Bag-of-words corpus shaped like the fixture, with planted exact and
    near duplicates (a near duplicate replaces NEAR_DUP_EDITS words)."""
    rng = _rng(seed, "documents")
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 0 and r < EXACT_DUP_RATE:
            texts.append(texts[rng.integers(0, i)])
        elif i > 0 and r < EXACT_DUP_RATE + NEAR_DUP_RATE:
            words = texts[rng.integers(0, i)].split()
            for j in rng.integers(0, len(words), NEAR_DUP_EDITS):
                words[j] = VOCAB[rng.integers(0, len(VOCAB))]
            texts.append(" ".join(words))
        else:
            texts.append(_doc_text(rng, int(rng.integers(10, 80))))
    return pa.table(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": np.asarray(LANGS)[rng.integers(0, len(LANGS), n)],
            "source": [f"src{i % 50}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def embeddings_table(seed: int, n: int) -> pa.Table:
    """Clustered 64-d float embeddings; label is the generating cluster."""
    rng = _rng(seed, "embeddings")
    centers = rng.normal(0.0, 1.0, (EMB_CLUSTERS, EMB_DIM))
    label = rng.integers(0, EMB_CLUSTERS, n)
    vecs = (centers[label] + rng.normal(0.0, EMB_NOISE, (n, EMB_DIM))).astype(np.float32)
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, n * EMB_DIM + 1, EMB_DIM, dtype=np.int32)),
        pa.array(vecs.ravel()),
    )
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": emb,
            "label": label.astype(np.int32),
        }
    )


def _write(table: pa.Table, path: str) -> None:
    # fixed writer settings so equal tables give equal bytes
    pq.write_table(table, path, compression="snappy", row_group_size=256 * 1024)


def build(workload: str, seed: int, size: str, out_dir: str) -> dict:
    """Write the workload's input tables into ``out_dir``; return the shape."""
    sizes = SIZES[size]
    os.makedirs(out_dir, exist_ok=True)
    shape: dict = {"workload": workload, "seed": seed, "size": size}
    if workload == "cdm":
        origin = events_table(seed, sizes["events"])
        target, planted = damaged_target(seed, origin)
        _write(origin, os.path.join(out_dir, "events.parquet"))
        _write(target, os.path.join(out_dir, "target.parquet"))
        with open(os.path.join(out_dir, "planted.json"), "w") as fh:
            json.dump(planted, fh)
        shape.update(
            rows={"events": origin.num_rows, "target": target.num_rows},
            zipf_a=ZIPF_A,
            n_users=N_USERS,
            big_props_rate=BIG_PROPS_RATE,
            delete_rate=DELETE_RATE,
            mutate_rate=MUTATE_RATE,
            planted_missing=len(planted["missing"]),
            planted_mismatch=len(planted["mismatch"]),
        )
    elif workload == "curate":
        docs = documents_table(seed, sizes["documents"])
        emb = embeddings_table(seed, sizes["embeddings"])
        _write(docs, os.path.join(out_dir, "documents.parquet"))
        _write(emb, os.path.join(out_dir, "embeddings.parquet"))
        shape.update(
            rows={"documents": docs.num_rows, "embeddings": emb.num_rows},
            exact_dup_rate=EXACT_DUP_RATE,
            near_dup_rate=NEAR_DUP_RATE,
            near_dup_edits=NEAR_DUP_EDITS,
            emb_dim=EMB_DIM,
            emb_clusters=EMB_CLUSTERS,
        )
    else:
        raise ValueError(f"unknown workload {workload!r}")
    return shape


def cached(workload: str, seed: int, size: str, cache_root: str) -> tuple[str, dict]:
    """Input directory for (workload, seed, size), generated on first use."""
    path = os.path.join(cache_root, f"{workload}-s{seed}-{size}")
    shape_file = os.path.join(path, "shape.json")
    if not os.path.exists(shape_file):
        tmp = path + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        shape = build(workload, seed, size, tmp)
        with open(os.path.join(tmp, "shape.json"), "w") as fh:
            json.dump(shape, fh, sort_keys=True)
        shutil.rmtree(path, ignore_errors=True)
        os.rename(tmp, path)
    with open(shape_file) as fh:
        return path, json.load(fh)
