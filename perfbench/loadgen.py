"""Seeded, Spark-free inputs for the sparkwatch benchmark.

Everything here is numpy/pyarrow, so the program under test never
generates its own load.  The same seed gives the same inputs:

* ``backlog_files`` — the ``ep2_backlog`` input: a few cameras with long
  dense sessions, cut into frame-range files that are all present
  before the stream starts.
* ``write_sf`` — an ``events``/``part``/``documents``/``embeddings``
  table set for ``registry_light`` with the sf0.1 test data's schemas
  and value domains, so a run reads nothing outside its checkout.

Frame numbers jump by more than ``GAP`` where a session must close and
by exactly ``GAP`` where it must not (the strict ``>`` boundary).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GAP = 300  # session gap in frames, as the reference's consumer uses
FRAME_SCHEMA = pa.schema([("video_id", pa.string()), ("frame_number", pa.int64())])

# ep2_backlog: few cameras, long sessions, all input present at start.
BACKLOG_CAMERAS = 8
BACKLOG_FRAMES_PER_CAMERA = 3000
BACKLOG_FILES = 2  # drained one file per batch
BACKLOG_GAPS_PER_FILE = 3  # per camera


def _table(video_ids: np.ndarray, frames: np.ndarray) -> pa.Table:
    return pa.table({"video_id": pa.array(video_ids, pa.string()),
                     "frame_number": pa.array(frames, pa.int64())},
                    schema=FRAME_SCHEMA)


def _backlog_camera(rng: np.random.Generator, per_file: int) -> np.ndarray:
    """Dense frame numbers whose every file-sized range holds exactly
    BACKLOG_GAPS_PER_FILE session-closing jumps and one jump of exactly
    GAP, at seeded positions, so each batch closes the same number of
    sessions whatever the seed."""
    steps = np.ones(per_file * BACKLOG_FILES, dtype=np.int64)
    for j in range(BACKLOG_FILES):
        pos = j * per_file + 1 + rng.choice(per_file - 1, BACKLOG_GAPS_PER_FILE + 1, replace=False)
        steps[pos[:-1]] = rng.integers(GAP + 1, 3 * GAP, size=BACKLOG_GAPS_PER_FILE)
        steps[pos[-1]] = GAP
    steps[0] = rng.integers(0, 1_000_000)  # the camera's first frame number
    return np.cumsum(steps)


def backlog_files(seed: int) -> list[pa.Table]:
    """The backlog as BACKLOG_FILES tables; file j holds the j-th frame
    range of every camera, rows shuffled across cameras."""
    rng = np.random.default_rng([seed, 1])
    per_file = BACKLOG_FRAMES_PER_CAMERA // BACKLOG_FILES
    cams = [(f"cam-{c:04d}", _backlog_camera(rng, per_file)) for c in range(BACKLOG_CAMERAS)]
    out = []
    for j in range(BACKLOG_FILES):
        vids = np.concatenate([np.full(per_file, v, dtype=object) for v, _ in cams])
        fns = np.concatenate([f[j * per_file:(j + 1) * per_file] for _, f in cams])
        order = rng.permutation(len(fns))
        out.append(_table(vids[order], fns[order]))
    return out


def file_name(k: int) -> str:
    return f"part-{k:06d}.parquet"


# ---------------------------------------------------------------------------
# sf0.1-like tables for registry_light

_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_LANGS = ["en", "zh", "es", "fr", "de"]
_LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
_EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]
_PART_ADJ = ["red", "small", "hot", "cold", "old", "new", "large", "blue"]
_PART_NOUN = ["gear", "gizmo", "widget", "ring", "plate", "anvil", "bolt", "rod"]
_PART_TYPES = ["LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO"]


def write_sf(out_dir: str, seed: int = 42) -> None:
    """events (20k, a fifth of sf0.1, so the rows' fixed per-query cost
    outweighs their result collects and several passes fit in one run),
    part (20k), documents (5k, ~5% near-duplicates marked ' dup') and
    embeddings (2k unit vectors, dim 64, 10 labels, ~10% near-duplicates)."""
    rng = np.random.default_rng([seed, 3])
    os.makedirs(out_dir, exist_ok=True)

    n = 20_000
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    ts = np.sort(start + rng.integers(0, 30 * 86_400 * 10**6, n))
    events = pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, n), pa.int64()),
        "event_type": pa.array(rng.choice(_EVENT_TYPES, n)),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })
    pq.write_table(events, os.path.join(out_dir, "events.parquet"))

    np_ = 20_000
    part = pa.table({
        "p_partkey": pa.array(np.arange(np_), pa.int64()),
        "p_name": pa.array([f"{a} {b}" for a, b in zip(rng.choice(_PART_ADJ, np_),
                                                         rng.choice(_PART_NOUN, np_))]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, np_)]),
        "p_type": pa.array(rng.choice(_PART_TYPES, np_)),
        "p_size": pa.array(rng.integers(1, 51, np_), pa.int32()),
        "p_retailprice": pa.array(900.0 + (np.arange(np_) % 1000) / 10.0),
    })
    pq.write_table(part, os.path.join(out_dir, "part.parquet"))

    nd = 5000
    words = np.array(_WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), rng.integers(10, 101))])
             for _ in range(nd)]
    for i in np.flatnonzero(rng.random(nd) < 0.05):
        texts[i] = texts[int(rng.integers(0, nd))] + " dup"
    documents = pa.table({
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(_LANGS, nd, p=_LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(nd)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    pq.write_table(documents, os.path.join(out_dir, "documents.parquet"))

    ne, dim = 2000, 64
    labels = rng.integers(0, 10, ne).astype(np.int32)
    centers = rng.normal(size=(10, dim))
    vecs = rng.normal(size=(ne, dim)) + 0.1 * centers[labels]
    dups = np.flatnonzero(rng.random(ne) < 0.1)
    vecs[dups] = vecs[rng.integers(0, ne, len(dups))] + 0.02 * rng.normal(size=(len(dups), dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    embeddings = pa.table({
        "vec_id": pa.array(np.arange(ne), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    pq.write_table(embeddings, os.path.join(out_dir, "embeddings.parquet"))
