"""Output checks for the benchmark, each against an independent
reference computed off the clock.  Every missing or wrong frame,
session or registry row counts as one failed operation.

EP2 reference: DuckDB over the generated frames, with the arithmetic of
``_EP2_SQL`` and ``_STREAM_SESSION_SQL`` — cadence N=3 over a per-video
row number that runs across sessions, the deterministic surrogate at
inference rows, LOCF between them, and a new session wherever a frame
number jumps by strictly more than the gap.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass

import duckdb
import pandas as pd
import pyarrow as pa

from firewatch_spark import surrogate
from tools.oracle_check import norm_hash

EVERY_N = 3  # inference cadence the EP2 workloads run with

_FRAMES_SQL = f"""
WITH base AS (
  SELECT video_id, frame_number,
         ROW_NUMBER() OVER w AS rn,
         frame_number - LAG(frame_number) OVER w AS step
  FROM frames WINDOW w AS (PARTITION BY video_id ORDER BY frame_number)
),
inf AS (
  SELECT video_id, frame_number,
         CASE WHEN (rn - 1) % {EVERY_N} = 0
              THEN ((frame_number * {surrogate.KNUTH}) % {surrogate.MOD}) / {surrogate.MOD}.0
         END AS raw_at_inf,
         CAST(1 + SUM(CASE WHEN step > $gap THEN 1 ELSE 0 END) OVER
           (PARTITION BY video_id ORDER BY frame_number ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM base
),
filled AS (
  SELECT video_id, frame_number, session_id,
         last_value(raw_at_inf IGNORE NULLS) OVER
           (PARTITION BY video_id ORDER BY frame_number
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS raw
  FROM inf
)
SELECT video_id, frame_number, session_id,
       CAST(raw >= {surrogate.DEFAULT_THRESHOLD} AS INT) AS has_fire,
       CASE WHEN raw >= {surrogate.DEFAULT_THRESHOLD} THEN raw ELSE 0.0 END AS prob
FROM filled
"""

_SESSIONS_SQL = """
SELECT video_id, session_id, COUNT(*) AS total_frames,
       CAST(SUM(has_fire) AS BIGINT) AS fire_count, MAX(prob) AS max_fire_probability,
       MIN(frame_number) AS first_seq, MAX(frame_number) AS last_seq
FROM f
WHERE session_id < (SELECT MAX(session_id) FROM f g WHERE g.video_id = f.video_id)
GROUP BY video_id, session_id
"""

SESSION_COLS = ["video_id", "session_id", "total_frames", "fire_count",
                "max_fire_probability", "first_seq", "last_seq"]


@dataclass
class Ep2Expected:
    """Per-video expected manifest lines and the gap-closed sessions."""

    lines: dict[str, list[tuple[int, int]]]
    sessions: pd.DataFrame  # SESSION_COLS
    gap_frames: list[tuple[str, int]]  # first frame of every session a gap opened

    @property
    def n_ops(self) -> int:
        return sum(map(len, self.lines.values())) + len(self.sessions)


def ep2_expected(frames: pa.Table, gap: int) -> Ep2Expected:
    con = duckdb.connect()
    con.register("frames", frames)
    f = con.execute(_FRAMES_SQL, {"gap": gap}).arrow()
    con.register("f", f)
    sessions = con.execute(_SESSIONS_SQL).df()
    gap_frames = con.execute(
        "SELECT video_id, MIN(frame_number) FROM f WHERE session_id > 1 GROUP BY video_id, session_id"
    ).fetchall()
    fdf = f.to_pandas().sort_values(["video_id", "frame_number"])
    lines = {
        v: list(zip(g["frame_number"].tolist(), g["has_fire"].tolist()))
        for v, g in fdf.groupby("video_id", sort=False)
    }
    return Ep2Expected(lines, sessions[SESSION_COLS], gap_frames)


_MANIFEST = re.compile(
    r"^(?P<vid>[^.].*?)_with_heatmaps(?:_(?P<k>\d+))?\.manifest(?:\.seg-(?P<bid>\d+))?$"
)


def read_manifests(out_dir: str) -> tuple[dict[str, list[tuple[int, int]]], dict[str, int], int]:
    """(per-video manifest lines in write order, finalized manifests per
    video, malformed finalized manifests).  A video's lines are its
    finalized manifests in promotion order, each without the repeated
    last line finalize writes as its flush, then its open segments in
    batch order."""
    finals: dict[str, list[tuple[int, str]]] = {}
    segs: dict[str, list[tuple[int, str]]] = {}
    for name in os.listdir(out_dir):
        m = _MANIFEST.match(name)
        if m is None:
            continue
        if m["bid"] is not None:
            segs.setdefault(m["vid"], []).append((int(m["bid"]), name))
        else:
            finals.setdefault(m["vid"], []).append((int(m["k"] or 0), name))
    lines: dict[str, list[tuple[int, int]]] = {}
    bad = 0
    for vid in finals.keys() | segs.keys():
        out = lines.setdefault(vid, [])
        for _, name in sorted(finals.get(vid, [])):
            body = _parse(os.path.join(out_dir, name))
            if len(body) < 2 or body[-1] != body[-2]:
                bad += 1
            out.extend(body[:-1])
        for _, name in sorted(segs.get(vid, [])):
            out.extend(_parse(os.path.join(out_dir, name)))
    return lines, {v: len(f) for v, f in finals.items()}, bad


def _parse(path: str) -> list[tuple[int, int]]:
    with open(path) as f:
        return [(int(a), int(b)) for a, b in (ln.split("\t") for ln in f.read().splitlines())]


def frame_failures(expected: list[tuple[int, int]], actual: list[tuple[int, int]]) -> int:
    """Expected frames missing, wrong or out of order in ``actual``,
    plus frames it holds that were never sent or holds twice."""
    want = dict(expected)
    seen: set[int] = set()
    failed, prev = 0, None
    for fn, hf in actual:
        if fn in seen or want.get(fn) != hf or (prev is not None and fn <= prev):
            failed += 1
        seen.add(fn)
        prev = fn
    return failed + len(want.keys() - seen)


def ep2_failures(exp: Ep2Expected, out_dir: str, session_rows: pd.DataFrame) -> int:
    """Failed operations of one EP2 run: frames whose manifest line is
    missing or wrong, gap-closed sessions whose completion row is
    missing or wrong, malformed finalized manifests, and videos with
    closed sessions but no finalized manifest or more finalized
    manifests than closed sessions.  (Finalize promotes one manifest
    per video per batch, so sessions closed in the same batch share
    one.)"""
    lines, finals, bad = read_manifests(out_dir)
    failed = bad
    for vid in exp.lines.keys() | lines.keys():
        failed += frame_failures(exp.lines.get(vid, []), lines.get(vid, []))
    want = set(exp.sessions.itertuples(index=False, name=None))
    got_df = session_rows[SESSION_COLS] if len(session_rows) else pd.DataFrame(columns=SESSION_COLS)
    got = list(got_df.astype({"session_id": "int64", "total_frames": "int64", "fire_count": "int64",
                              "first_seq": "int64", "last_seq": "int64"}).itertuples(index=False, name=None))
    failed += len(want - set(got)) + len(set(got) - want) + (len(got) - len(set(got)))
    closed = exp.sessions.groupby("video_id").size().to_dict()
    for vid in closed.keys() | finals.keys():
        c, k = closed.get(vid, 0), finals.get(vid, 0)
        failed += max(0, k - c) + (c if k == 0 else 0)
    return failed


# ---------------------------------------------------------------------------
# registry rows


def oracle_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for name in sorted(os.listdir(sf_dir)):
        if name.endswith(".parquet"):
            con.execute(
                f"CREATE VIEW {name[:-8]} AS SELECT * FROM '{os.path.join(sf_dir, name)}'"
            )
    return con


def row_matches(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame, oracle_hash: str) -> bool:
    """The registry's correctness gate: same row count, same column
    names, same order-insensitive value hash (``tools/oracle_check.py``'s
    ``norm_hash``)."""
    return (
        len(spark_pdf) == len(oracle_pdf)
        and sorted(spark_pdf.columns) == sorted(oracle_pdf.columns)
        and norm_hash(spark_pdf) == oracle_hash
    )
