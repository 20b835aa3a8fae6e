"""The benchmark's own tests (no Spark session needed):

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import check, loadgen, registry


def _frames() -> pa.Table:
    return pa.concat_tables(loadgen.backlog_files(7))


def test_backlog_is_deterministic_per_seed():
    a, b, c = loadgen.backlog_files(3), loadgen.backlog_files(3), loadgen.backlog_files(4)
    assert all(x.equals(y) for x, y in zip(a, b))
    assert not all(x.equals(y) for x, y in zip(a, c))


def test_backlog_crosses_the_gap_strictly_in_every_file():
    files = [t.to_pandas() for t in loadgen.backlog_files(5)]
    t = pd.concat(files).sort_values(["video_id", "frame_number"])
    steps = t.groupby("video_id")["frame_number"].diff().dropna()
    n = loadgen.BACKLOG_CAMERAS * loadgen.BACKLOG_FILES
    assert (steps > loadgen.GAP).sum() == n * loadgen.BACKLOG_GAPS_PER_FILE
    assert (steps == loadgen.GAP).sum() == n
    for f in files:  # file j holds the j-th frame range of every camera
        assert f.groupby("video_id").size().tolist() == [len(f) // loadgen.BACKLOG_CAMERAS] * loadgen.BACKLOG_CAMERAS


def test_sf_tables_are_deterministic(tmp_path):
    loadgen.write_sf(str(tmp_path / "a"))
    loadgen.write_sf(str(tmp_path / "b"))
    names = sorted(os.listdir(tmp_path / "a"))
    assert names == ["documents.parquet", "embeddings.parquet", "events.parquet", "part.parquet"]
    for n in names:
        assert pq.read_table(tmp_path / "a" / n).equals(pq.read_table(tmp_path / "b" / n))


def _write_sink_output(exp: check.Ep2Expected, out_dir) -> pd.DataFrame:
    """What the manifest and finalize sinks leave behind when every
    batch holds whole sessions: one finalized manifest per closed
    session (last line repeated), one open segment per last session."""
    os.makedirs(out_dir, exist_ok=True)
    closed = exp.sessions.sort_values(["video_id", "session_id"])
    for vid, lines in exp.lines.items():
        cuts = closed[closed.video_id == vid]["last_seq"].tolist()
        start = 0
        for k, last in enumerate(cuts):
            end = next(i for i, (fn, _) in enumerate(lines) if fn == last) + 1
            body = lines[start:end] + [lines[end - 1]]
            suffix = "" if k == 0 else f"_{k}"
            with open(os.path.join(out_dir, f"{vid}_with_heatmaps{suffix}.manifest"), "w") as f:
                f.writelines(f"{fn}\t{hf}\n" for fn, hf in body)
            start = end
        with open(os.path.join(out_dir, f"{vid}_with_heatmaps.manifest.seg-{7:012d}"), "w") as f:
            f.writelines(f"{fn}\t{hf}\n" for fn, hf in lines[start:])
    return closed


def test_ep2_check_passes_a_correct_output(tmp_path):
    exp = check.ep2_expected(_frames(), loadgen.GAP)
    assert len(exp.sessions) > 0
    rows = _write_sink_output(exp, tmp_path)
    assert check.ep2_failures(exp, str(tmp_path), rows) == 0


def test_ep2_check_counts_one_flipped_has_fire(tmp_path):
    exp = check.ep2_expected(_frames(), loadgen.GAP)
    rows = _write_sink_output(exp, tmp_path)
    seg = next(p for p in sorted(os.listdir(tmp_path)) if ".seg-" in p)
    with open(tmp_path / seg) as f:
        lines = f.read().splitlines()
    fn, hf = lines[0].split("\t")
    lines[0] = f"{fn}\t{1 - int(hf)}"
    (tmp_path / seg).write_text("\n".join(lines) + "\n")
    assert check.ep2_failures(exp, str(tmp_path), rows) == 1


def test_ep2_check_counts_a_missing_completion_row(tmp_path):
    exp = check.ep2_expected(_frames(), loadgen.GAP)
    rows = _write_sink_output(exp, tmp_path)
    assert check.ep2_failures(exp, str(tmp_path), rows.iloc[1:]) == 1


def test_ep2_reference_applies_cadence_locf_and_strict_gap():
    t = pa.table({"video_id": ["v"] * 5,
                  "frame_number": pa.array([10, 11, 12, 312, 613], pa.int64())})
    exp = check.ep2_expected(t, 300)
    raw = lambda s: (s * 2654435761 % 10000) / 10000.0  # noqa: E731
    hf = [int(raw(10) >= 0.5)] * 3 + [int(raw(312) >= 0.5)] * 2  # inference at rows 1 and 4
    assert exp.lines["v"] == list(zip([10, 11, 12, 312, 613], hf))
    # 12 -> 312 is exactly the gap (same session); 312 -> 613 crosses it
    assert exp.sessions[["session_id", "first_seq", "last_seq"]].values.tolist() == [[1, 10, 312]]
    assert exp.gap_frames == [("v", 613)]


def test_registry_check_counts_a_dropped_row():
    oracle = pd.DataFrame({"k": [1, 2, 3], "v": [0.1, 0.2, 0.3]})
    h = check.norm_hash(oracle)
    assert check.row_matches(oracle.iloc[::-1], oracle, h)
    assert not check.row_matches(oracle.iloc[:2], oracle, h)


def test_query_order_is_seeded_and_complete():
    a = registry.query_order(registry.LIGHT, 1)
    assert a == registry.query_order(registry.LIGHT, 1)
    assert sorted(a) == sorted(registry.LIGHT) and a != registry.query_order(registry.LIGHT, 2)
