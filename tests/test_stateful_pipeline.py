"""EP2 stateful operator: cadence counter + LOCF continuity across
micro-batch boundaries (the SURVEY §7 risk-register case)."""

from pyspark.sql import functions as F

from firewatch_spark import surrogate
from firewatch_spark.operators.cadence import with_inference_cadence
from firewatch_spark.streaming.stateful_pipeline import fire_detection_stream
from tests.conftest import rows


def _write_chunks(data_dir, pdf, n_files):
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    data_dir.mkdir()
    per = (len(pdf) + n_files - 1) // n_files
    written = []
    for i in range(n_files):
        chunk = pdf.iloc[i * per : (i + 1) * per]
        if not chunk.empty:
            path = str(data_dir / f"c_{i:03d}.parquet")
            pq.write_table(pa.Table.from_pandas(chunk), path)
            written.append(path)
    # the FileStreamSource replays in modification-time order and the
    # chunks are written within one clock tick — force strictly
    # increasing mtimes or a tie can reorder micro-batches (observed
    # as a rare cadence flake under full-suite CPU load)
    base = int(os.path.getmtime(written[0]))
    for i, p in enumerate(written):
        os.utime(p, (base + i, base + i))


def _drain(spark, tmp_path, every_n):
    """Drain ``tmp_path/in`` into a parquet file sink at ``tmp_path/out``
    (unlike the memory sink, it can restart on its checkpoint)."""
    stream = (
        spark.readStream.schema("video_id string, frame_number long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "in"))
    )
    # NoTimeout: availableNow never terminates with an armed
    # processing-time timer; these tests only assert gap/frame rows
    out = fire_detection_stream(
        stream, gap=300, inference_every_n=every_n, timeout_ms=None
    )
    q = (
        out.writeStream.format("parquet").outputMode("append")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True).start()
    )
    assert q.awaitTermination(120), "bounded replay did not drain in 120s"
    return q


def _run(spark, tmp_path, pdf, every_n, n_files):
    _write_chunks(tmp_path / "in", pdf, n_files)
    _drain(spark, tmp_path, every_n)
    return spark.read.parquet(str(tmp_path / "out"))


def test_cadence_counter_survives_batch_boundary(spark, tmp_path):
    """Frames split 7/7 across two micro-batches with N=3: the batch
    boundary falls mid-cadence; inference positions must be the global
    1,4,7,10,13 — not restart at the boundary."""
    import pandas as pd

    pdf = pd.DataFrame({"video_id": ["v"] * 14, "frame_number": range(14)})
    out = rows(
        _run(spark, tmp_path, pdf, every_n=3, n_files=2).filter(
            F.col("row_type") == "frame"
        ),
        "frame_number",
    )
    inf_frames = [r["frame_number"] for r in out if r["is_inference"]]
    assert inf_frames == [0, 3, 6, 9, 12]
    # streaming per-frame output equals the batch M6 operator exactly
    batch_df = spark.createDataFrame(pdf)
    raw = surrogate.raw_probability(F.col("frame_number"))
    batch_df = batch_df.withColumn("has_fire", surrogate.has_fire(raw)).withColumn(
        "fire_probability", surrogate.fire_probability(raw)
    )
    expected = rows(
        with_inference_cadence(
            batch_df, "video_id", "frame_number",
            ["has_fire", "fire_probability"], every_n=3,
        ),
        "frame_number",
    )
    for got, exp in zip(out, expected):
        assert got["is_inference"] == exp["is_inference"]
        assert got["has_fire"] == exp["has_fire"]
        assert got["fire_probability"] == exp["fire_probability"], got["frame_number"]


def test_locf_prediction_carried_across_batches(spark, tmp_path):
    """N larger than the first batch: every row of batch 2 before the
    next inference point must reuse batch 1's cached prediction."""
    import pandas as pd

    pdf = pd.DataFrame({"video_id": ["v"] * 6, "frame_number": range(6)})
    out = rows(
        _run(spark, tmp_path, pdf, every_n=5, n_files=3).filter(
            F.col("row_type") == "frame"
        ),
        "frame_number",
    )
    # inference at frames 0 and 5 only; frames 1-4 (spanning batches)
    # carry frame 0's prediction
    p0 = out[0]["fire_probability"]
    assert [r["is_inference"] for r in out] == [True, False, False, False, False, True]
    assert all(r["fire_probability"] == p0 for r in out[1:5])


def test_frame_and_session_rows_consistent(spark, tmp_path):
    """Session rows must aggregate exactly the LOCF-filled frame rows
    (the reference counts stats AFTER cadence reuse, stream.py:380-386)."""
    import pandas as pd

    seqs = list(range(10)) + [400 + i for i in range(5)]  # gap closes session 1
    pdf = pd.DataFrame({"video_id": ["v"] * len(seqs), "frame_number": seqs})
    df = _run(spark, tmp_path, pdf, every_n=2, n_files=2)
    frames = rows(df.filter(F.col("row_type") == "frame"), "frame_number")
    sessions = rows(df.filter(F.col("row_type") == "session"), "session_id")
    s1 = sessions[0]
    assert s1["closed_by"] == "gap" and s1["total_frames"] == 10
    s1_frames = [r for r in frames if r["session_id"] == 1]
    assert s1["fire_count"] == sum(r["has_fire"] for r in s1_frames)
    assert s1["max_fire_probability"] == max(r["fire_probability"] for r in s1_frames)


def test_checkpoint_restart_keeps_its_state_partition_count(spark, tmp_path):
    """A stateful query's partition count is frozen into its checkpoint
    at the first start: drained over file 1 at 8 partitions, then
    restarted over files 1-2 with the session at 4, the query still
    runs 8 state stores, and its two runs together emit exactly the
    rows of an uninterrupted run — so checkpoints written under an
    older session default keep working."""
    import os
    from collections import Counter

    import pandas as pd

    seqs = list(range(20)) + [400 + i for i in range(10)]  # gap closes session 1
    pdf = pd.DataFrame(
        [(f"v{k}", s) for s in seqs for k in range(6)],
        columns=["video_id", "frame_number"],
    )  # frame-major: every video's first session straddles the two files
    whole = tmp_path / "whole"
    whole.mkdir()
    expected = Counter(map(tuple, _run(spark, whole, pdf, 3, 2).collect()))

    _write_chunks(tmp_path / "staged", pdf, 2)
    (tmp_path / "in").mkdir()
    prior = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        for n_parts, chunk in [(8, "c_000"), (4, "c_001")]:
            spark.conf.set("spark.sql.shuffle.partitions", str(n_parts))
            os.rename(
                tmp_path / "staged" / f"{chunk}.parquet",
                tmp_path / "in" / f"{chunk}.parquet",
            )
            q = _drain(spark, tmp_path, 3)
        got = Counter(map(tuple, spark.read.parquet(str(tmp_path / "out")).collect()))
        counts = {
            op["numShufflePartitions"]
            for p in q.recentProgress
            for op in p["stateOperators"]
        }
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prior)
    assert got == expected
    assert counts == {8}
