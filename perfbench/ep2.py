"""The ``ep2_backlog`` workload: frames -> ``fire_detection_stream``
(cadence N=3, gap 300) -> ``media_manifest_sink`` + ``media_finalize_sink``,
driven through a foreachBatch harness of the benchmark's own.

The harness persists and counts the operator output of each batch
before any sink runs, so a batch splits into materialize, manifest and
finalize time.  After the sinks it collects the completion rows for the
output check; that collect is timed and taken off the drain's clock
(``StreamRun.done``).  Which input file landed in which batch is read
back from the file source's log in the checkpoint after the run, so
nothing extra runs on the hot path.
"""

from __future__ import annotations

import glob
import json
import os
import time
from dataclasses import dataclass, field

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from firewatch_spark.streaming.sinks import media_finalize_sink, media_manifest_sink
from firewatch_spark.streaming.stateful_pipeline import (
    fire_detection_stream,
    surrogate_predict_fn,
)

from . import loadgen
from .check import EVERY_N, SESSION_COLS

FRAME_DDL = "video_id string, frame_number long"


@dataclass
class BatchRecord:
    batch_id: int
    start: float
    materialized: float
    manifested: float
    finalized: float
    end: float
    frame_rows: int
    session_rows: int


@dataclass
class StreamRun:
    """What one streaming query left behind for metrics and checks."""

    out_dir: str
    ckpt: str
    batches: list[BatchRecord] = field(default_factory=list)
    sessions: list[pd.DataFrame] = field(default_factory=list)
    run_id: str = ""
    started: float = 0.0
    ended: float = 0.0

    def session_rows(self) -> pd.DataFrame:
        return pd.concat(self.sessions, ignore_index=True) if self.sessions else pd.DataFrame(columns=SESSION_COLS)

    def file_batches(self) -> dict[str, int]:
        """Input file name -> id of the batch that read it, from the
        file source's metadata log (plain and compacted entries)."""
        out = {}
        for path in glob.glob(os.path.join(self.ckpt, "sources", "0", "*")):
            if os.path.basename(path).startswith("."):
                continue
            with open(path) as f:
                for line in f.read().splitlines()[1:]:
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = e["batchId"]
        return out

    def check_s(self) -> float:
        """Time the harness spent collecting completion rows for the check."""
        return sum(b.end - b.finalized for b in self.batches)

    def wall_s(self) -> float:
        """Query start to end, less the check collects."""
        return self.ended - self.started - self.check_s()

    def done(self) -> dict[int, float]:
        """Batch id -> seconds from query start until its finalize sink
        returned, less the check collects of the batches before it."""
        out, spent = {}, 0.0
        for b in sorted(self.batches, key=lambda b: b.batch_id):
            out[b.batch_id] = b.finalized - self.started - spent
            spent += b.end - b.finalized
        return out


def _harness(run: StreamRun, tracer, parent):
    manifest = media_manifest_sink(run.out_dir)
    finalize = media_finalize_sink(run.out_dir)

    def on_batch(df, batch_id: int) -> None:
        with tracer.span("foreach_batch", parent=parent, batch_id=batch_id):
            t0 = time.monotonic()
            with tracer.span("stateful.materialize"):
                df.persist()
                n_rows = df.count()
            t1 = time.monotonic()
            with tracer.span("sinks.manifest"):
                manifest(df.filter(F.col("row_type") == "frame"), batch_id)
            t2 = time.monotonic()
            sessions = df.filter(F.col("row_type") == "session")
            with tracer.span("sinks.finalize"):
                finalize(sessions, batch_id)
            t3 = time.monotonic()
            closed = sessions.select(*SESSION_COLS).toPandas()  # for the output check
            run.sessions.append(closed)
            df.unpersist()
            run.batches.append(BatchRecord(
                batch_id, t0, t1, t2, t3, time.monotonic(), n_rows - len(closed), len(closed),
            ))

    return on_batch


def drain(spark, in_dir: str, work: str, tracer, predict_fn=surrogate_predict_fn,
          max_files: int | None = None, parent=None) -> StreamRun:
    """Drain EP2 over the parquet files in ``in_dir`` with
    ``availableNow``; returns the StreamRun its harness filled."""
    run = StreamRun(os.path.join(work, "out"), os.path.join(work, "ckpt"))
    os.makedirs(run.out_dir, exist_ok=True)
    reader = spark.readStream.schema(FRAME_DDL)
    if max_files:
        reader = reader.option("maxFilesPerTrigger", max_files)
    with tracer.span("stateful.fire_detection_stream", parent=parent):
        out = fire_detection_stream(
            reader.parquet(in_dir), gap=loadgen.GAP, inference_every_n=EVERY_N,
            timeout_ms=None, predict_fn=predict_fn,
        )
    run.started = time.monotonic()
    query = (out.writeStream.foreachBatch(_harness(run, tracer, parent))
             .option("checkpointLocation", run.ckpt).trigger(availableNow=True).start())
    run.run_id = str(query.runId)
    query.awaitTermination()
    run.ended = time.monotonic()
    if query.exception() is not None:
        raise RuntimeError(f"EP2 drain failed: {query.exception()}")
    return run


def write_inputs(tables: list[pa.Table], in_dir: str) -> list[str]:
    """Backlog files with strictly increasing mtimes, which is the order
    the file source replays them in."""
    os.makedirs(in_dir, exist_ok=True)
    names = []
    base = time.time() - len(tables)
    for k, t in enumerate(tables):
        name = loadgen.file_name(k)
        pq.write_table(t, os.path.join(in_dir, name))
        os.utime(os.path.join(in_dir, name), (base + k, base + k))
        names.append(name)
    return names


def warmup_replay(spark, work: str) -> None:
    """One tiny EP2 replay into the noop sink; its stateful stage forks
    the Python workers."""
    in_dir = os.path.join(work, "in")
    write_inputs([loadgen.backlog_files(0)[0].slice(0, 64)], in_dir)
    out = fire_detection_stream(
        spark.readStream.schema(FRAME_DDL).parquet(in_dir), gap=loadgen.GAP,
        inference_every_n=EVERY_N, timeout_ms=None,
    )
    query = (out.writeStream.format("noop").option("checkpointLocation", os.path.join(work, "ckpt"))
             .trigger(availableNow=True).start())
    query.awaitTermination()
    if query.exception() is not None:
        raise RuntimeError(f"EP2 warm-up replay failed: {query.exception()}")
