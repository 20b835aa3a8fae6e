"""The ``registry_light`` workload: named rows of ``queries.registry()`` run on
an sf0.1-like table set, each timed as build + sink on one clock.
The sink is an Arrow collect (``toPandas``); its result is kept for the
output check, which runs after the timed passes.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from firewatch_spark.queries import registry

# The 20 paper-path batch rows: the first 20 ``@q`` rows of queries.py.
LIGHT = [
    "surrogate_predictions", "detection_synthesis", "class_filter", "session_ids",
    "session_stats", "completion_stats", "global_counters", "expected_frames",
    "progress_pct", "inference_cadence", "gradcam_cadence", "predict_udf",
    "predict_batch", "frames_written", "last_frame", "gradcam_heatmap",
    "late_dedup", "transport_roundtrip", "jpeg_encode_plan", "video_scan",
]


@dataclass
class PassResult:
    build_s: dict[str, float] = field(default_factory=dict)
    sink_s: dict[str, float] = field(default_factory=dict)
    build_jobs: dict[str, int] = field(default_factory=dict)
    rows: dict[str, int] = field(default_factory=dict)
    outputs: dict[str, pd.DataFrame] = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return sum(self.build_s.values()) + sum(self.sink_s.values())


def query_order(names: list[str], seed: int) -> list[str]:
    """The seed sets only the order the rows run in."""
    return [names[i] for i in np.random.default_rng([seed, 4]).permutation(len(names))]


def run_pass(spark, sf_dir: str, names: list[str], tracer, traced: bool) -> PassResult:
    """One pass over ``names``."""
    reg = registry()
    sc = spark.sparkContext
    res = PassResult()
    for name in names:
        group = f"perfbench:{name}:build"
        with tracer.span("queries.row", query=name):
            if traced:
                sc.setJobGroup(group, name)
            t0 = time.perf_counter()
            with tracer.span("queries.build", query=name):
                df = reg[name].fn(spark, sf_dir)
            t1 = time.perf_counter()
            if traced:
                sc.setJobGroup(f"perfbench:{name}:sink", name)
            with tracer.span("queries.sink", query=name):
                pdf = df.toPandas()
            t2 = time.perf_counter()
        if traced:
            res.build_jobs[name] = len(sc.statusTracker().getJobIdsForGroup(group))
            sc.setJobGroup("perfbench", "idle")
        res.build_s[name], res.sink_s[name], res.rows[name] = t1 - t0, t2 - t1, len(pdf)
        res.outputs[name] = pdf
    return res
