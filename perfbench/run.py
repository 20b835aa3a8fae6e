"""The sparkwatch benchmark.

    python3 perfbench/run.py --workload ep2_backlog --seed 1 --seconds 10 --trace 0

Run from the repository root.  Sets Spark up (``session.get_spark`` plus
a warm-up) several times and keeps the last session, runs one workload
for ``--seconds``, checks every output against an independent
reference, and prints one JSON result as the last line of stdout:
end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``.  The line before it records the machine (nproc, load
average, pyspark version).  A traced run also writes its spans and the
engine's progress records to ``.perfbench_out/``.  See
``perfbench/README.md`` for the metric definitions.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from collections import Counter

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("ep2_backlog", "registry_light")
SETUPS = 2  # set-ups per run (the first also starts the JVM); setup_s is their median

E2E_UNITS = {
    "setup_s": "s", "retained_mb": "MB", "frames_per_s": "1/s",
    "latency_p50_s": "s", "latency_p99_s": "s", "session_latency_p50_s": "s",
    "wall_s": "s",
}
_LAYER_UNITS = {
    "session.get_spark_s": "s", "session.warmup_s": "s",
    "sources.latest_offset_ms": "ms", "sources.get_batch_ms": "ms",
    "sources.files_per_batch": "count",
    "stateful.materialize_s": "s", "stateful.rows_in": "count",
    "stateful.frame_rows_out": "count", "stateful.session_rows_out": "count",
    "state.update_ms": "ms", "state.commit_ms": "ms", "state.rows_total": "count",
    "state.memory_bytes": "bytes",
    "models.predict_calls": "count", "models.predict_rows": "count",
    "models.predict_s": "s", "models.predict_rows_per_row_in": "ratio",
    "sinks.manifest_s": "s", "sinks.manifest_segments": "count",
    "sinks.finalize_s": "s", "sinks.finalized_videos": "count",
    "engine.query_planning_ms": "ms", "engine.wal_commit_ms": "ms", "engine.batches": "count",
    "batch.wall_s": "s", "batch.collect_s": "s", "batch.unattributed_s": "s",
    "jvm.peak_rss_mb": "MB", "jvm.heap_peak_mb": "MB", "trace.wall_s": "s", "trace.spans": "count",
}


def layer_units() -> dict[str, str]:
    """Every per-layer metric a traced run prints: the fixed layers and
    the query rows of ``registry_light``."""
    from perfbench.registry import LIGHT

    units = dict(_LAYER_UNITS)
    for name in LIGHT:
        units[f"queries.build_s.{name}"] = "s"
        units[f"queries.sink_s.{name}"] = "s"
        units[f"queries.build_jobs.{name}"] = "count"
    return units


def _driver_memory_mb() -> int:
    """A fifth of this machine's memory, between 1 and 4 GiB."""
    with open("/proc/meminfo") as f:
        total_kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
    return max(1024, min(4096, total_kb // 1024 // 5))


def configure_env(work: str) -> int:
    """Environment for the JVM and Python workers, set before pyspark
    starts: repo on PYTHONPATH (workers unpickle firewatch_spark
    functions), local[nproc], driver memory sized to the machine,
    pandas FutureWarnings off, and every temp or spill file inside
    ``work``.  The heap starts at the JVM's default size and grows as
    the collector decides.  Returns nproc."""
    cpus = len(os.sched_getaffinity(0))
    mem = _driver_memory_mb()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")] + ["SPARK_MASTER"]:
        os.environ.pop(k, None)
    os.environ.update({
        "PYTHONPATH": os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
        "PYTHONWARNINGS": "ignore::FutureWarning",
        "TMPDIR": tmp,
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        # the launcher JVM spark-submit starts first
        "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "PYSPARK_SUBMIT_ARGS": (
            f"--driver-memory {mem}m --driver-java-options "
            f'"-Djava.io.tmpdir={tmp} -XX:-UsePerfData" pyspark-shell'
        ),
    })
    tempfile.tempdir = tmp
    return cpus


def pct(values: list[float], q: float) -> float:
    """The ``q``-th percentile as one of ``values`` (the lower one where
    it falls between two), never a blend of two observations."""
    import numpy as np

    return float(np.percentile(np.asarray(values, dtype=float), q, method="lower")) if values else 0.0


def jvm_heap_peak_mb(spark) -> float:
    """Peak used bytes over the JVM's heap pools (since start), in MB."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    heap = spark._jvm.java.lang.management.MemoryType.HEAP
    return sum(p.getPeakUsage().getUsed() for p in mf.getMemoryPoolMXBeans()
               if p.getType() == heap) / 2**20


def jvm_retained_mb(spark) -> float:
    """Heap in use after a full collection plus non-heap in use
    (metaspace, code cache), in MB: what the program still holds, which
    does not depend on when the collector ran."""
    spark._jvm.java.lang.System.gc()
    mem = spark._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    return (mem.getHeapMemoryUsage().getUsed() + mem.getNonHeapMemoryUsage().getUsed()) / 2**20


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        kb = next(int(ln.split()[1]) for ln in f if ln.startswith("VmHWM:"))
    return kb / 1024.0


class Bench:
    def __init__(self, args, work: str, cpus: int):
        from perfbench.tracing import EngineListener, Tracer

        self.args, self.work, self.cpus = args, work, cpus
        self.traced = bool(args.trace)
        self.tracer = Tracer(f"{args.workload}-{args.seed}-{os.getpid()}", self.traced)
        self.listener = EngineListener() if self.traced else None
        self.spark = None
        self.setups: list[tuple[float, float]] = []
        self.e2e: dict[str, float] = {}
        self.layers: dict[str, float] = {}
        self.progress: list[dict] = []  # engine progress records of traced EP2 queries
        self.attempted = 0
        self.failed = 0

    # -- set-up ---------------------------------------------------------
    def setup(self) -> None:
        from firewatch_spark.session import get_spark
        from perfbench import ep2

        for i in range(SETUPS):
            if self.spark is not None:
                self.spark.stop()
            t0 = time.perf_counter()
            with self.tracer.span("session.get_spark"):
                self.spark = get_spark("perfbench", extra_conf={
                    "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                    "spark.local.dir": os.path.join(self.work, "spark-local"),
                    "spark.ui.showConsoleProgress": "false",
                })
            t1 = time.perf_counter()
            with self.tracer.span("session.warmup"):
                # its stateful stage forks the Python workers on every core
                ep2.warmup_replay(self.spark, os.path.join(self.work, f"warmup-{i}"))
            self.setups.append((t1 - t0, time.perf_counter() - t1))
            print(f"perfbench: setup {i}: get_spark {t1 - t0:.2f}s, warm-up {self.setups[-1][1]:.2f}s",
                  file=sys.stderr)
        if self.listener is not None:
            self.spark.streams.addListener(self.listener)

    # -- workloads ------------------------------------------------------
    def run(self) -> None:
        w = self.args.workload
        with self.tracer.span(f"workload.{w}"):
            if w == "ep2_backlog":
                self.ep2_backlog()
            else:
                self.registry()
        self.layers["jvm.peak_rss_mb"] = jvm_peak_rss_mb(self.spark)
        self.layers["jvm.heap_peak_mb"] = jvm_heap_peak_mb(self.spark)
        self.e2e["retained_mb"] = jvm_retained_mb(self.spark)
        self.e2e["setup_s"] = statistics.median(g + w for g, w in self.setups)
        self.layers["session.get_spark_s"] = statistics.median(g for g, _ in self.setups)
        self.layers["session.warmup_s"] = statistics.median(w for _, w in self.setups)
        self.layers["trace.wall_s"] = self.e2e["wall_s"]
        self.layers["trace.spans"] = len(self.tracer.spans)

    def _predict_fn(self):
        from firewatch_spark.streaming.stateful_pipeline import surrogate_predict_fn
        from perfbench.tracing import timed_predict

        if not self.traced:
            return surrogate_predict_fn, None
        return timed_predict(self.spark, surrogate_predict_fn)

    def ep2_backlog(self) -> None:
        import pyarrow as pa

        from firewatch_spark.streaming.stateful_pipeline import surrogate_predict_fn
        from perfbench import check, ep2, loadgen

        tables = loadgen.backlog_files(self.args.seed)
        in_dir = os.path.join(self.work, "backlog-in")
        names = ep2.write_inputs(tables, in_dir)
        exp = check.ep2_expected(pa.concat_tables(tables), loadgen.GAP)
        predict_fn, predict_totals = self._predict_fn()
        # one untimed drain of the first file warms the JIT and the Python
        # workers at full batch size; its output is checked like the rest
        warm_in = os.path.join(self.work, "warm-in")
        ep2.write_inputs(tables[:1], warm_in)
        with self.tracer.span("ep2.warmup_drain"):
            warm = ep2.drain(self.spark, warm_in, os.path.join(self.work, "warm-drain"),
                             self.tracer, surrogate_predict_fn)
        warm_exp = check.ep2_expected(tables[0], loadgen.GAP)
        self.attempted += warm_exp.n_ops
        self.failed += check.ep2_failures(warm_exp, warm.out_dir, warm.session_rows())
        runs = []
        deadline = time.monotonic() + self.args.seconds
        while not runs or time.monotonic() < deadline:
            with self.tracer.span("ep2.drain") as sid:
                runs.append(ep2.drain(self.spark, in_dir, os.path.join(self.work, f"drain-{len(runs)}"),
                                      self.tracer, predict_fn, max_files=1, parent=sid))
        file_of = _file_of(zip(names, tables))
        lat, slat, fps, walls = [], [], [], []
        for r in runs:
            self.attempted += exp.n_ops
            self.failed += check.ep2_failures(exp, r.out_dir, r.session_rows())
            batch_of, done = r.file_batches(), r.done()
            for name, t in zip(names, tables):
                lat += [done[batch_of[name]]] * t.num_rows
            slat += [done[batch_of[file_of[g]]] for g in exp.gap_frames]
            walls.append(r.wall_s())
            fps.append(sum(t.num_rows for t in tables) / walls[-1])
        self.e2e.update({
            "frames_per_s": statistics.median(fps), "wall_s": statistics.median(walls),
            "latency_p50_s": pct(lat, 50), "latency_p99_s": pct(lat, 99),
            "session_latency_p50_s": pct(slat, 50),
        })
        if self.traced:
            self.stream_layers(runs, dict(zip(names, tables)), predict_totals())

    def stream_layers(self, runs, tables: dict, predict: dict) -> None:
        """Per-layer numbers of the timed drains, as totals per drain."""
        n = len(runs)
        prog = []
        for r in runs:
            prog += self.listener.wait_for(r.run_id, len(r.batches))
        dur = Counter()
        for p in prog:
            dur.update({k: float(v) for k, v in p.get("durationMs", {}).items()})
        ops = [p["stateOperators"][0] for p in prog if p.get("stateOperators")]
        batches = [b for r in runs for b in r.batches]
        files = segments = finalized = 0
        for r in runs:
            batch_of = r.file_batches()
            files += len(batch_of)
            seen = {}
            for name, b in batch_of.items():
                seen.setdefault(b, set()).update(tables[name].column("video_id").to_pylist())
            segments += sum(len(v) for v in seen.values())
            finalized += sum(len(set(df["video_id"])) for df in r.sessions)
        rows_in = sum(int(p.get("numInputRows", 0)) for p in prog)
        mat = sum(b.materialized - b.start for b in batches)
        man = sum(b.manifested - b.materialized for b in batches)
        fin = sum(b.finalized - b.manifested for b in batches)
        col = sum(b.end - b.finalized for b in batches)
        engine_ms = sum(dur[k] for k in ("latestOffset", "getBatch", "queryPlanning", "walCommit", "commitOffsets"))
        wall = dur["triggerExecution"] / 1000.0
        self.layers.update({
            "sources.latest_offset_ms": dur["latestOffset"] / n,
            "sources.get_batch_ms": dur["getBatch"] / n,
            "sources.files_per_batch": files / max(1, len(batches)),
            "stateful.materialize_s": mat / n,
            "stateful.rows_in": rows_in / n,
            "stateful.frame_rows_out": sum(b.frame_rows for b in batches) / n,
            "stateful.session_rows_out": sum(b.session_rows for b in batches) / n,
            "state.update_ms": sum(o.get("allUpdatesTimeMs", 0) for o in ops) / n,
            "state.commit_ms": sum(o.get("commitTimeMs", 0) for o in ops) / n,
            "state.rows_total": max((o.get("numRowsTotal", 0) for o in ops), default=0),
            "state.memory_bytes": max((o.get("memoryUsedBytes", 0) for o in ops), default=0),
            "models.predict_calls": predict["calls"] / n,
            "models.predict_rows": predict["rows"] / n,
            "models.predict_s": predict["seconds"] / n,
            "models.predict_rows_per_row_in": predict["rows"] / rows_in if rows_in else 0.0,
            "sinks.manifest_s": man / n,
            "sinks.manifest_segments": segments / n,
            "sinks.finalize_s": fin / n,
            "sinks.finalized_videos": finalized / n,
            "engine.query_planning_ms": dur["queryPlanning"] / n,
            "engine.wal_commit_ms": (dur["walCommit"] + dur["commitOffsets"]) / n,
            "engine.batches": len(prog) / n,
            "batch.wall_s": wall / n,
            "batch.collect_s": col / n,
            "batch.unattributed_s": (wall - mat - man - fin - col - engine_ms / 1000.0) / n,
        })
        self.progress = prog

    def registry(self) -> None:
        from firewatch_spark.queries import registry
        from perfbench import check, loadgen
        from perfbench import registry as reg

        sf = os.path.join(self.work, "sf")
        loadgen.write_sf(sf)
        names = reg.query_order(reg.LIGHT, self.args.seed)
        # one untimed pass fills the JIT and Python-worker caches first;
        # its outputs are checked like the rest
        with self.tracer.span("queries.warmup_pass"):
            warm = reg.run_pass(self.spark, sf, names, self.tracer, self.traced)
        passes = []
        deadline = time.monotonic() + self.args.seconds
        while not passes or time.monotonic() < deadline:
            with self.tracer.span("queries.pass"):
                passes.append(reg.run_pass(self.spark, sf, names, self.tracer, self.traced))
        # every output is checked after the timed passes, so checking
        # costs no pass
        con = check.oracle_connection(sf)
        for n in names:
            odf = con.execute(registry()[n].oracle).df()
            ohash = check.norm_hash(odf)
            self.failed += sum(not check.row_matches(p.outputs[n], odf, ohash) for p in [warm, *passes])
        self.attempted = len(names) * (len(passes) + 1)
        total = [p.build_s[n] + p.sink_s[n] for p in passes for n in names]
        self.e2e.update({
            "wall_s": statistics.median(p.wall_s for p in passes),
            "frames_per_s": statistics.median(sum(p.rows.values()) / p.wall_s for p in passes),
            "latency_p50_s": pct(total, 50), "latency_p99_s": pct(total, 99),
            "session_latency_p50_s": pct([p.sink_s[n] for p in passes for n in names], 50),
        })
        for n in names:
            self.layers[f"queries.build_s.{n}"] = statistics.median(p.build_s[n] for p in passes)
            self.layers[f"queries.sink_s.{n}"] = statistics.median(p.sink_s[n] for p in passes)
            if self.traced:
                self.layers[f"queries.build_jobs.{n}"] = passes[0].build_jobs[n]

    # -- result ---------------------------------------------------------
    def result(self) -> dict:
        if self.traced:
            units = layer_units()
            metrics = {k: {"value": float(self.layers.get(k, 0.0)), "unit": u} for k, u in units.items()}
        else:
            metrics = {k: {"value": float(self.e2e[k]), "unit": u} for k, u in E2E_UNITS.items()}
        return {"correct": self.failed == 0 and self.attempted > 0,
                "attempted": int(self.attempted), "failed": int(self.failed), "metrics": metrics}


def stop_jvm(spark) -> None:
    """Stop the session, then the JVM behind it: the gateway exits when
    its stdin closes, and its Python workers exit with it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _file_of(named_tables) -> dict[tuple[str, int], str]:
    """(video_id, frame_number) -> name of the input file holding it."""
    out = {}
    for name, t in named_tables:
        for key in zip(t.column("video_id").to_pylist(), t.column("frame_number").to_pylist()):
            out[key] = name
    return out


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "firewatch_spark")):
        print(f"perfbench: no firewatch_spark package under {ROOT}; run from the repository root",
              file=sys.stderr)
        return 2
    # keep stdout for the result: the JVM and anything else writes to stderr
    result_fd = os.dup(1)
    os.dup2(2, 1)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    cpus = configure_env(work)
    bench = Bench(args, work, cpus)
    t0 = time.monotonic()
    try:
        bench.setup()
        print(f"perfbench: set-ups done at {time.monotonic() - t0:.1f}s", file=sys.stderr)
        bench.run()
        print(f"perfbench: workload done at {time.monotonic() - t0:.1f}s; JVM peak RSS "
              f"{bench.layers['jvm.peak_rss_mb']:.0f} MB, heap peak {bench.layers['jvm.heap_peak_mb']:.0f} MB, "
              f"retained {bench.e2e['retained_mb']:.1f} MB", file=sys.stderr)
        result = bench.result()
        import pyspark

        env = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
               "nproc": cpus, "loadavg": list(os.getloadavg()), "pyspark": pyspark.__version__}
        if bench.traced:
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            bench.tracer.dump(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace.json"))
            with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-progress.json"), "w") as f:
                json.dump({"env": env, "progress": bench.progress}, f)
    finally:
        if bench.spark is not None:
            stop_jvm(bench.spark)
        shutil.rmtree(work, ignore_errors=True)
    print(f"perfbench: JVM stopped at {time.monotonic() - t0:.1f}s", file=sys.stderr)
    with os.fdopen(result_fd, "w") as out:
        out.write(json.dumps({"perfbench_env": env}) + "\n")
        out.write(json.dumps(result) + "\n")
    return 0


if __name__ == "__main__":
    sys.path[0] = ROOT  # import perfbench as a package, never its modules bare
    sys.exit(main())
