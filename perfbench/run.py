#!/usr/bin/env python3
"""gdal_spark benchmark: closed-loop workloads against the engine's public
functions, outputs checked on every run.

    python3 perfbench/run.py --workload pages_zonal --seed 1 --trace 0

Run from the repository root. ``--trace 0`` measures the end-to-end
metrics with tracing off; ``--trace 1`` is the separate traced run that
reports the per-layer metrics. ``--workload all`` runs every workload in
turn, each in its own process. The last stdout line is one JSON object
{"correct", "attempted", "failed", "metrics"}; the per-operation record
and the spans go to ``perfbench/_results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import inputs  # noqa: E402
import probe  # noqa: E402
import workloads as wl  # noqa: E402

# End-to-end metrics, reported on every workload (see README.md for the
# per-workload meaning of a pass and an item).
E2E = {"setup_s": "s", "pass_s": "s", "items_per_s": "1/s"}

_S, _N = "s", "count"
LAYERS = {
    "session.get_spark_s": _S,
    "pages.replicated_pages_s": _S,
    "extract.geocode_pages_jvm_s": _S,
    "extract.geotag_hit_ratio": "ratio",
    "cells.cell_id_col_s": _S,
    "pip_join.zones_match_sql_s": _S,
    "pip_join.zone_hit_ratio": "ratio",
    "benchjob.grouping_sets_s": _S,
    "pages_zonal.prefix_sum_s": _S,
    "pages_zonal.fused_s": _S,
    "spark.jobs": _N,
    "spark.stages": _N,
    "spark.tasks": _N,
    "codegen.pipeline_s": _S,
    "scan.s": _S,
    "scan.bytes": "bytes",
    "exchange.shuffle_bytes": "bytes",
    "exchange.shuffle_write_s": _S,
    "agg.s": _S,
    "python.boot_s": _S,
    "python.init_s": _S,
    "python.total_s": _S,
    "python.bytes_sent": "bytes",
    "python.bytes_received": "bytes",
    "python.rows_received": _N,
    "queries.build_s": _S,
    "queries.exec_s": _S,
    "queries.floor_s": _S,
    "queries.data_s": _S,
    "polygonize.propagate_labels_s": _S,
    "polygonize.propagate_labels_calls": _N,
    "polygonize.propagate_labels_jobs": _N,
    "polygonize.label_pixels_s": _S,
    "knn.knn_join_s": _S,
    "knn.knn_join_jobs": _N,
    **{f"q.{q}.{m}": u for q in wl.DRIVER_HEAVY
       for m, u in (("build_s", _S), ("jobs", _N))},
    "checkpoint.run_checkpointed_s": _S,
    "checkpoint.jobs_per_commit": _N,
    "checkpoint.files_written": _N,
    "checkpoint.files_per_key": _N,
    "checkpoint.bytes_per_row": "bytes/row",
    "checkpoint.rows_computed_per_row_written": "ratio",
    "checkpoint.read_committed_s": _S,
    "trace.overhead_s": _S,
    "peak_rss_mb": "MB",
    "jvm.heap_peak_mb": "MB",
    "jvm.heap_after_gc_peak_mb": "MB",
    "jvm.heap_committed_peak_mb": "MB",
}
# a run that has not finished by then is abandoned: stop Spark, exit 1
DEADLINE_S = 150


def result_line(correct: bool, attempted: int, failed: int,
                values: dict, units: dict) -> str:
    metrics = {k: {"value": float(values[k]), "unit": units[k]}
               for k in units}
    return json.dumps({"correct": correct, "attempted": attempted,
                       "failed": failed, "metrics": metrics},
                      separators=(",", ":"))


def run_one(workload: str, seed: int, seconds: float, traced: bool) -> int:
    t_start = time.perf_counter()
    if not os.path.isfile(os.path.join(ROOT, "gdal_spark", "benchjob.py")):
        print(f"perfbench: no gdal_spark engine under {ROOT}; run from the"
              " repository root", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    def overrun(signum, frame):
        raise TimeoutError(f"run exceeded {DEADLINE_S} s")

    signal.signal(signal.SIGALRM, overrun)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))  # still stop Spark
    signal.alarm(DEADLINE_S)

    cls = wl.WORKLOADS[workload]
    work = os.path.join(HERE, "_work", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    sf = inputs.write_sf_dir(os.path.join(work, "sf"), seed, cls.tables)
    cpus = len(os.sched_getaffinity(0))
    spark = None
    try:
        with probe.RssSampler() as rss:
            spark, get_spark_s = probe.start_spark(ROOT, work, cpus)
            w = cls(spark, sf, work, cpus, seed)
            w.setup()
            setup_s = time.perf_counter() - t_start
            e2e = w.measure(0 if traced else seconds)
            layers = {}
            tracer = None
            if traced:
                tracer = probe.Tracer(spark.sparkContext,
                                      f"{workload}-{seed}")
                layers = w.trace(tracer)
                layers["session.get_spark_s"] = get_spark_s
            w.check()
            heap_mb = probe.heap_peak_mb(spark)
            probe.stop_spark(spark)
            spark = None
        # memory, in every run's record; a metric of the traced run
        memory = {"peak_rss_mb": rss.peak_mb, "jvm.heap_peak_mb": heap_mb,
                  **probe.gc_log_peaks(os.path.join(work, "gc.log"))}
        e2e.update(setup_s=setup_s, **memory)
    finally:
        try:
            if spark is not None:
                probe.stop_spark(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)

    layers.update(memory)
    values = ({k: layers.get(k, 0.0) for k in LAYERS} if traced
              else {k: e2e[k] for k in E2E})
    rate = w.failed / w.attempted
    os.makedirs(os.path.join(HERE, "_results"), exist_ok=True)
    out = os.path.join(HERE, "_results",
                       f"{workload}-seed{seed}-trace{int(traced)}.json")
    with open(out, "w", encoding="utf-8") as f:
        json.dump({"workload": workload, "seed": seed, "seconds": seconds,
                   "cpus": cpus, "error_rate": rate, "errors": w.errors,
                   "metrics": values, "extra": e2e, "record": w.record,
                   "peak_rss_kb_by_pid": rss.peak_detail,
                   "spans": tracer.dump() if tracer else []},
                  f, indent=1, default=str)
    print(f"{workload} seed={seed} error_rate={rate:.4f}"
          f" ({w.failed}/{w.attempted})",
          *(f"{k}={v:.4g}" for k, v in sorted(e2e.items())),
          f"record={os.path.relpath(out, ROOT)}")
    for e in w.errors:
        print(f"  failed: {e}")
    print(result_line(w.failed == 0, w.attempted, w.failed, values,
                      LAYERS if traced else E2E), flush=True)
    return 0


def run_all(seed: int, seconds: float, traced: bool) -> int:
    """Every workload in its own process; one compact line per workload
    and a final line keyed by workload."""
    merged = {}
    for name in wl.WORKLOADS:
        p = subprocess.run(
            [sys.executable, __file__, "--workload", name, "--seed",
             str(seed), "--seconds", str(seconds), "--trace",
             str(int(traced))], stdout=subprocess.PIPE, text=True,
            check=False)
        if p.returncode != 0:
            return p.returncode
        res = json.loads(p.stdout.strip().splitlines()[-1])
        merged[name] = {k: round(v["value"], 4)
                        for k, v in res["metrics"].items()}
        merged[name]["error_rate"] = res["failed"] / res["attempted"]
        print(name, json.dumps(res["metrics"], separators=(",", ":")))
    print(json.dumps(merged, separators=(",", ":")), flush=True)
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=[*wl.WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    if a.workload == "all":
        return run_all(a.seed, a.seconds, bool(a.trace))
    return run_one(a.workload, a.seed, a.seconds, bool(a.trace))


if __name__ == "__main__":
    sys.exit(main())
