"""The benchmark's own tests: the result line's shape and size, the metric
names against BENCHMARK.json, and the seeded inputs. No Spark needed.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import inputs  # noqa: E402
import probe  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402

with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json"),
          encoding="utf-8") as _f:
    SPEC = json.load(_f)

# A reader that keeps only the last 2,000 characters of a run's output
# must still get the whole result line.
TAIL = 2000
# a float printed with every digit it has
LONG = 12345.678901234567


def test_result_line_fits_the_tail():
    line = run.result_line(True, 10**9, 10**9, dict.fromkeys(run.E2E, LONG),
                           run.E2E)
    assert len(line) < TAIL
    parsed = json.loads(line)
    assert set(parsed) == {"correct", "attempted", "failed", "metrics"}
    assert parsed["metrics"]["setup_s"] == {"value": LONG, "unit": "s"}


def test_all_workloads_line_fits_the_tail():
    per = {k: round(LONG, 4) for k in run.E2E}
    merged = {w: dict(per, error_rate=0.0) for w in workloads.WORKLOADS}
    assert len(json.dumps(merged, separators=(",", ":"))) < TAIL


def test_metric_names_match_the_spec():
    assert [m["name"] for m in SPEC["end_to_end"]] == list(run.E2E)
    assert [m["unit"] for m in SPEC["end_to_end"]] == list(run.E2E.values())
    assert [m["name"] for m in SPEC["per_layer"]] == list(run.LAYERS)
    assert [m["unit"] for m in SPEC["per_layer"]] == list(run.LAYERS.values())
    assert [w["name"] for w in SPEC["workloads"]] == list(workloads.WORKLOADS)
    setup = SPEC["end_to_end"][0]
    assert setup["bound"] == max(m["bound"] for m in SPEC["end_to_end"])


@pytest.mark.parametrize("name", [
    "pages.replicated_pages_s", "extract.geocode_pages_jvm_s",
    "extract.geotag_hit_ratio", "cells.cell_id_col_s",
    "pip_join.zones_match_sql_s", "pip_join.zone_hit_ratio",
    "benchjob.grouping_sets_s", "spark.jobs", "spark.stages", "spark.tasks",
    "codegen.pipeline_s", "scan.s", "scan.bytes", "exchange.shuffle_bytes",
    "exchange.shuffle_write_s", "agg.s", "python.boot_s", "python.init_s",
    "python.total_s", "python.bytes_sent", "python.bytes_received",
    "python.rows_received", "queries.build_s", "queries.exec_s",
    "queries.floor_s", "queries.data_s", "polygonize.propagate_labels_s",
    "polygonize.propagate_labels_calls", "polygonize.propagate_labels_jobs",
    "polygonize.label_pixels_s", "knn.knn_join_s", "knn.knn_join_jobs",
    "q.raster_sieve.build_s", "q.raster_sieve.jobs", "q.knn.build_s",
    "q.knn.jobs", "checkpoint.run_checkpointed_s",
    "checkpoint.jobs_per_commit", "checkpoint.files_written",
    "checkpoint.files_per_key", "checkpoint.bytes_per_row",
    "checkpoint.rows_computed_per_row_written",
    "checkpoint.read_committed_s", "session.get_spark_s", "trace.overhead_s",
    "peak_rss_mb", "jvm.heap_peak_mb", "jvm.heap_after_gc_peak_mb",
    "jvm.heap_committed_peak_mb",
])
def test_layer_metric_is_reported(name):
    assert name in run.LAYERS


def test_rollups_are_layers():
    assert set(probe.ROLLUPS) <= set(run.LAYERS)


def _sha256(path):
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def _documents(tmp_path, seed):
    d = inputs.write_sf_dir(str(tmp_path / f"s{seed}"), seed, ("documents",),
                            "sf0.001")
    return os.path.join(d, "documents.parquet")


@pytest.mark.parametrize("scale,table", sorted(inputs.SOURCES))
def test_committed_tables_are_the_test_tables(scale, table):
    assert _sha256(inputs.source(scale, table)) == inputs.SOURCES[scale,
                                                                   table]


def test_seed_zero_copies_the_tables(tmp_path):
    path = _documents(tmp_path, 0)
    assert _sha256(path) == inputs.SOURCES["sf0.001", "documents"]


def test_seeded_documents(tmp_path):
    t0 = pq.read_table(_documents(tmp_path, 0)).to_pydict()
    t1 = pq.read_table(_documents(tmp_path, 1)).to_pydict()
    t1b = pq.read_table(_documents(tmp_path, 1)).to_pydict()
    assert t0["doc_id"] == list(range(len(t0["doc_id"])))
    assert t1 == t1b                         # same seed, same input
    assert t1["doc_id"] != t0["doc_id"]
    assert sorted(t1["doc_id"]) == t0["doc_id"]
    for col in t0:                           # only the ids move
        if col != "doc_id":
            assert t1[col] == t0[col]


def test_percentile():
    assert probe.percentile([3.0, 1.0, 2.0], 0.5) == 2.0
    assert probe.percentile([0.0, 10.0], 0.85) == pytest.approx(8.5)
