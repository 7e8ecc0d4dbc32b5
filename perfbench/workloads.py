"""The closed-loop workloads: one client, one Spark action at a time.

Each workload is a class with ``setup`` (inputs, warm-ups), ``measure``
(operations repeated until the run's seconds are spent, timed with
tracing off), ``check`` (outputs against independent results, outside
the timed section) and ``trace`` (a separate traced pass that yields the
per-layer metrics). ``op`` is one unit of closed-loop work; a ``pass``
is the workload's whole operation set once.
"""

from __future__ import annotations

import contextlib
import os
import time
from collections import Counter
from statistics import median

import inputs
from probe import (ROLLUPS, Tracer, input_records, percentile, plan_metrics,
                   run_plan)


class Failure(Exception):
    """An operation whose output failed its check."""


def _canon(df):
    """The strict string canon of the contract compare: columns sorted by
    name, every value as its string form, rows sorted."""
    cols = sorted(df.columns)
    out = df[cols].copy()
    for c in cols:
        out[c] = out[c].map(
            lambda v: "NULL" if v is None or v != v else str(v))
    return out.sort_values(cols).reset_index(drop=True)


def _duckdb(sf_dir: str, tables: tuple[str, ...]):
    import duckdb

    con = duckdb.connect()
    for t in tables:
        con.execute(f"create view {t} as select * from"
                    f" read_parquet('{sf_dir}/{t}.parquet')")
    return con


class Workload:
    tables: tuple[str, ...] = ("documents",)
    uses_python = False

    def __init__(self, spark, sf_dir: str, work: str, cpus: int, seed: int):
        self.spark = spark
        self.sc = spark.sparkContext
        self.sf = sf_dir
        self.work = work
        self.cpus = cpus
        self.seed = seed
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.record: dict = {}

    def warm(self) -> None:
        """JVM class loading, parquet footers and, where the workload
        calls Python, the worker pool: all paid before the first timed
        action."""
        self.spark.read.parquet(f"{self.sf}/documents.parquet").count()
        if self.uses_python:
            from pyspark.sql import functions as F

            ident = F.pandas_udf(lambda s: s, "long")
            self.spark.range(self.cpus * 4, numPartitions=self.cpus) \
                .select(ident("id")).count()

    def fail(self, what: str, err: BaseException) -> None:
        self.failed += 1
        self.errors.append(f"{what}: {type(err).__name__}: {err}"[:500])


# --------------------------------------------------------------------------
# pages_zonal: the north-star throughput job
# --------------------------------------------------------------------------

class PagesZonal(Workload):
    """``benchjob``'s flagship pipeline over ``REPLICATE``× pages."""

    REPLICATE = 32
    # benchjob._run_pipeline's aggregation, restated so that the traced
    # run can materialize the step before it; trace() fails the run when
    # the restated chain's rows differ from the pipeline's
    GROUPING_SQL = """
        select zone_id, tile_x, tile_y,
               grouping(zone_id) as gz, grouping(tile_x) as gt,
               count(*) as n_all,
               count(case when pos is null or pos = 0 then 1 end)
                 as n_first,
               approx_count_distinct(cell_id) as n_cells
        from {view}
        group by grouping sets ((zone_id), (tile_x, tile_y))
    """

    def setup(self) -> None:
        from gdal_spark import benchjob

        self.warm()
        # C2-compiles the extraction cascade and the PIP expression: after
        # one action the next still runs 20-30% slower than the ones after
        for _ in range(2):
            benchjob._run_pipeline(self.spark, benchjob.replicated_pages(
                self.spark, self.sf, self.REPLICATE))

    def op(self) -> tuple[float, list]:
        from gdal_spark import benchjob

        # replicated_pages counts the documents in a job of its own;
        # flagship_job keeps it out of pipeline_sec, and so does this
        pages = benchjob.replicated_pages(self.spark, self.sf, self.REPLICATE)
        t0 = time.perf_counter()
        rows = benchjob._run_pipeline(self.spark, pages)
        return time.perf_counter() - t0, rows

    def measure(self, seconds: float) -> dict:
        walls = []
        self.first_rows = None
        t_end = time.perf_counter() + seconds
        start = self.attempted
        while time.perf_counter() < t_end or self.attempted - start < 3:
            self.attempted += 1
            try:
                wall, rows = self.op()
            except Exception as e:  # noqa: BLE001 - counted, run goes on
                self.fail("pipeline", e)
                continue
            walls.append(wall)
            if self.first_rows is None:
                self.first_rows = rows
        n_pages = self.n_docs() * self.REPLICATE
        self.record.update(pipeline_s=walls, n_pages=n_pages)
        p = median(walls)
        return {"pass_s": p, "items_per_s": n_pages / p}

    def n_docs(self) -> int:
        import pyarrow.parquet as pq

        return pq.ParquetFile(f"{self.sf}/documents.parquet").metadata.num_rows

    def check(self) -> None:
        """Per-zone n_all and per-tile n_first are REPLICATE × the
        zonal_count and tile_counts_z8 oracles."""
        if self.first_rows is None:
            return
        import __spark_entry__ as contract

        oracles = contract.oracle_sql()
        con = _duckdb(self.sf, ("documents",))
        r = self.REPLICATE
        want_z = {int(z): r * int(n) for z, n in con.execute(
            oracles["zonal_count"]).fetchall()}
        want_t = {(int(x), int(y)): r * int(n) for x, y, n in con.execute(
            oracles["tile_counts_z8"]).fetchall()}
        got_z = {int(w["zone_id"]): int(w["n_all"]) for w in self.first_rows
                 if w["gz"] == 0 and w["zone_id"] is not None}
        got_t = {(int(w["tile_x"]), int(w["tile_y"])): int(w["n_first"])
                 for w in self.first_rows if w["gt"] == 0}
        if got_z != want_z or got_t != want_t:
            self.fail("pipeline check", Failure(
                f"zones {len(got_z)}/{len(want_z)} tiles"
                f" {len(got_t)}/{len(want_t)} differ from the oracles"))

    # -- traced: each step materialized as a prefix, one step at a time --
    def steps(self):
        from pyspark.sql import functions as F

        from gdal_spark import benchjob, cells
        from gdal_spark.extract import geocode_pages_jvm
        from gdal_spark.pip_join import zones_match_sql
        from gdal_spark.pipeline import CELL_ZOOM
        from gdal_spark.zones import zone_defs

        def grouping(df):
            view = "_perfbench_rows"
            df.createOrReplaceTempView(view)
            return self.spark.sql(self.GROUPING_SQL.format(view=view))

        return [
            ("pages.replicated_pages", lambda _: benchjob.replicated_pages(
                self.spark, self.sf, self.REPLICATE)),
            ("extract.geocode_pages_jvm", lambda d: geocode_pages_jvm(d)
             .filter(F.col("lat").isNotNull())),
            ("cells.cell_id_col", lambda d: d.withColumn(
                "cell_id", cells.cell_id_col("lon", "lat", CELL_ZOOM))),
            ("pip_join.zones_match_sql", lambda d: d.select(
                "cell_id",
                cells.tile_x_col("lon", 8).alias("tile_x"),
                cells.tile_y_col("lat", 8).alias("tile_y"),
                F.posexplode_outer(F.expr(zones_match_sql(zone_defs())))
                .alias("pos", "zone_id"))),
            ("benchjob.grouping_sets", grouping),
        ]

    def trace(self, tracer: Tracer) -> dict:
        # fused: the same steps unmaterialized, one action
        fused = None
        with tracer.span("pages_zonal.fused") as fused_span:
            for _, step in self.steps():
                fused = step(fused)
            run_plan(fused)
        with tracer.bookkeeping():
            layers = plan_metrics(fused)
        overhead = tracer.overhead_s
        layers.update({k: fused_span[k] for k in
                       ("spark.jobs", "spark.stages", "spark.tasks")})
        fused_s = fused_span["end"] - fused_span["start"]
        prev, counts, mats = None, {}, []
        for name, step in self.steps():
            with tracer.span(name) as s:
                cur = step(prev).localCheckpoint(eager=True)
            layers[f"{name}_s"] = s["end"] - s["start"]
            counts[name] = cur.count()
            mats.append(cur)
            prev = cur
        agg = prev.collect()
        # the steps restate benchjob._run_pipeline; the timed run's rows
        # tell whether they still do
        if self.first_rows is not None:
            extra = Counter(map(tuple, agg))
            extra.subtract(Counter(map(tuple, self.first_rows)))
            if any(extra.values()):
                self.fail("pages_zonal steps drifted", Failure(
                    f"{sum(n for n in extra.values() if n > 0)} of"
                    f" {len(agg)} prefix-chain rows are not among the"
                    f" {len(self.first_rows)} rows of"
                    " benchjob._run_pipeline"))
        pages = counts["pages.replicated_pages"]
        geo = counts["extract.geocode_pages_jvm"]
        zone_rows = sum(r["n_all"] for r in agg
                        if r["gz"] == 0 and r["zone_id"] is not None)
        for m in mats:
            m.unpersist()
        prefix = sum(layers[f"{n}_s"] for n, _ in self.steps())
        layers.update({
            "extract.geotag_hit_ratio": geo / pages,
            "pip_join.zone_hit_ratio": zone_rows / geo,
            "pages_zonal.prefix_sum_s": prefix,
            "pages_zonal.fused_s": fused_s,
            "trace.overhead_s": overhead,
        })
        self.record.update(trace_counts=counts)
        return layers


# --------------------------------------------------------------------------
# query_suite: what an analyst waits for
# --------------------------------------------------------------------------

# The suite, chosen so that one pass in a cold JVM fits a run: the two
# Python-boundary queries, the label_pixels caller with the most eager
# (build-time) jobs, three cheap dedup, text and relational queries, and
# the only caller of knn_join.
SUITE = (
    "zonal_count",             # pandas-UDF extractor + STR-tree MapInPandas
    "pip_join",
    "raster_sieve",            # label_pixels + propagate_labels: 125 jobs
    "dedup_exact",
    "text_quality",
    "sql_topk",
    "knn",                     # knn_join level loop: 22 eager jobs
)
# Run in the traced run only, after the traced suite pass: one commit
# cycle costs 25-35 s, which a timed run cannot afford.
TRACED_ONLY = ("ckpt_resume",)
# queries whose build and job counts are reported as named metrics
DRIVER_HEAVY = ("raster_sieve", "knn")
# One checkpoint key per z4 tile.
TILE_Z = 4
# spans recorded around these engine functions in the traced pass:
# (module, function, modules that bound the name at import)
SUITE_SPANS = (
    ("gdal_spark.polygonize", "propagate_labels", ()),
    ("gdal_spark.polygonize", "label_pixels", ()),
    ("gdal_spark.knn", "knn_join", ("gdal_spark.queries.geodesy",)),
    ("gdal_spark.checkpoint", "run_checkpointed", ()),
    ("gdal_spark.checkpoint", "read_committed", ()),
)


class QuerySuite(Workload):
    tables = ("documents", "lineitem")
    uses_python = True

    def setup(self) -> None:
        import __spark_entry__ as contract

        self.warm()
        self.ckpt = CkptResume(self.work)
        self.qs = dict(contract.queries(), ckpt_resume=self.ckpt)
        self.oracles = contract.oracle_sql()

    def run_query(self, name: str, sf: str, tracer: Tracer | None = None):
        """Build, then execute the full plan once. Returns the record
        and the DataFrame (kept for the check)."""
        span = tracer.span(f"q.{name}") if tracer else contextlib.nullcontext()
        with span as s:
            t0 = time.perf_counter()
            df = self.qs[name](self.spark, sf)
            t1 = time.perf_counter()
            run_plan(df)
            t2 = time.perf_counter()
        rec = {"query": name, "build_s": t1 - t0, "exec_s": t2 - t1,
               "wall_s": t2 - t0}
        if tracer is not None:
            with tracer.bookkeeping():
                rec.update({k: tracer.inclusive(s, k) for k in
                            ("spark.jobs", "spark.stages", "spark.tasks")})
                rec.update(plan_metrics(df))
        return rec, df

    def one_pass(self, sf: str, tracer: Tracer | None = None,
                 names: tuple[str, ...] = SUITE):
        recs, dfs = [], {}
        # every pass starts from the same state: nothing cached by an
        # earlier one (knn caches its point set), so the traced pass does
        # not reuse what the measured pass cached
        self.spark.catalog.clearCache()
        for name in names:
            self.attempted += 1
            try:
                rec, df = self.run_query(name, sf, tracer)
            except Exception as e:  # noqa: BLE001 - counted, run goes on
                self.fail(name, e)
                continue
            recs.append(rec)
            dfs[name] = df
        return recs, dfs

    def measure(self, seconds: float) -> dict:
        passes = []
        self.first_dfs = None
        t_end = time.perf_counter() + seconds
        while not passes or time.perf_counter() < t_end:
            recs, dfs = self.one_pass(self.sf)
            passes.append(recs)
            if self.first_dfs is None:
                self.first_dfs = dfs
        walls = [r["wall_s"] for p in passes for r in p]
        # a pass that lost a query to an error is not a whole pass
        whole = [sum(r["wall_s"] for r in p) for p in passes
                 if len(p) == len(SUITE)] or [sum(walls)]
        self.record.update(passes=passes)
        return {"pass_s": median(whole),
                "items_per_s": len(SUITE) / median(whole),
                "query_p50_s": median(walls),
                "query_p85_s": percentile(walls, 0.85)}

    def check(self) -> None:
        con = _duckdb(self.sf, self.tables)
        for name, df in (self.first_dfs or {}).items():
            try:
                got = df.toPandas()
                want = con.execute(self.oracles[name]).df()
                if sorted(got.columns) != sorted(want.columns):
                    raise Failure(f"columns {sorted(got.columns)}")
                a, b = _canon(got), _canon(want)
                if a.shape != b.shape or not a.equals(b):
                    raise Failure(f"{a.shape} vs oracle {b.shape}")
            except Exception as e:  # noqa: BLE001 - counted, run goes on
                self.fail(f"{name} check", e)

    def trace(self, tracer: Tracer) -> dict:
        """A traced pass after the measured one, then the traced-only
        operations and the floor pass."""
        for mod, attr, sites in SUITE_SPANS:
            tracer.wrap(mod, attr, sites)
        with tracer.span("query_suite.pass") as pass_span:
            traced, _ = self.one_pass(self.sf, tracer)
        overhead = tracer.overhead_s
        extra, extra_dfs = self.one_pass(self.sf, tracer, TRACED_ONLY)
        if "ckpt_resume" in extra_dfs:
            try:
                self.ckpt.check(extra_dfs["ckpt_resume"])
            except Exception as e:  # noqa: BLE001 - counted, run goes on
                self.fail("ckpt_resume check", e)
        # the floor: the same queries on the sf0.001 tables
        floor_sf = inputs.write_sf_dir(os.path.join(self.work, "floor"),
                                       self.seed, self.tables, "sf0.001")
        floor, _ = self.one_pass(floor_sf)
        layers = {k: sum(r[k] for r in traced) for k in ROLLUPS}
        floor_s = sum(r["wall_s"] for r in floor)
        layers.update({
            "queries.build_s": sum(r["build_s"] for r in traced),
            "queries.exec_s": sum(r["exec_s"] for r in traced),
            "queries.floor_s": floor_s,
            "queries.data_s":
                sum(r["wall_s"] for r in traced) - overhead - floor_s,
            "trace.overhead_s": overhead,
        })
        by_name = {r["query"]: r for r in traced}
        for q in DRIVER_HEAVY:
            layers[f"q.{q}.build_s"] = by_name[q]["build_s"]
            layers[f"q.{q}.jobs"] = by_name[q]["spark.jobs"]
        # the traced pass only: the floor pass calls them too
        pl = tracer.totals("polygonize.propagate_labels", pass_span)
        layers.update({
            "polygonize.propagate_labels_s": pl["s"],
            "polygonize.propagate_labels_calls": pl["calls"],
            "polygonize.propagate_labels_jobs": pl["jobs"],
            "polygonize.label_pixels_s":
                tracer.totals("polygonize.label_pixels", pass_span)["s"],
        })
        kj = tracer.totals("knn.knn_join", pass_span)
        layers.update({"knn.knn_join_s": kj["s"],
                       "knn.knn_join_jobs": kj["jobs"]})
        if self.ckpt.calls:
            layers.update(
                self.checkpoint_layers(tracer, self.ckpt.calls[0][0]))
        self.record.update(trace_queries=traced + extra, floor_queries=floor)
        return layers

    def checkpoint_layers(self, tracer: Tracer, root: str) -> dict:
        """Commit cost and write amplification of the traced pass's
        run_checkpointed calls, from their spans and the files they left."""
        commits = [s for s in tracer.spans
                   if s["name"] == "checkpoint.run_checkpointed"]
        if not commits:
            return {}
        rows = sum(s["result"]["rows_written"] for s in commits)
        computed = sum(input_records(self.sc, s["group"]) for s in commits)
        files = size = keys = 0
        for d, _, names in os.walk(os.path.join(root, "data")):
            parts = [n for n in names if n.endswith(".parquet")]
            files += len(parts)
            size += sum(os.path.getsize(os.path.join(d, n)) for n in parts)
            keys += bool(parts)
        rc = tracer.totals("checkpoint.run_checkpointed")
        return {
            "checkpoint.run_checkpointed_s": rc["s"],
            "checkpoint.jobs_per_commit": rc["jobs"] / rc["calls"],
            "checkpoint.files_written": files,
            "checkpoint.files_per_key": files / max(1, keys),
            "checkpoint.bytes_per_row": size / max(1, rows),
            "checkpoint.rows_computed_per_row_written":
                computed / max(1, rows),
            "checkpoint.read_committed_s":
                tracer.totals("checkpoint.read_committed")["s"],
        }


class CkptResume:
    """The suite's write-and-resume operation: per-page tile assignments
    (url, cell_id, z4 tile key, extracted_text) of the replicated pages,
    committed with ``checkpoint.run_checkpointed`` keyed by tile, first
    over half the keys (a run that died), then resumed; the read-back is
    the returned DataFrame. Called like a contract query:
    (spark, sf_dir) -> DataFrame. The pages keep ``replicated_pages``'
    partitioning, so the files written scale with partitions x keys."""

    KEY = "tile"
    REPLICATE = 1

    def __init__(self, work: str):
        self.work = work
        self.calls: list[tuple[str, str]] = []  # (root, sf_dir) per call

    def assignments(self, spark, sf: str):
        from pyspark.sql import functions as F

        from gdal_spark import benchjob, cells
        from gdal_spark.extract import geocode_pages_jvm
        from gdal_spark.pipeline import CELL_ZOOM

        pages = benchjob.replicated_pages(spark, sf, self.REPLICATE)
        geo = geocode_pages_jvm(pages).filter(F.col("lat").isNotNull())
        tile = (cells.tile_x_col("lon", TILE_Z) * (1 << TILE_Z)
                + cells.tile_y_col("lat", TILE_Z))
        return geo.select(
            "url",
            cells.cell_id_col("lon", "lat", CELL_ZOOM).alias("cell_id"),
            tile.cast("long").alias(self.KEY),
            "extracted_text")

    def __call__(self, spark, sf: str):
        from gdal_spark import checkpoint

        root = os.path.join(self.work, f"ckpt-{len(self.calls)}")
        self.calls.append((root, sf))
        df = self.assignments(spark, sf)
        checkpoint.run_checkpointed(df, root, self.KEY,
                                    key_filter=f"{self.KEY} % 2 = 0")
        checkpoint.run_checkpointed(df, root, self.KEY)
        return checkpoint.read_committed(spark, root, self.KEY)

    def fingerprints(self, df, like) -> dict:
        """(rows, order-independent xxhash64 sum) per key, hashed over the
        columns and types of ``like`` in the lineage's column order."""
        from pyspark.sql import functions as F

        cols = [self.KEY] + [c for c in like.columns if c != self.KEY]
        df = df.select(*(F.col(c).cast(t) for c, t in
                         like.select(*cols).dtypes))
        rows = df.groupBy(self.KEY).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("fp")
        ).collect()
        return {r[self.KEY]: (r["n"], int(r["fp"])) for r in rows}

    def check(self, readback) -> None:
        """Read-back rows and per-key fingerprints of the first call
        against its lineage rows and the assignments computed directly.
        Raises Failure on a mismatch."""
        from gdal_spark import checkpoint

        spark = readback.sparkSession
        root, sf = self.calls[0]
        direct_df = self.assignments(spark, sf)
        back = self.fingerprints(readback, direct_df)
        lin = {r[self.KEY]: (r["n_rows"], int(r["fingerprint"]))
               for r in checkpoint.lineage(spark, root).collect()}
        direct = self.fingerprints(direct_df, direct_df)
        if not back or back != lin or back != direct:
            def differ(a, b):
                return sum(a.get(k) != b.get(k) for k in a.keys() | b)

            raise Failure(f"of {len(direct)} keys, read-back (rows,"
                          f" fingerprint) differ from lineage on"
                          f" {differ(back, lin)} and from the direct"
                          f" computation on {differ(back, direct)}")


WORKLOADS = {"pages_zonal": PagesZonal, "query_suite": QuerySuite}
