"""The benchmark workloads: one user job each.

``raster_extract`` and ``page_extract`` are listed in BENCHMARK.json;
``webtext`` runs on request, and its layers are traced inside the traced
``page_extract`` run.

A workload makes its inputs once, then ``run`` executes one complete job
into a fresh output directory and ``check`` compares that output with the
oracle. ``traced`` re-runs the job's layers one prefix at a time, each
forced through Spark's ``noop`` sink inside its own span, and then the
whole job inside a ``job`` span. A layer's self time is its prefix time
minus the prefix times of the layers it consumes.
"""

from __future__ import annotations

import contextlib
import inspect
import io
import os
import time

from pyspark.sql import Observation, functions as F

import inputs
import oracle

BUFFERS = [700, 1000, 10000]


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _noop_count(df, agg=None) -> int:
    """Force ``df`` through the noop sink; returns its row count, or the
    value of ``agg`` over its rows."""
    obs = Observation()
    agg = F.count(F.lit(1)) if agg is None else agg
    _noop(df.observe(obs, agg.alias("n")))
    return int(obs.get["n"])


def _rows(span: dict, *names: str) -> list[int]:
    return [r for n, r in span["nodes"] if n in names]


def _quiet(fn, *args):
    """Call a job's ``main``; its one-line JSON summary is not ours."""
    with contextlib.redirect_stdout(io.StringIO()):
        return fn(*args)


class Workload:
    name = ""
    LAYER_METRICS: tuple[str, ...] = ()
    n_items = 0

    def __init__(self, work: str, seed: int, cpus: int):
        self.work, self.seed, self.cpus = work, seed, cpus

    def make_inputs(self) -> None:
        """Inputs that need no Spark session."""

    def run(self, spark, out: str) -> None:
        raise NotImplementedError

    def check(self, out: str, rng):
        raise NotImplementedError

    def traced(self, tr, out: str) -> dict:
        raise NotImplementedError


class RasterExtract(Workload):
    """Mirrors ``jobs/raster_extract_job.py`` (which stops its session)."""

    name = "raster_extract"
    LAYER_METRICS = ("sources.geotiff.tile_table_s", "sources.geotiff.tiles",
                     "operators.zonal.point_tile_ids_s",
                     "operators.zonal.tile_pairs_per_point",
                     "operators.zonal.hot_tiles",
                     "operators.zonal.buffered_stats_tiled_s")
    n_items = 200_000
    tile_px = 256

    def make_inputs(self):
        self.pts = inputs.write_points(os.path.join(self.work, "points"),
                                       self.seed, self.n_items,
                                       n_files=self.cpus)
        self.tif = inputs.cached_raster_tif(self.tile_px)

    def _plan(self, spark):
        from air_health_gis_tools_spark.operators.zonal import _radius_px_at
        from air_health_gis_tools_spark.sources.geotiff import read_ifd
        info = read_ifd(self.tif)
        xres = int(round(abs(info.transform[1]))) if info.transform else 1000
        rmax = max(_radius_px_at(b, xres) for b in BUFFERS)
        if 2 * rmax + 1 > info.tile_h:
            raise SystemExit(f"max buffer spans {2 * rmax + 1} px > tile")
        kw = dict(tile_px=info.tile_h, height=info.height, width=info.width,
                  xres=xres)
        return spark.read.parquet(self.pts["path"]), rmax, kw

    def run(self, spark, out):
        from air_health_gis_tools_spark.operators.zonal import \
            buffered_stats_tiled
        from air_health_gis_tools_spark.sources.geotiff import \
            geotiff_tile_table
        pts, _, kw = self._plan(spark)
        tiles = geotiff_tile_table(spark, self.tif,
                                   n_partitions=self.cpus * 4)
        res = buffered_stats_tiled(pts, tiles, BUFFERS, **kw)
        res.write.mode("overwrite").parquet(out)
        return spark.read.parquet(out).count()

    def check(self, out, rng):
        df = oracle.read_parquet(out)
        return oracle.check_zonal(df, self.pts["ids"], self.pts["x"],
                                  self.pts["y"], BUFFERS, 2000, rng,
                                  "zonal_tiled")

    def traced(self, tr, out):
        from air_health_gis_tools_spark.operators.zonal import (
            buffered_stats_tiled, point_tile_ids)
        from air_health_gis_tools_spark.sources.geotiff import \
            geotiff_tile_table
        spark = tr.spark
        pts, rmax, kw = self._plan(spark)
        tiles = geotiff_tile_table(spark, self.tif,
                                   n_partitions=self.cpus * 4)
        keyed = point_tile_ids(pts.select("doc_id", "x", "y"), rmax,
                               kw["tile_px"], height=kw["height"],
                               width=kw["width"], xres=kw["xres"])
        tr.best("scan.points", lambda: _noop(pts))
        n_tiles, _ = tr.best("sources.geotiff.tile_table",
                             lambda: _noop_count(tiles))
        n_pairs, _ = tr.best("operators.zonal.point_tile_ids",
                             lambda: _noop_count(keyed))
        # tiles past the operator's own salting threshold
        hot_rows = inspect.signature(buffered_stats_tiled).parameters[
            "hot_group_rows"].default
        n_hot = (keyed.groupBy("tile_id").count()
                 .filter(F.col("count") > hot_rows).count())

        def tiled():
            spark.catalog.clearCache()   # the operator persists partials
            _noop(buffered_stats_tiled(pts, tiles, BUFFERS, **kw))
        tr.best("operators.zonal.buffered_stats_tiled", tiled)
        spark.catalog.clearCache()
        with tr.span("job"):
            self.run(spark, out)
        p = {s["name"]: s["wall_s"] for s in tr.spans}
        return {
            "sources.geotiff.tile_table_s": p["sources.geotiff.tile_table"],
            "sources.geotiff.tiles": n_tiles,
            "operators.zonal.point_tile_ids_s":
                p["operators.zonal.point_tile_ids"] - p["scan.points"],
            "operators.zonal.tile_pairs_per_point": n_pairs / self.n_items,
            "operators.zonal.hot_tiles": n_hot,
            "operators.zonal.buffered_stats_tiled_s":
                p["operators.zonal.buffered_stats_tiled"]
                - p["operators.zonal.point_tile_ids"]
                - p["sources.geotiff.tile_table"],
        }


class PageExtract(Workload):
    """``jobs.extract_job.main`` on a pages parquet table."""

    name = "page_extract"
    LAYER_METRICS = ("functions.geocode.with_xy_s",
                     "functions.cells.hex_cell_expr_s",
                     "plans.pipeline.extract_pipeline_s",
                     "plans.pipeline.strategy",
                     "operators.zonal.buffered_stats_s",
                     "operators.knn.knn_cell_join_s",
                     "operators.knn.candidates_per_point",
                     "operators.pip.pip_circle_counts_s",
                     "operators.pip.hit_ratio", "plans.lineage.run_stage_s")
    n_items = 40_000
    # extract_job's own defaults, repeated by the traced mirror
    salt_buckets = 64
    resume_buckets = 8

    def make_inputs(self):
        self.pages = inputs.write_pages(os.path.join(self.work, "pages"),
                                        self.seed, self.n_items,
                                        n_files=self.cpus)

    def run(self, spark, out):
        from jobs import extract_job
        _quiet(extract_job.main, ["--pages", self.pages["path"],
                                  "--output", f"{out}/out",
                                  "--checkpoint", f"{out}/ckpt"])

    def check(self, out, rng):
        p = self.pages
        zon = oracle.read_parquet(f"{out}/ckpt", columns=["doc_id"] + [
            f"{s}_{b}" for b in BUFFERS
            for s in ("mean", "min", "max", "n_valid")])
        res = [oracle.check_zonal(zon, p["ids"], p["x"], p["y"], BUFFERS,
                                  2000, rng, "zonal_broadcast"),
               oracle.check_knn(oracle.read_parquet(f"{out}/out/knn"),
                                p["ids"], p["x"], p["y"], 5000, rng),
               oracle.check_pip(oracle.read_parquet(f"{out}/out/pip"),
                                p["x"], p["y"])]
        if os.path.isdir(f"{out}/warc_probe"):
            res.append(self.probe.check(f"{out}/warc_probe", rng))
        return (sum(r[0] for r in res), sum(r[1] for r in res),
                [n for r in res for n in r[2]])

    def traced(self, tr, out):
        from air_health_gis_tools_spark.functions.cells import hex_cell_expr
        from air_health_gis_tools_spark.functions.geocode import with_xy
        from air_health_gis_tools_spark.operators.pip import (
            CELL_M_DEFAULT, polygon_cover_cells)
        from air_health_gis_tools_spark.plans.lineage import (CheckpointStore,
                                                              run_stage)
        from air_health_gis_tools_spark.plans.pipeline import extract_pipeline
        from air_health_gis_tools_spark.plans.queries import (monitors_df,
                                                              polys_df)
        from air_health_gis_tools_spark.sources.pages import page_id_expr_sql
        spark = tr.spark
        read = lambda: spark.read.parquet(self.pages["path"])  # noqa: E731
        pages = read().withColumn("doc_id",
                                  F.expr(page_id_expr_sql("spark")))
        geo = with_xy(pages, id_col="doc_id")
        hexes = geo.select("doc_id", *[hex_cell_expr(r).alias(f"h{r}")
                                       for r in (7, 8, 9)])
        res = extract_pipeline(read(), monitors_df(spark), polys_df(spark),
                               buffers_m=BUFFERS,
                               salt_buckets=self.salt_buckets)
        zon = res["zonal"].withColumn("bucket", F.pmod(
            F.xxhash64("url"), F.lit(self.resume_buckets)))
        ckpts = iter(range(1000))

        def lineage():
            store = CheckpointStore(f"{out}/trace_ckpt{next(ckpts)}")
            run_stage(zon, "bucket", store,
                      buckets=list(range(self.resume_buckets)))

        # the pages' ingest edge first, so that the job span below and the
        # untraced baseline run after it stay adjacent: the WARC curation
        # job over a crawl segment of this seed
        self.probe = Webtext(os.path.join(self.work, "warc_probe"),
                             self.seed, self.cpus)
        self.probe.make_inputs()
        warc_layers = self.probe.traced(tr, f"{out}/warc_probe",
                                        job_span="jobs.warc_curation_job")
        tr.best("scan.pages", lambda: _noop(pages))
        tr.best("functions.geocode.with_xy", lambda: _noop(geo))
        tr.best("functions.cells.hex_cell_expr", lambda: _noop(hexes))
        _, pipe = tr.best("plans.pipeline.extract_pipeline",
                          lambda: _noop(res["points"]))
        pipe["plan"] = {"strategy": res["plan"].strategy,
                        "reason": res["plan"].reason}
        tr.best("operators.zonal.buffered_stats", lambda: _noop(res["zonal"]))
        _, knn = tr.best("operators.knn.knn_cell_join",
                         lambda: _noop(res["knn"]))
        hits, _ = tr.best("operators.pip.pip_circle_counts",
                          lambda: _noop_count(res["pip"], F.sum("n_points")))
        tr.best("plans.lineage.run_stage", lineage)
        with tr.span("job"):
            self.run(spark, out)
        p = {s["name"]: s["wall_s"] for s in tr.spans}
        pts = p["plans.pipeline.extract_pipeline"]
        # candidate (point, polygon) pairs: points joined to the cells that
        # cover each polygon, under the operator's default cell size
        cm = CELL_M_DEFAULT
        cells = res["points"].select(
            ((F.col("x") / cm).cast("long") * F.lit(1 << 32)
             + (F.col("y") / cm).cast("long")).alias("cell"))
        cand = cells.join(F.broadcast(polygon_cover_cells(polys_df(spark),
                                                          cm)), "cell").count()
        layers = {
            "functions.geocode.with_xy_s":
                p["functions.geocode.with_xy"] - p["scan.pages"],
            "functions.cells.hex_cell_expr_s":
                p["functions.cells.hex_cell_expr"]
                - p["functions.geocode.with_xy"],
            "plans.pipeline.extract_pipeline_s":
                pts - p["functions.cells.hex_cell_expr"],
            "plans.pipeline.strategy":
                STRATEGY_CODES.get(res["plan"].strategy, -1),
            "operators.zonal.buffered_stats_s":
                p["operators.zonal.buffered_stats"] - pts,
            "operators.knn.knn_cell_join_s":
                p["operators.knn.knn_cell_join"] - pts,
            "operators.knn.candidates_per_point":
                sum(_rows(knn, "BroadcastHashJoin")) / self.n_items,
            "operators.pip.pip_circle_counts_s":
                p["operators.pip.pip_circle_counts"] - pts,
            "operators.pip.hit_ratio": hits / cand if cand else 0.0,
            "plans.lineage.run_stage_s":
                p["plans.lineage.run_stage"]
                - p["operators.zonal.buffered_stats"],
        }
        layers.update(warc_layers)
        return layers


# plans.pipeline.strategy is reported as a number
STRATEGY_CODES = {"broadcast": 1, "tiled": 2, "convolve_all": 3}

_SCAN_NODES = ("MapInPandas", "MapInArrow", "PythonMapInArrow")


class Webtext(Workload):
    """``jobs.warc_curation_job.main`` on a member-gzip WARC segment."""

    name = "webtext"
    LAYER_METRICS = ("sources.warc.read_warc_s", "sources.warc.records",
                     "sources.warc.scans_per_run",
                     "functions.html_text.html_to_text_udf_s",
                     "functions.html_text.extract_text_docs_per_s",
                     "functions.url.canonicalize_url_udf_s")
    n_items = 4_000
    n_files = 8

    def make_inputs(self):
        self.caps = inputs.webtext_captures(self.seed, self.n_items)
        self.paths = inputs.write_warc_segment(
            os.path.join(self.work, "warc"), self.caps, self.n_files)
        self.expected = inputs.curated_oracle(self.caps)

    def run(self, spark, out):
        from jobs import warc_curation_job
        _quiet(warc_curation_job.main, [
            "--warc-glob", os.path.join(self.work, "warc", "*.warc.gz"),
            "--output", out])

    def check(self, out, rng):
        return oracle.check_curated(
            oracle.read_parquet(f"{out}/curated", ["url_norm", "text"]),
            self.expected)

    def traced(self, tr, out, job_span: str = "job"):
        from air_health_gis_tools_spark.functions.html_text import (
            extract_text, html_to_text_udf)
        from air_health_gis_tools_spark.functions.url import \
            canonicalize_url_udf
        from air_health_gis_tools_spark.sources.warc import read_warc
        raw = read_warc(tr.spark, self.paths, responses_only=True)
        pages = (raw.filter(F.col("http_status") == 200)
                 .withColumn("text", html_to_text_udf(F.col("html"))))
        canon = pages.withColumn("_c", canonicalize_url_udf(F.col("url")))
        _, scan = tr.best("sources.warc.read_warc", lambda: _noop(raw))
        tr.best("functions.html_text.html_to_text_udf", lambda: _noop(pages))
        tr.best("functions.url.canonicalize_url_udf", lambda: _noop(canon))
        with tr.span(job_span) as job:
            self.run(tr.spark, out)
        # single-thread driver call on a fixed sample, independent of seed
        docs = inputs.webtext_captures(0, 2000)["html"].tolist()
        n, t0 = 0, time.perf_counter()
        while time.perf_counter() - t0 < 0.5:
            for d in docs:
                extract_text(d)
            n += len(docs)
        docs_per_s = n / (time.perf_counter() - t0)
        p = {s["name"]: s["wall_s"] for s in tr.spans}
        return {
            "sources.warc.read_warc_s": p["sources.warc.read_warc"],
            "sources.warc.records": sum(_rows(scan, *_SCAN_NODES)),
            "sources.warc.scans_per_run":
                sum(1 for r in _rows(job, *_SCAN_NODES) if r > 0),
            "functions.html_text.html_to_text_udf_s":
                p["functions.html_text.html_to_text_udf"]
                - p["sources.warc.read_warc"],
            "functions.html_text.extract_text_docs_per_s": docs_per_s,
            "functions.url.canonicalize_url_udf_s":
                p["functions.url.canonicalize_url_udf"]
                - p["functions.html_text.html_to_text_udf"],
        }


WORKLOADS = {w.name: w for w in (RasterExtract, PageExtract, Webtext)}
