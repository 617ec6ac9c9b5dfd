"""The workloads: what one job is, and how its output is checked.

A workload runs in rounds. A round is one job, except in ``query_mix``,
where a round is one pass over the seeded order of its declared queries
and each query is one job. Every job ends in an action that returns its
(small) result to the driver, and every job's result is checked against an
expectation computed outside the timed region.
"""

from __future__ import annotations

import hashlib
import os
import shutil

import numpy as np

from layerbench import inputs, observe

# the declared queries of query_mix: the pages, pip_join and zonal queries,
# the cheapest pure-JVM queries as fixed-cost probes, and checkpoint_resume,
# the declared query of plans.checkpointing. The raster queries are left to
# tile_raster, which runs the same operators at scale.
QUERY_MIX = [
    "cell_assign", "count_by_lang", "salted_agg", "pip_join", "zonal_stats",
    "checkpoint_resume",
]

# input size per workload; "smoke" is the self-test's
SIZES = {
    "full": {
        "geo_zonal": {"docs": 5000, "factor": 100},
        "geo_join_write": {"docs": 5000, "factor": 20},
        "tile_raster": {"width": 2048, "height": 1024, "timesteps": 2},
        "query_mix": {"docs": 500},
    },
    "smoke": {
        "geo_zonal": {"docs": 50, "factor": 2},
        "geo_join_write": {"docs": 50, "factor": 2},
        "tile_raster": {"width": 512, "height": 256, "timesteps": 1},
        "query_mix": {"docs": 500},
    },
}

N_BUCKETS = 16


def frame_hash(pdf) -> str:
    """The oracle gate's order-insensitive value hash."""
    from tools.check_entry import value_hash

    return value_hash(pdf)


def zone_case_sql(polygons, lon="lon", lat="lat", value=True) -> str:
    """Burn-order zone assignment (highest feature id wins) as SQL."""
    from trefoil_spark.geometry import pip_sql_expr

    whens = []
    for fid in reversed(range(len(polygons))):
        then = f"'{polygons[fid].value}'" if value else str(fid)
        whens.append(f"WHEN {pip_sql_expr(lon, lat, polygons[fid])} THEN {then}")
    return f"CASE {' '.join(whens)} END"


def duck_pages_sql(factor: int) -> str:
    """The scaled pages table of ``build_pages_scaled``, in DuckDB."""
    from trefoil_spark.sources.pages import pages_cte_sql

    scaled = (
        f"SELECT d.doc_id * {factor} + r.rep AS doc_id, d.text, d.lang, d.source "
        f"FROM documents d, (SELECT range AS rep FROM range({factor})) r"
    )
    return pages_cte_sql(f"({scaled})")


def pip_extra(con, pages_sql: str, polygons, calls: int = 1) -> dict:
    """Rows that need the exact refine, and the covering index size, for
    ``calls`` pip_join calls over the pages of ``pages_sql``."""
    from layerbench.layers import boundary_rows
    from trefoil_spark.operators.pip_join import build_covering_index

    pts = con.execute(f"WITH pages AS ({pages_sql}) SELECT lon, lat FROM pages").fetchnumpy()
    index = build_covering_index(polygons)
    return {
        "boundary_rows": calls * boundary_rows(pts["lon"], pts["lat"], index),
        "covering_cells": len(index["coarse"]) + len(index["fine"]),
    }


class Workload:
    name = ""
    eager = False  # jobs end in eager engine calls, not in an action
    settle_rounds = 2  # discarded rounds between warm-up and timed rounds

    def __init__(self, size: dict):
        self.size = size

    def write_inputs(self, work: str, seed: int) -> None:
        self.data_dir = os.path.join(work, "data")
        if self.docs_count():
            inputs.write_documents(self.data_dir, self.docs_count(), seed)

    def docs_count(self) -> int:
        return self.size.get("docs", 0)

    def setup(self, ctx) -> None:
        """Seeded engine inputs; runs inside the set-up clock."""

    def round_jobs(self) -> list[str]:
        return [self.name]

    def run_job(self, ctx, job: str):
        raise NotImplementedError

    def expect(self) -> None:
        """Compute the expected outputs (outside every timed region)."""

    def check(self, job: str, out) -> str | None:
        """None when ``out`` is correct, else what is wrong."""
        raise NotImplementedError

    def cleanup(self, index: int) -> None:
        """Undo a job's side effects (outside the timed region)."""

    def work_units(self) -> dict:
        """Input units of one round: rows, megapixels or queries."""
        return {}

    def layer_extra(self) -> dict:
        """Per-layer values computed from the inputs (traced runs only)."""
        return {}

    def duck(self):
        import duckdb

        con = duckdb.connect()
        if self.docs_count():
            path = os.path.join(self.data_dir, "documents.parquet")
            con.execute(f"CREATE VIEW documents AS SELECT * FROM '{path}'")
        return con


class GeoZonal(Workload):
    """pages (scaled) -> pip_join -> zonal_statistics -> collect."""

    name = "geo_zonal"

    def setup(self, ctx):
        self.polygons = inputs.zone_layer(ctx.seed)

    def work_units(self):
        return {"rows": self.size["docs"] * self.size["factor"]}

    def run_job(self, ctx, job):
        from pyspark.sql import functions as F

        from trefoil_spark.operators import pip_join, zonal
        from trefoil_spark.sources import pages

        df = pages.build_pages_scaled(ctx.spark, self.data_dir, self.size["factor"])
        slim = df.select("lat", "lon", F.length("text").alias("n_chars"))
        joined = pip_join.pip_join(slim, self.polygons)
        stats = zonal.zonal_statistics(joined, "zone_value", "n_chars")
        return ctx.action(stats, pandas=True)

    def expect(self):
        from trefoil_spark.operators.zonal import VALID_ZONAL_STATISTICS, zonal_stat_sql

        stats = ", ".join(
            f"CAST({zonal_stat_sql(s, 'n_chars')} AS BIGINT) AS {s}" if s == "sum"
            else f"{zonal_stat_sql(s, 'n_chars')} AS {s}"
            for s in VALID_ZONAL_STATISTICS
        )
        sql = f"""
            WITH pages AS ({duck_pages_sql(self.size['factor'])}),
            z AS (SELECT {zone_case_sql(self.polygons)} AS zone_value,
                         LENGTH(text) AS n_chars FROM pages)
            SELECT zone_value, {stats} FROM z
            WHERE zone_value IS NOT NULL GROUP BY zone_value
        """
        self.expected = frame_hash(self.duck().execute(sql).df())

    def check(self, job, out):
        got = frame_hash(out)
        return None if got == self.expected else f"zonal hash {got} != {self.expected}"

    def layer_extra(self):
        return pip_extra(self.duck(), duck_pages_sql(self.size["factor"]), self.polygons)


class GeoJoinWrite(Workload):
    """pages (scaled, url and text kept) -> pip_join -> checkpointed_write of
    half the buckets, then a restarted write of the full table."""

    name = "geo_join_write"
    eager = True

    def setup(self, ctx):
        self.polygons = inputs.zone_layer(ctx.seed)
        self.out_root = os.path.join(ctx.work, "written")

    def work_units(self):
        return {"rows": self.size["docs"] * self.size["factor"]}

    def job_dir(self, index: int) -> str:
        return os.path.join(self.out_root, str(index))

    def run_job(self, ctx, job):
        from pyspark.sql import functions as F

        from trefoil_spark.operators import pip_join
        from trefoil_spark.plans import checkpointing
        from trefoil_spark.sources import pages

        base = self.job_dir(ctx.job_index)
        df = pages.build_pages_scaled(ctx.spark, self.data_dir, self.size["factor"])
        joined = pip_join.pip_join(df, self.polygons).select(
            "doc_id", "url", "text", "zone_value",
            (F.col("doc_id") % N_BUCKETS).alias("bucket"),
        )
        out, ledger = f"{base}/out", f"{base}/ledger"
        first = checkpointing.checkpointed_write(
            joined.filter(F.col("bucket") < N_BUCKETS // 2), out, ledger, "s1", ["bucket"]
        )
        restart = checkpointing.checkpointed_write(joined, out, ledger, "s1", ["bucket"])
        return {"first": first, "restart": restart, "dir": base}

    def expect(self):
        con = self.duck()
        con.execute(
            f"""CREATE TABLE expected AS
            WITH pages AS ({duck_pages_sql(self.size['factor'])})
            SELECT doc_id, url, text, {zone_case_sql(self.polygons)} AS zone_value,
                   doc_id % {N_BUCKETS} AS bucket
            FROM pages"""
        )
        con.execute("DELETE FROM expected WHERE zone_value IS NULL")
        self.con = con
        self.expected_rows, self.first_rows, self.logical_bytes = con.execute(
            f"""SELECT COUNT(*), COUNT(*) FILTER (WHERE bucket < {N_BUCKETS // 2}),
                       SUM(16 + STRLEN(url) + STRLEN(text)
                           + STRLEN(zone_value))
                FROM expected"""
        ).fetchone()
        self.expected_keys = con.execute(
            "SELECT COUNT(DISTINCT bucket) FROM expected"
        ).fetchone()[0]

    def check(self, job, out):
        first, restart, base = out["first"], out["restart"], out["dir"]
        half = self.expected_keys - N_BUCKETS // 2
        problems = []
        if first["skipped_keys"] != 0 or first["written_rows"] != self.first_rows:
            problems.append(f"first write {first}")
        if restart["skipped_keys"] != first["written_keys"]:
            problems.append(f"restart skipped {restart['skipped_keys']} keys, "
                            f"committed {first['written_keys']}")
        if restart["written_keys"] != half or (
            first["written_rows"] + restart["written_rows"] != self.expected_rows
        ):
            problems.append(f"restart write {restart}")
        glob = f"{base}/out/*/*.parquet"
        n_rows, n_urls, bad_text, bad_zone, missing = self.con.execute(
            f"""WITH o AS (SELECT * FROM read_parquet('{glob}', hive_partitioning = true))
            SELECT (SELECT COUNT(*) FROM o), (SELECT COUNT(DISTINCT url) FROM o),
                   (SELECT COUNT(*) FROM o JOIN expected e USING (url)
                    WHERE o.text IS DISTINCT FROM e.text),
                   (SELECT COUNT(*) FROM o JOIN expected e USING (url)
                    WHERE o.zone_value IS DISTINCT FROM e.zone_value),
                   (SELECT COUNT(*) FROM expected e ANTI JOIN o USING (url))"""
        ).fetchone()
        if n_rows != self.expected_rows or n_urls != n_rows or missing:
            problems.append(f"output rows {n_rows} (distinct urls {n_urls}, "
                            f"missing {missing}), expected {self.expected_rows}")
        if bad_text or bad_zone:
            problems.append(f"{bad_text} texts and {bad_zone} zones differ from input")
        ledger_keys = self.con.execute(
            f"SELECT COUNT(DISTINCT key) FROM read_parquet('{base}/ledger/*.parquet')"
        ).fetchone()[0]
        if ledger_keys != self.expected_keys:
            problems.append(f"ledger holds {ledger_keys} keys")
        out["bytes"], _ = observe.disk_usage(base)
        return "; ".join(problems) or None

    def write_amp(self, out) -> float:
        return out["bytes"] / self.logical_bytes

    def layer_extra(self):
        return pip_extra(self.con, duck_pages_sql(self.size["factor"]), self.polygons)

    def cleanup(self, index):
        shutil.rmtree(self.job_dir(index), ignore_errors=True)


class TileRaster(Workload):
    """synthetic tiles -> rasterize + tile zonal stats; classified histogram;
    PNG render; warp to EPSG:3857."""

    name = "tile_raster"

    def setup(self, ctx):
        from trefoil_spark.functions.color import Color
        from trefoil_spark.grid.bbox import BBox
        from trefoil_spark.raster.gridspec import GridSpec
        from trefoil_spark.raster.render import StretchedRenderer

        w, h = self.size["width"], self.size["height"]
        region = BBox(inputs.REGION, "EPSG:4326")  # dyadic pixels: exact centres
        self.spec = GridSpec.from_bbox(region, width=w, height=h)
        self.dst = GridSpec.from_bbox(region.project("EPSG:3857"), width=w, height=h)
        self.polygons = inputs.zone_layer(ctx.seed)
        self.breaks = inputs.class_breaks(ctx.seed)
        self.var = f"v{ctx.seed}"
        self.renderer = StretchedRenderer(
            [(0.0, Color(0, 0, 0)), (999.0, Color(255, 255, 255))],
            colorspace="rgb", palette_size=90,
        )

    def work_units(self):
        s = self.size
        return {"mpix": s["width"] * s["height"] * s["timesteps"] / 1e6}

    def run_job(self, ctx, job):
        from pyspark.sql import functions as F

        from trefoil_spark.raster import classify, rasterize, render, synth, warp, window_ops
        from trefoil_spark.raster import zonal as raster_zonal

        spark, breaks = ctx.spark, self.breaks
        tiles = synth.synthetic_tiles(spark, self.spec, self.size["timesteps"], var=self.var)
        zones = rasterize.rasterize_zones(spark, self.spec, self.polygons)
        stats = raster_zonal.tile_zonal_statistics(tiles, zones)
        hist = window_ops.tile_histogram(
            tiles, transform=lambda b: classify.classify_block(b, breaks)
        )
        pngs = render.render_tiles(tiles, self.renderer).select(
            "t", "ty", "tx", F.md5("png").alias("md5"), F.length("png").alias("n")
        )
        warped = warp.warp_tiles(spark, tiles, self.spec, self.dst, var=self.var).select(
            "t", "ty", "tx", F.md5("block").alias("md5")
        )
        return {
            "zonal": ctx.action(stats, pandas=True),
            "hist": ctx.action(hist),
            "render": ctx.action(pngs),
            "warp": ctx.action(warped),
        }

    def expect(self):
        from trefoil_spark.raster.classify import classify_sql
        from trefoil_spark.raster.synth import block_values, value_sql
        from trefoil_spark.raster.warp import warp_tile_numpy

        spec, n_t = self.spec, self.size["timesteps"]
        con = self.duck()
        # the zone of each pixel centre once, then every timestep's values
        con.execute(f"""CREATE TABLE px AS
            SELECT y, x, {zone_case_sql(self.polygons, value=False)} AS zone FROM (
                SELECT y, x, {spec.lon_sql('x')} AS lon, {spec.lat_sql('y')} AS lat FROM (
                    SELECT CAST(i // {spec.width} AS BIGINT) AS y,
                           CAST(i % {spec.width} AS BIGINT) AS x
                    FROM (SELECT UNNEST(range({spec.width * spec.height})) AS i)))""")
        values = f"""SELECT zone, {value_sql('y', 'x', 't')} AS v
            FROM px, (SELECT CAST(range AS BIGINT) AS t FROM range({n_t}))"""
        self.expected_zonal = frame_hash(con.execute(f"""
            WITH z AS ({values})
            SELECT zone, SUM(v) / COUNT(v) AS mean, MIN(v) AS min, MAX(v) AS max,
                   SQRT(SUM(v*v)/COUNT(v) - (SUM(v)/COUNT(v))*(SUM(v)/COUNT(v))) AS std,
                   SUM(v) AS sum, COUNT(v) AS count
            FROM z WHERE zone IS NOT NULL AND v IS NOT NULL GROUP BY zone""").df())
        self.expected_hist = dict(con.execute(f"""
            WITH z AS ({values})
            SELECT CAST({classify_sql('v', self.breaks)} AS BIGINT) AS c, COUNT(*)
            FROM z WHERE v IS NOT NULL GROUP BY c""").fetchall())
        self.expected_png, self.expected_warp = {}, {}
        for t in range(n_t):
            rows = [[block_values(spec, t, ty, tx) for tx in range(spec.ntiles_x)]
                    for ty in range(spec.ntiles_y)]
            for ty, row in enumerate(rows):
                for tx, blk in enumerate(row):
                    png = self.renderer.render_png(blk.astype(np.float64))
                    self.expected_png[(t, ty, tx)] = hashlib.md5(png).hexdigest()
            full = np.vstack([np.hstack(row) for row in rows])
            for ty in range(self.dst.ntiles_y):
                for tx in range(self.dst.ntiles_x):
                    out = warp_tile_numpy(full, spec, self.dst, ty, tx)
                    self.expected_warp[(t, ty, tx)] = hashlib.md5(out.tobytes()).hexdigest()

    def check(self, job, out):
        problems = []
        got = frame_hash(out["zonal"])
        if got != self.expected_zonal:
            problems.append(f"zonal hash {got} != {self.expected_zonal}")
        hist = {int(r["value"]): int(r["count"]) for r in out["hist"]}
        if hist != self.expected_hist:
            problems.append(f"histogram {hist} != {self.expected_hist}")
        png = {(r["t"], r["ty"], r["tx"]): r["md5"] for r in out["render"]}
        if png != self.expected_png:
            problems.append(f"{sum(png.get(k) != v for k, v in self.expected_png.items())} PNGs differ")
        warped = {(r["t"], r["ty"], r["tx"]): r["md5"] for r in out["warp"]}
        if warped != self.expected_warp:
            problems.append(
                f"{sum(warped.get(k) != v for k, v in self.expected_warp.items())} warped tiles differ"
            )
        return "; ".join(problems) or None


class QueryMix(Workload):
    """A seeded round-robin of declared queries; one query is one job."""

    name = "query_mix"
    # its warm-up round already ran every query once, and a warm round
    # takes 6-8 s: a settle round would push a run past its time budget
    settle_rounds = 0

    def setup(self, ctx):
        import __spark_entry__

        self.entry = __spark_entry__
        self.order = inputs.query_order(QUERY_MIX, ctx.seed)

    def round_jobs(self):
        return list(self.order)

    def run_job(self, ctx, job):
        fn = getattr(self.entry, f"q_{job}")
        with ctx.tracer.span(f"entry.{job}"):
            df = fn(ctx.spark, self.data_dir)
        return ctx.action(df, pandas=True)

    def expect(self):
        con = self.duck()
        oracle = self.entry.oracle_sql()
        self.expected = {q: frame_hash(con.execute(oracle[q]).df()) for q in QUERY_MIX}

    def check(self, job, out):
        got = frame_hash(out)
        return None if got == self.expected[job] else f"{job} hash {got} != {self.expected[job]}"

    def layer_extra(self):
        from trefoil_spark.sources.pages import pages_cte_sql
        from trefoil_spark.sources.zones import ZONE_LAYER

        # pip_join and zonal_stats each join the pages to the fixture layer
        return pip_extra(self.duck(), pages_cte_sql("documents"), ZONE_LAYER, calls=2)


WORKLOADS = {w.name: w for w in (GeoZonal, GeoJoinWrite, TileRaster, QueryMix)}
