"""The benchmark workloads.

Each workload owns its seeded inputs, one closed-loop pass, an untimed
correctness check, and the layer chain its traced run decomposes. A layer
chain is a list of Spark actions built from the program's public
functions, each one doing the work of the one before plus one layer; a
layer's self time is its action's time minus the previous action's.
"""

from __future__ import annotations

import os
import shutil
import statistics

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from giga_spatial_spark import cells, synth
from giga_spatial_spark.functions.text import extract_geo_entities_py, extract_text_py
from giga_spatial_spark.geometry import GridIndex
from giga_spatial_spark.operators.pip_join import (
    pip_join_native,
    pip_join_rtree,
    zone_cover_df,
)
from giga_spatial_spark.pipeline import (
    PIP_ZOOM,
    TILE_ZOOM,
    enrich,
    enrich_fused,
    entity_points,
    extract_stage,
    salted_count,
)
from giga_spatial_spark.plans.lineage import LineageStage

from . import inputs
from .obs import timed

UNITS = 8  # lineage work units: pmod(xxhash64(key), UNITS)
WARMUP_PASSES = 2


def noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def rollup_rows(df) -> list[tuple]:
    return [tuple(int(v) for v in r) for r in df.collect()]


def _unit(col: str):
    return F.pmod(F.xxhash64(F.col(col)), F.lit(UNITS)).cast("int")


def consume(batches):
    for _ in batches:
        pass
    return iter(())


def _mentions_kernel(batches):
    """html -> (lat, lon) mentions: the text layer of the fused kernel."""
    for pdf in batches:
        lats, lons = [], []
        for h in pdf["html"]:
            for la, lo in extract_geo_entities_py(extract_text_py(h)):
                lats.append(la)
                lons.append(lo)
        yield pd.DataFrame({"lat": lats, "lon": lons}, dtype="float64")


def _tagging_kernel(polys):
    """The fused kernel up to (zone_id, tile), without the rollup."""

    def kernel(batches):
        index = GridIndex(polys)
        for pdf in _mentions_kernel(batches):
            lat, lon = pdf["lat"].to_numpy(), pdf["lon"].to_numpy()
            idx, pid = index.query_points(lon, lat, convex=True)
            tx, ty = cells.tile_xy_np(lon[idx], lat[idx], TILE_ZOOM)
            yield pd.DataFrame(
                {"zone_id": pid.astype(np.int64).astype(np.int32),
                 "tile": cells.pack_tile(tx, ty)}
            )

    return kernel


def _with_tile(df):
    return df.withColumn("tile", cells.tile_id(F.col("lon"), F.col("lat"), TILE_ZOOM))


class Workload:
    name = ""

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.seed = ctx.seed
        self.tracer = ctx.tracer
        self.samples: list[float] = []

    # --- set-up
    def prepare(self) -> None:
        """Generate this seed's inputs."""
        raise NotImplementedError

    def input_digest(self) -> str:
        raise NotImplementedError

    def setup_round(self) -> None:
        self.prepare()
        with self.tracer.span("inputs.verify"):
            if self.ctx.check_pin("inputs", self.input_key(), self.input_digest()) is False:
                raise inputs.DigestMismatch(f"inputs[{self.input_key()}]")

    def warmup(self) -> None:
        # pass times still fall after the first pass (JIT, worker caches)
        for _ in range(WARMUP_PASSES):
            self.run_pass()

    # --- measurement
    def query(self):
        """The DataFrame one pass writes to the noop sink."""
        raise NotImplementedError

    def run_pass(self) -> float:
        tr = self.tracer
        t = self.ctx.clock()
        with tr.span("query.build"):
            df = self.query()
        with tr.span("query.exec"):
            noop(df)
        dt = self.ctx.clock() - t
        self.samples.append(dt)
        return dt

    def output_digest(self) -> str:
        return inputs.rows_digest(rollup_rows(self.query()))

    def summary(self) -> tuple[float, float]:
        """(pass_s.p50, units_per_s)."""
        p50 = statistics.median(self.samples)
        return p50, self.units / p50

    # --- correctness: list of (op name, ok)
    def check(self) -> list[tuple[str, bool]]:
        raise NotImplementedError

    # --- traced decomposition
    def chain(self) -> list[tuple[str, object]]:
        raise NotImplementedError

    def pip_inputs(self):
        """(points with lon/lat, polygons, zoom) this workload's PIP sees."""
        raise NotImplementedError

    def reset(self) -> None:
        self.samples = []

    def lineage_probe(self, tagged) -> dict[str, float]:
        """One LineageStage over this workload's tagged rows (identity
        transform, units = hash of the tile): full run, then a resume after
        half the units were committed."""
        tr, clock = self.tracer, self.ctx.clock
        root = os.path.join(self.ctx.work, "lineage-probe")
        source = tagged.withColumn("unit", _unit("tile"))

        def stage(tag):
            shutil.rmtree(os.path.join(root, tag), ignore_errors=True)
            return LineageStage(os.path.join(root, tag))

        transform_s = timed(lambda: noop(source))
        full = stage("full")
        with tr.span("lineage.run"):
            t = clock()
            full.run(source, lambda df: df)
            run_s = clock() - t
        with tr.span("lineage.completed_units"):
            t = clock()
            full.completed_units()
            completed_s = clock() - t
        resumed = stage("resume")
        resumed.run(source.where(F.col("unit") < UNITS // 2), lambda df: df)
        t = clock()
        redone = resumed.run(source, lambda df: df)
        return {
            "lineage.transform_s": transform_s,
            "lineage.run_s": run_s,
            "lineage.completed_units_s": completed_s,
            "lineage.units_redone": float(redone),
            "lineage.resume_s": clock() - t,
            "lineage.write_bytes_per_unit": dir_bytes(os.path.join(root, "full")) / self.units,
        }

    def input_key(self) -> str:
        return f"{self.name}:{self.seed}"


# ------------------------------------------------------------------ enrich
class EnrichFused(Workload):
    """pipeline.enrich_fused over generated pages, 12 zones, noop sink."""

    name = "enrich_fused"
    n_pages = 48_000

    def __init__(self, ctx):
        super().__init__(ctx)
        self.units = self.n_pages
        self.polys = synth.make_admin_polygons(n_zones=12)
        self.path = os.path.join(ctx.work, "pages")

    def prepare(self) -> None:
        inputs.write_pages(self.spark, self.seed, self.n_pages, self.path)
        self.pages = self.spark.read.parquet(self.path)

    def input_digest(self) -> str:
        return inputs.table_digest(self.pages)

    def query(self):
        return enrich_fused(self.pages, self.polys)

    def check(self):
        ok_pin = self.ctx.check_pin("outputs", self.input_key(), self.output_digest())
        # the modular path (three Python crossings) on a fixed quarter of
        # the pages, against the fused kernel on the same quarter
        quarter = self.pages.where(F.xxhash64("url") % 4 == 0)
        fused_q, modular_q = (
            rollup_rows(fn(quarter, self.polys)) for fn in (enrich_fused, enrich)
        )
        return [("fused_equals_modular", sorted(fused_q) == sorted(modular_q)),
                ("output_digest", ok_pin)]

    def chain(self):
        pages, polys = self.pages, self.polys
        html = pages.select("html")
        return [
            ("sources", lambda: html.select(F.sum(F.length("html"))).collect()),
            ("arrow", lambda: noop(html.mapInPandas(consume, "x int"))),
            ("functions.text",
             lambda: noop(html.mapInPandas(_mentions_kernel, "lat double, lon double"))),
            ("geometry+cells",
             lambda: noop(html.mapInPandas(_tagging_kernel(polys), "zone_id int, tile bigint"))),
            ("pipeline.rollup", lambda: noop(self.query())),
        ]

    def pip_inputs(self):
        pts = entity_points(extract_stage(self.pages)).select("lon", "lat")
        return pts, self.polys, PIP_ZOOM


# --------------------------------------------------------------------- pip
class PipPoints(Workload):
    """Lattice points -> pip_join_rtree vs 200 zones -> tile -> salted rollup."""

    name = "pip_points"
    n_points = 200_000

    def __init__(self, ctx):
        super().__init__(ctx)
        self.units = self.n_points
        self.polys = synth.make_admin_polygons(n_zones=200)

    def prepare(self) -> None:
        self.points = inputs.points(self.spark, self.seed, self.n_points)

    def input_digest(self) -> str:
        return inputs.table_digest(self.points)

    def query(self, join=pip_join_rtree):
        tagged = _with_tile(join(self.points, self.polys, zoom=PIP_ZOOM))
        return salted_count(tagged, ["zone_id", "tile"], "n")

    def check(self):
        ok_pin = self.ctx.check_pin("outputs", self.input_key(), self.output_digest())
        # pip_join_native compiles every zone into one CASE expression whose
        # planning alone takes ~30 s at 200 zones, so the two engines are
        # compared on the same points against every twentieth zone
        polys = {k: v for k, v in self.polys.items() if k % 20 == 0}
        rtree_s, native_s = (
            rollup_rows(_with_tile(join(self.points, polys, zoom=PIP_ZOOM))
                        .groupBy("zone_id", "tile").count())
            for join in (pip_join_rtree, pip_join_native)
        )
        return [("rtree_equals_native", sorted(rtree_s) == sorted(native_s)),
                ("output_digest", ok_pin)]

    def candidates(self):
        cover = zone_cover_df(self.spark, self.polys, PIP_ZOOM)
        pts = self.points.withColumn(
            "__tile", cells.tile_id(F.col("lon"), F.col("lat"), PIP_ZOOM)
        )
        return pts.join(F.broadcast(cover), pts["__tile"] == cover["tile"], "left_semi")

    def chain(self):
        pts, polys = self.points, self.polys
        return [
            # the points are generated in the JVM: no bytes are read from storage
            ("sources", lambda: pts.select(
                F.lit(0), F.sum(F.col("lon") + F.col("lat"))).collect()),
            ("pip_join.cover", lambda: noop(self.candidates())),
            ("arrow", lambda: noop(self.candidates().mapInPandas(consume, "x int"))),
            ("pip_join.refine", lambda: noop(pip_join_rtree(pts, polys, zoom=PIP_ZOOM))),
            ("cells", lambda: noop(_with_tile(pip_join_rtree(pts, polys, zoom=PIP_ZOOM)))),
            ("pipeline.rollup", lambda: noop(self.query())),
        ]

    def pip_inputs(self):
        return self.points, self.polys, PIP_ZOOM


WORKLOADS = {w.name: w for w in (EnrichFused, PipPoints)}


# ----------------------------------------------------------------- helpers
def dir_bytes(root: str) -> int:
    total = 0
    for d, _, files in os.walk(root):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total
