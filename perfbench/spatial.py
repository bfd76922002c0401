"""``spatial_queries``: a seeded mix of operator requests over a point table
cached in Spark memory.

- About 20% of the points sit in the three hot-city cells, so the salted
  and auto joins see skew.
- kNN and dwithin query points fall in dense (hot) and sparse regions, so
  the number of kNN ring expansions varies.
- Polygon sets come from a seeded pool larger than the operators' cover
  cache, so cover-cache hits and misses both run.

Every answer is collected and compared with brute-force numpy over the
same points.
"""

from __future__ import annotations

import statistics
import time

from collections import Counter

import numpy as np
import pandas as pd

from pyspark.sql import functions as F

from geomesa_spark.operators import knn as K
from geomesa_spark.operators import spatial_join as SJ
from geomesa_spark.operators import tiling as TL
from geomesa_spark.sources import synth

from perfbench import checks
from perfbench.layers import OVERLAY_CLASSES, SPATIAL_OPS
from perfbench.overlay import PAIRS_PER_CLASS, overlay_probe

N_POINTS = 200_000
HOT_FRAC = 0.2
POOL_SETS = 24  # > SJ._COVER_CACHE_MAX, so the cover cache both hits and misses
POLYS_PER_SET = 4
KNN_K = 10
KNN_QUERIES = 10
DWITHIN_QUERIES = 5
DWITHIN_DEG = 2.0
TILE_ZOOM = 7
DENSITY_LEVEL = 8


def make_points(seed: int) -> pd.DataFrame:
    rng = np.random.default_rng([seed, 1])
    n = N_POINTS
    lon = rng.uniform(-180.0, 180.0, n)
    lat = rng.uniform(-85.0, 85.0, n)
    hot = rng.random(n) < HOT_FRAC
    which = rng.integers(0, len(synth.HOT_CITIES), n)
    hx = np.asarray([x for _, x, _ in synth.HOT_CITIES])[which]
    hy = np.asarray([y for _, _, y in synth.HOT_CITIES])[which]
    lon = np.where(hot, hx + rng.normal(0.0, 0.2, n), lon)
    lat = np.where(hot, hy + rng.normal(0.0, 0.2, n), lat)
    return pd.DataFrame({"pid": np.arange(n, dtype=np.int64), "lon": lon, "lat": lat})


def polygon_pool(seed: int) -> list[list]:
    """Seeded polygon sets, each with one hot-city cover, so every join
    meets the skewed cells."""
    rng = np.random.default_rng([seed, 2])
    polys = synth.polygons()
    hot = [p for p in polys if p.category == "hot"]
    rest = [p for p in polys if p.category != "hot"]
    pool = []
    for _ in range(POOL_SETS):
        picked = [rest[j] for j in rng.choice(len(rest), POLYS_PER_SET - 1, replace=False)]
        picked.append(hot[int(rng.integers(len(hot)))])
        pool.append(sorted(picked, key=lambda p: p.polygon_id))
    return pool


def query_points(rng, n: int) -> pd.DataFrame:
    """Half near a hot city (dense), half uniform (sparse)."""
    dense = n // 2
    which = rng.integers(0, len(synth.HOT_CITIES), dense)
    lon = np.concatenate(
        [np.asarray([synth.HOT_CITIES[w][1] for w in which]) + rng.normal(0, 0.5, dense), rng.uniform(-170, 170, n - dense)]
    )
    lat = np.concatenate(
        [np.asarray([synth.HOT_CITIES[w][2] for w in which]) + rng.normal(0, 0.5, dense), rng.uniform(-80, 80, n - dense)]
    )
    return pd.DataFrame({"qid": np.arange(n, dtype=np.int64), "lon": lon, "lat": lat})


class SpatialQueries:
    ROUND = len(SPATIAL_OPS)  # one pass over the mix; every run measures whole rounds
    MIN_ROUNDS = 2  # 14 requests: one pass's median moved by ~0.3 between runs of one seed

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.spark = ctx.spark
        self.pool = polygon_pool(ctx.seed)
        self.probe_named: dict = {}
        self.probe_errors: list[str] = []

    # -- set-up -----------------------------------------------------------

    def prepare(self) -> None:
        pdf = make_points(self.ctx.seed)
        self.points_pdf = pdf
        self.points = self.spark.createDataFrame(pdf).repartition(self.ctx.hw["nproc"]).cache()
        self.points.count()

    def warm_up(self) -> None:
        for j, op in enumerate(SPATIAL_OPS):
            self.request(-1 - j, op, None, {})

    def build_reference(self) -> list[str]:
        pdf = self.points_pdf
        self.ref = checks.PointsReference(pdf["pid"].to_numpy(), pdf["lon"].to_numpy(), pdf["lat"].to_numpy())
        self.ref_tiles = self.ref.tiles_equirect(TILE_ZOOM, 1)
        self.ref_density = self.ref.grid_density(DENSITY_LEVEL)
        return []

    # -- the request mix ---------------------------------------------------

    def op_for(self, i: int) -> str:
        """Rounds of the seven ops, each round in a seeded order."""
        rnd, pos = divmod(i, len(SPATIAL_OPS))
        order = np.random.default_rng([self.ctx.seed, 3, rnd]).permutation(len(SPATIAL_OPS))
        return SPATIAL_OPS[int(order[pos])]

    def items_for(self, op: str) -> int:
        return 1

    def _params(self, i: int) -> dict:
        rng = np.random.default_rng([self.ctx.seed, 4, i & 0xFFFFFFFF])
        return {
            "polys": self.pool[int(rng.integers(len(self.pool)))],
            "knn_q": query_points(rng, KNN_QUERIES),
            "dw_q": query_points(rng, DWITHIN_QUERIES),
        }

    def _build(self, op: str, p: dict):
        pts = self.points
        if op == "pip_broadcast":
            return SJ.broadcast_pip_join(pts, p["polys"]).select("pid", "polygon_id")
        if op == "pip_salted":
            return SJ.grid_pip_join(pts, p["polys"], point_key_col="pid").select("pid", "polygon_id")
        if op == "pip_auto":
            return SJ.spatial_join(pts, p["polys"], strategy="auto", point_key_col="pid").select("pid", "polygon_id")
        if op == "knn":
            return K.knn_join(pts, p["knn_q"], KNN_K, metric="planar").select("qid", "pid", "rnk")
        if op == "dwithin":
            return SJ.distance_join(pts, p["dw_q"], DWITHIN_DEG, metric="planar").select("qid", "pid")
        if op == "tiles":
            tiles = TL.tile_counts(pts, zoom=TILE_ZOOM, scheme="equirect")
            return TL.rollup_tiles(tiles, 1).select("zoom", "tile_x", "tile_y", "weight")
        if op == "density":
            return SJ.with_grid_cell(pts, level=DENSITY_LEVEL).groupBy("cell").agg(F.count(F.lit(1)).alias("n"))
        raise ValueError(op)

    def request(self, i: int, op: str, parent: str | None, detail: dict):
        p = self._params(i)
        tracer = self.ctx.tracer if parent is not None else None
        t0 = time.perf_counter()
        if tracer is not None:
            with _OperatorSpans(tracer), tracer.span("build", op=op):
                df = self._build(op, p)
        else:
            df = self._build(op, p)
        t1 = time.perf_counter()
        if tracer is not None:
            with tracer.span("exec", op=op):
                rows = df.collect()
        else:
            rows = df.collect()
        detail["build_s"] = t1 - t0
        detail["exec_s"] = time.perf_counter() - t1
        detail["rows_out"] = len(rows)
        return p, rows

    def check(self, i: int, op: str, answer, detail: dict) -> list[str]:
        p, rows = answer
        ref = self.ref
        if op.startswith("pip_"):
            return checks.check_multiset(ref.pip_pairs(p["polys"]), Counter(rows), op)
        if op == "knn":
            q = p["knn_q"]
            return checks.check_knn(ref.knn(zip(q.qid, q.lon, q.lat), KNN_K), rows)
        if op == "dwithin":
            q = p["dw_q"]
            return checks.check_multiset(ref.dwithin(zip(q.qid, q.lon, q.lat), DWITHIN_DEG), Counter(rows), op)
        if op == "tiles":
            got = Counter({(z, x, y): w for z, x, y, w in rows})
            return checks.check_multiset(self.ref_tiles, got, op)
        if op == "density":
            return checks.check_multiset(self.ref_density, Counter(dict(rows)), op)
        return [f"unknown op {op}"]

    def final_check(self) -> list[str]:
        return self.probe_errors

    def sizes(self) -> dict:
        return {
            "points": N_POINTS,
            "polygon_sets": POOL_SETS,
            "polygons_per_set": POLYS_PER_SET,
            "overlay_probe_pairs": PAIRS_PER_CLASS * len(OVERLAY_CLASSES),
        }

    def named_metrics(self, samples) -> dict:
        lat = [s.latency_s for s in samples]
        p90 = float(np.quantile(lat, 0.9))
        return {
            "query_p50_s": statistics.median(lat),
            "query_p90_s": p90,
            "query_samples": len(lat),
            "query_samples_above_p90": sum(x > p90 for x in lat),
            **self.probe_named,
        }

    def layer_metrics(self, samples) -> dict:
        traced = [s for s in samples if s.traced]
        out: dict[str, float] = {}
        for op in SPATIAL_OPS:
            mine = [s for s in traced if s.op == op]
            if not mine:
                continue
            out[f"operators.{op}.p50_s"] = statistics.median(s.latency_s for s in mine)
            out[f"operators.{op}.build_s"] = statistics.median(s.detail["build_s"] for s in mine)
            out[f"operators.{op}.exec_s"] = statistics.median(s.detail["exec_s"] for s in mine)
            out[f"operators.{op}.rows_out"] = statistics.median(s.detail["rows_out"] for s in mine)
            out[f"spark.jobs_per_request.{op}"] = statistics.median(s.jobs for s in mine)
        spans = self.ctx.tracer.spans
        for name, key in (("cover.hit", "cover_hit_s"), ("cover.miss", "cover_miss_s"), ("hot_cells", "hot_cells_s")):
            d = [s["end_ns"] - s["start_ns"] for s in spans if s["name"] == f"operators.spatial_join.{name}"]
            out[f"operators.spatial_join.{key}"] = statistics.median(d) / 1e9 if d else 0.0
        probe, self.probe_named, self.probe_errors = overlay_probe(self.ctx)
        out.update(probe)
        return out


class _OperatorSpans:
    """Spans around ``polygon_cover_pdf`` (split into cover-cache hit and
    miss) and ``hot_cells``, as the join operators call them."""

    def __init__(self, tracer) -> None:
        self.tracer = tracer
        self.real_cover = SJ.polygon_cover_pdf
        self.real_hot = SJ.hot_cells

    def __enter__(self):
        tracer, real_cover, real_hot = self.tracer, self.real_cover, self.real_hot

        def polygon_cover_pdf(polys, level=SJ.DEFAULT_LEVEL):
            hit = (SJ._polys_fingerprint(polys), level) in SJ._COVER_CACHE
            with tracer.span("operators.spatial_join.cover." + ("hit" if hit else "miss")):
                return real_cover(polys, level)

        def hot_cells(*a, **kw):
            with tracer.span("operators.spatial_join.hot_cells"):
                return real_hot(*a, **kw)

        SJ.polygon_cover_pdf = polygon_cover_pdf
        SJ.hot_cells = hot_cells
        return self

    def __exit__(self, *exc):
        SJ.polygon_cover_pdf = self.real_cover
        SJ.hot_cells = self.real_hot
