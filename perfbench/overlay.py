"""The exact-geometry probe: a seeded table of polygon pairs through
``st_intersection``, ``st_union``, ``st_difference``, ``st_symDifference``
and ``st_relate`` in one Spark query, run in the traced run of
``spatial_queries``.

The pair classes follow the overlay audit jobs' structural classes
(holed_generic, holed_snapped, rect_grid, gc_overlap), but the generator
is this file's own code, so edits to the jobs cannot change the
benchmark's input. The audit jobs' gc_mixed and nested_islands classes
are left out: the UDFs answer some of their pairs wrongly (see
README.md and the xfail tests in test_checks.py). Each generated pair carries
its known operand areas; answers are checked with area identities over a
shoelace of the result WKT (never ``st_area``).
"""

from __future__ import annotations

import time

import numpy as np
import pandas as pd

from pyspark.sql import functions as F

from geomesa_spark.functions import st_functions as sf

from perfbench import checks
from perfbench import trace as T
from perfbench.layers import OVERLAY_CLASSES, ST_OPS

PAIRS_PER_CLASS = 12
SPARK_FREE_PER_CLASS = 6  # of those, timed through each UDF's .func

UDFS = {
    "intersection": sf.st_intersection,
    "union": sf.st_union,
    "difference": sf.st_difference,
    "symdifference": sf.st_symDifference,
    "relate": sf.st_relate,
}

# ---------------------------------------------------------------------------
# seeded pair generator; returns (a_wkt, b_wkt, area_a, area_b) or None
# ---------------------------------------------------------------------------


def _ring_wkt(ring) -> str:
    return "(" + ", ".join(f"{x:.10g} {y:.10g}" for x, y in ring) + ")"


def _rect(rng, lo=0, hi=10):
    x0, y0 = int(rng.integers(lo, hi - 1)), int(rng.integers(lo, hi - 1))
    x1, y1 = x0 + int(rng.integers(1, hi - x0)), y0 + int(rng.integers(1, hi - y0))
    wkt = f"POLYGON (({x0} {y0}, {x1} {y0}, {x1} {y1}, {x0} {y1}, {x0} {y0}))"
    return wkt, (x0, y0, x1, y1)


def _rect_area(r) -> float:
    return float((r[2] - r[0]) * (r[3] - r[1]))


def _strictly_inside(pts: np.ndarray, shell: np.ndarray) -> bool:
    """Every point inside the closed ``shell`` ring and off its edges."""
    offs = np.asarray([0, len(shell)])
    if not checks.ray_crossing(pts[:, 0], pts[:, 1], shell, offs).all():
        return False
    a, b = shell[:-1], shell[1:]
    for p in pts:
        ab = b - a
        t = np.clip(((p - a) * ab).sum(axis=1) / np.maximum((ab * ab).sum(axis=1), 1e-300), 0.0, 1.0)
        if (np.hypot(*(a + t[:, None] * ab - p).T) < 1e-9).any():
            return False
    return True


def _holed_polygon(rng, cx, cy, r, snap: bool):
    """A convex-ish 8-gon shell with two disjoint square holes strictly
    inside it. The vertex and hole counts are fixed, so a seed moves the
    geometry without changing how much work a pair is."""
    th = np.sort(rng.uniform(0, 2 * np.pi, 8))
    shell = np.column_stack([cx + r * np.cos(th), cy + r * np.sin(th)])
    if snap:
        shell = np.unique(np.round(shell), axis=0)
        if len(shell) < 3:
            return None
        c = shell.mean(axis=0)
        shell = shell[np.argsort(np.arctan2(shell[:, 1] - c[1], shell[:, 0] - c[0]))]
    shell = np.vstack([shell, shell[:1]])
    # the WKT carries 10 significant digits: areas come from what it says
    shell = np.asarray([[float(f"{x:.10g}"), float(f"{y:.10g}")] for x, y in shell])
    if abs(checks.shoelace(shell)) < 1e-6:
        return None
    rings = [shell]
    for _ in range(20):
        if len(rings) == 3:
            break
        hx, hy = cx + rng.uniform(-r / 3, r / 3), cy + rng.uniform(-r / 3, r / 3)
        hw = rng.uniform(r / 12, r / 6)
        hole = np.asarray([(hx - hw, hy - hw), (hx + hw, hy - hw), (hx + hw, hy + hw), (hx - hw, hy + hw), (hx - hw, hy - hw)])
        if snap:
            hole = np.round(hole * 2) / 2
            if hole[0, 0] == hole[1, 0] or hole[0, 1] == hole[2, 1]:
                continue
        hole = np.asarray([[float(f"{x:.10g}"), float(f"{y:.10g}")] for x, y in hole])
        disjoint = all(
            hole[:, 0].max() < h[:, 0].min() or h[:, 0].max() < hole[:, 0].min()
            or hole[:, 1].max() < h[:, 1].min() or h[:, 1].max() < hole[:, 1].min()
            for h in rings[1:]
        )
        if disjoint and _strictly_inside(hole[:-1], shell):
            rings.append(hole)
    if len(rings) != 3:
        return None
    area = abs(checks.shoelace(shell)) - sum(abs(checks.shoelace(h)) for h in rings[1:])
    return "POLYGON (" + ", ".join(_ring_wkt(x) for x in rings) + ")", area


def gen_pair(rng, cls: str):
    if cls in ("holed_generic", "holed_snapped"):
        snap = cls == "holed_snapped"
        a = _holed_polygon(rng, rng.uniform(-2, 2), rng.uniform(-2, 2), rng.uniform(3, 6), snap)
        b = _holed_polygon(rng, rng.uniform(-2, 2), rng.uniform(-2, 2), rng.uniform(3, 6), snap)
        return (a[0], b[0], a[1], b[1]) if a and b else None
    if cls == "rect_grid":
        (a, ra), (b, rb) = _rect(rng), _rect(rng)
        return a, b, _rect_area(ra), _rect_area(rb)
    if cls == "gc_overlap":
        (m1, r1), (m2, r2), (b, rb) = _rect(rng), _rect(rng), _rect(rng)
        ox = max(0, min(r1[2], r2[2]) - max(r1[0], r2[0]))
        oy = max(0, min(r1[3], r2[3]) - max(r1[1], r2[1]))
        area = _rect_area(r1) + _rect_area(r2) - ox * oy
        return f"GEOMETRYCOLLECTION ({m1}, {m2})", b, float(area), _rect_area(rb)
    raise ValueError(cls)


def make_pairs(seed: int, per_class: int = PAIRS_PER_CLASS) -> pd.DataFrame:
    rng = np.random.default_rng([seed, 5])
    rows = []
    for cls in OVERLAY_CLASSES:
        got = 0
        while got < per_class:
            p = gen_pair(rng, cls)
            if p is not None:
                rows.append((cls, *p))
                got += 1
    pdf = pd.DataFrame(rows, columns=["cls", "a", "b", "area_a", "area_b"])
    pdf = pdf.sample(frac=1.0, random_state=np.random.RandomState(seed % 2**32)).reset_index(drop=True)
    pdf.insert(0, "id", np.arange(len(pdf), dtype=np.int64))
    return pdf


# ---------------------------------------------------------------------------
# the probe
# ---------------------------------------------------------------------------


def _traced_udf(op: str, udf, span_dir: str, request: str):
    inner = T.traced_udf_func(op, udf.func, span_dir, request)

    def run(a: pd.Series, b: pd.Series) -> pd.Series:
        return inner(a, b)

    return F.pandas_udf(run, udf.returnType)


def check_rows(known: dict, rows) -> tuple[list[str], int]:
    """Area identities for every answered pair; returns (errors, nulls)."""
    errors: list[str] = []
    nulls = 0
    if sorted(r["id"] for r in rows) != sorted(known):
        errors.append(f"{len(rows)} rows for {len(known)} pairs")
    for r in rows:
        area_a, area_b = known[r["id"]]
        e, n = checks.check_overlay(
            area_a, area_b, r["intersection"], r["union"], r["difference"], r["symdifference"], r["relate"]
        )
        errors += [f"overlay pair {r['id']}: {x}" for x in e]
        nulls += n
    return errors, nulls


def overlay_probe(ctx) -> tuple[dict, dict, list[str]]:
    """One untraced query (which also starts the UDFs' Python workers),
    one traced query, then each UDF's Python function over the same pairs
    without Spark. Returns (per-layer metrics, named metrics, errors)."""
    spark = ctx.spark
    pdf = make_pairs(ctx.seed)
    known = {int(r.id): (r.area_a, r.area_b) for r in pdf.itertuples()}
    table = spark.createDataFrame(pdf[["id", "a", "b"]]).repartition(2 * ctx.hw["nproc"]).cache()
    table.count()
    request = "perfbench-overlay-probe"
    traced_udfs = {k: _traced_udf(k, u, ctx.span_dir, request) for k, u in UDFS.items()}
    errors: list[str] = []
    walls, nulls = [], 0
    for udfs in (UDFS, traced_udfs):
        t = time.perf_counter()
        rows = table.select("id", *[udfs[op]("a", "b").alias(op) for op in ST_OPS]).collect()
        walls.append(time.perf_counter() - t)
        e, nulls = check_rows(known, rows)
        errors += [x for x in e if x not in errors]  # both queries get the same answers
    table.unpersist()

    ctx.tracer.load_worker_files(ctx.span_dir)
    udf_s = sum(T.dur_s(s) for s in ctx.tracer.spans if s["name"] == "st.udf" and s.get("request") == request)
    out = {"spark.udf_outside_frac": 1.0 - udf_s / (walls[1] * ctx.hw["nproc"])}
    per_class = {c: 0.0 for c in OVERLAY_CLASSES}
    for op, udf in UDFS.items():
        total, op_nulls = 0.0, 0
        for cls in OVERLAY_CLASSES:
            sub = pdf[pdf.cls == cls].iloc[:SPARK_FREE_PER_CLASS]
            a, b = sub["a"].reset_index(drop=True), sub["b"].reset_index(drop=True)
            t = time.perf_counter()
            res = udf.func(a, b)
            dt = time.perf_counter() - t
            total += dt
            per_class[cls] += dt / len(sub)
            op_nulls += int(res.isna().sum())
        n = SPARK_FREE_PER_CLASS * len(OVERLAY_CLASSES)
        out[f"st.{op}.us_per_pair"] = total / n * 1e6
        out[f"st.{op}.null_frac"] = op_nulls / n
    for cls, s in per_class.items():
        out[f"st.class.{cls}.us_per_pair"] = s * 1e6
    named = {
        "overlay_pairs": len(pdf),
        "overlay_pairs_per_s": len(pdf) / walls[0],
        "overlay_null_frac": nulls / (len(pdf) * len(ST_OPS)),
    }
    return out, named, errors
