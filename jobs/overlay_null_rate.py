"""Null rate and per-pair time of the overlay kernels behind
st_intersection / st_union / st_difference / st_symDifference. The
policy is exact-or-null; this measures how often null happens and what
a pair costs, per structural class, plus a scale sweep over star pairs.

Classes:
  holed_generic      float-coordinate convex-ish shells with rect holes
                     (generic position)
  holed_snapped      the same shapes snapped to an integer grid
                     (shared edges and vertices: degenerate contact)
  rect_grid          axis-aligned integer rectangles (maximal edge
                     sharing — worst case for degenerate contact)
  gc_overlap         GEOMETRYCOLLECTION with OVERLAPPING members vs a
                     polygon (pre-union normalization)
  gc_mixed           mixed-dimension GC (poly + line + point, members
                     may overlap) vs polygon
  nested_islands     shell with a hole and an island member inside the
                     hole vs a rect
  multi_member       two holed members vs a holed polygon
Star sweep: STAR_PAIRS pairs of overlapping random stars of 8, 32, 128,
512 and 2048 vertices, with the traced peak memory of one call.

Pure numpy — no Spark. Writes BENCH/overlay_null_rate.json (null %,
median and mean µs per pair by class × op, median ms per star pair,
provenance) and prints the markdown tables PLANS.md embeds.

    python jobs/overlay_null_rate.py [N_PER_CLASS] [--out PATH]
        [--against OTHER_CHECKOUT]

--against times a second checkout of the repository (e.g. the parent
commit) in the same process, pair by pair beside this one, and records
its numbers under "against"; stars above PAIRED_STAR_MAX vertices time
this checkout only.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import sys
import time
import tracemalloc

import numpy as np

ROOT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..")
sys.path.insert(0, ROOT)

from geomesa_spark.functions import geometry as geo  # noqa: E402
from geomesa_spark.functions import st_functions as sf  # noqa: E402
from jobs.provenance import git_sha, provenance  # noqa: E402

OPS = {
    "intersection": sf._overlay_intersection,
    "union": sf._overlay_union,
    "difference": sf._overlay_difference,
    "symdifference": sf._overlay_symdifference,
}


def _convex_shell(rng, cx, cy, r):
    n = rng.integers(5, 9)
    th = np.sort(rng.uniform(0, 2 * np.pi, n))
    pts = np.column_stack([cx + r * np.cos(th), cy + r * np.sin(th)])
    return np.vstack([pts, pts[:1]])


def _ring_wkt(ring):
    return "(" + ", ".join(f"{x:.10g} {y:.10g}" for x, y in ring) + ")"


def _holed_polygon(rng, cx, cy, r, snap=False):
    shell = _convex_shell(rng, cx, cy, r)
    if snap:
        shell = np.round(shell)
        if len(np.unique(shell[:-1], axis=0)) < 3:
            return None
        shell = np.vstack([np.unique(shell[:-1], axis=0), np.unique(shell[:-1], axis=0)[:1]])
        # unique() reorders: re-sort by angle to keep a simple ring
        c = shell[:-1].mean(axis=0)
        order = np.argsort(np.arctan2(shell[:-1, 1] - c[1], shell[:-1, 0] - c[0]))
        shell = np.vstack([shell[:-1][order], shell[:-1][order][:1]])
    rings = [shell]
    for _ in range(int(rng.integers(1, 3))):
        hx, hy = cx + rng.uniform(-r / 4, r / 4), cy + rng.uniform(-r / 4, r / 4)
        hw = rng.uniform(r / 12, r / 5)
        hole = np.asarray(
            [(hx - hw, hy - hw), (hx + hw, hy - hw), (hx + hw, hy + hw), (hx - hw, hy + hw), (hx - hw, hy - hw)]
        )
        if snap:
            hole = np.round(hole * 2) / 2
            if hole[0, 0] == hole[1, 0] or hole[0, 1] == hole[2, 1]:
                continue
        # keep only holes strictly inside the shell and disjoint from others
        inside = all(
            geo.classify_points_in_polygon([x], [y], shell, np.asarray([0, len(shell)]))[0] == 2
            for x, y in hole[:-1]
        )
        if inside and all(
            not (
                hole[:, 0].min() <= rr[:, 0].max() and rr[:, 0].min() <= hole[:, 0].max()
                and hole[:, 1].min() <= rr[:, 1].max() and rr[:, 1].min() <= hole[:, 1].max()
            )
            for rr in rings[1:]
        ):
            rings.append(hole)
    return "POLYGON (" + ", ".join(_ring_wkt(r2) for r2 in rings) + ")"


def _rect(rng, lo=0, hi=10):
    x0, y0 = int(rng.integers(lo, hi - 1)), int(rng.integers(lo, hi - 1))
    w, h = int(rng.integers(1, hi - x0)), int(rng.integers(1, hi - y0))
    x1, y1 = x0 + w, y0 + h
    return f"POLYGON (({x0} {y0}, {x1} {y0}, {x1} {y1}, {x0} {y1}, {x0} {y0}))"


def gen_pair(rng, cls):
    if cls == "holed_generic" or cls == "holed_snapped":
        snap = cls == "holed_snapped"
        a = _holed_polygon(rng, rng.uniform(-2, 2), rng.uniform(-2, 2), rng.uniform(3, 6), snap)
        b = _holed_polygon(rng, rng.uniform(-2, 2), rng.uniform(-2, 2), rng.uniform(3, 6), snap)
        return (a, b) if a and b else None
    if cls == "rect_grid":
        return _rect(rng), _rect(rng)
    if cls == "gc_overlap":
        m1, m2 = _rect(rng), _rect(rng)
        a = f"GEOMETRYCOLLECTION ({m1}, {m2})"
        return a, _rect(rng)
    if cls == "gc_mixed":
        m1 = _rect(rng)
        x0, y0, x1, y1 = (int(rng.integers(0, 10)) for _ in range(4))
        a = (
            f"GEOMETRYCOLLECTION ({m1}, LINESTRING ({x0} {y0}, {x1} {y1}), "
            f"POINT ({int(rng.integers(0, 10))} {int(rng.integers(0, 10))}))"
        )
        return a, _rect(rng)
    raise ValueError(cls)


def _nested_island_wkt(rng) -> str:
    """MULTIPOLYGON: big shell with a rect hole, plus an island member
    nested INSIDE the hole (the region algebra's island-in-hole carve
    path). Integer-snapped so degenerate contact is common."""
    x0, y0 = int(rng.integers(-2, 2)), int(rng.integers(-2, 2))
    hole = (
        f"({x0 - 3} {y0 - 3}, {x0 + 3} {y0 - 3}, {x0 + 3} {y0 + 3}, "
        f"{x0 - 3} {y0 + 3}, {x0 - 3} {y0 - 3})"
    )
    iw = int(rng.integers(1, 3))
    isl = (
        f"(({x0 - iw} {y0 - iw}, {x0 + iw} {y0 - iw}, {x0 + iw} {y0 + iw}, "
        f"{x0 - iw} {y0 + iw}, {x0 - iw} {y0 - iw}))"
    )
    shell = (
        f"(({x0 - 5} {y0 - 5}, {x0 + 5} {y0 - 5}, {x0 + 5} {y0 + 5}, "
        f"{x0 - 5} {y0 + 5}, {x0 - 5} {y0 - 5}), {hole})"
    )
    return f"MULTIPOLYGON ({shell}, {isl})"


def gen_pair_ext(rng, cls):
    """gen_pair plus the multi-member classes: a shell-hole-island
    MULTIPOLYGON vs a rect, and a two-member holed MULTIPOLYGON vs a
    holed polygon."""
    if cls == "nested_islands":
        return _nested_island_wkt(rng), _rect(rng, lo=-6, hi=8)
    if cls == "multi_member":
        a1 = _holed_polygon(rng, rng.uniform(-4, -2), rng.uniform(-2, 2), rng.uniform(1.5, 2.5), snap=True)
        a2 = _holed_polygon(rng, rng.uniform(2, 4), rng.uniform(-2, 2), rng.uniform(1.5, 2.5), snap=True)
        if a1 is None or a2 is None:
            return None
        a = "MULTIPOLYGON (%s, %s)" % (
            a1[len("POLYGON "):], a2[len("POLYGON "):],
        )
        b = _holed_polygon(rng, rng.uniform(-2, 2), rng.uniform(-2, 2), rng.uniform(2.5, 4.5), snap=bool(rng.integers(2)))
        return (a, b) if b else None
    return gen_pair(rng, cls)


CLASSES = (
    "holed_generic", "holed_snapped", "rect_grid", "gc_overlap",
    "gc_mixed", "nested_islands", "multi_member",
)
SEED = 20260818
STAR_SIZES = (8, 32, 128, 512, 2048)
STAR_PAIRS = 5  # star pairs per size
PAIRED_STAR_MAX = 512  # --against star sizes (the pre-slab fallback chain needs minutes a pair beyond)


def _star_ring(rng, n, cx, cy):
    ang = np.sort(rng.uniform(0, 2 * np.pi, n))
    rad = rng.uniform(1.0, 3.0, n)
    pts = np.column_stack([cx + rad * np.cos(ang), cy + rad * np.sin(ang)])
    return np.vstack([pts, pts[:1]])


def star_pair(rng, n):
    """Two overlapping n-vertex star polygons (radii in [1, 3], centres
    0.8 apart): many proper crossings, the overlay's scale case."""
    a, b = _star_ring(rng, n, 0.0, 0.0), _star_ring(rng, n, 0.7, 0.4)
    return tuple(("POLYGON", r, np.asarray([0, len(r)])) for r in (a, b))


def load_checkout(root: str) -> dict:
    """The overlay entry points of another checkout of this repository,
    imported beside this one. Each call runs with that checkout's
    modules in sys.modules (two dict updates, ~µs, inside the timed
    call), so imports made inside the call resolve in the same
    checkout."""

    def package() -> dict:
        return {k: sys.modules.pop(k) for k in list(sys.modules) if k.split(".")[0] == "geomesa_spark"}

    mine = package()
    sys.path.insert(0, os.path.abspath(root))
    try:
        other = importlib.import_module("geomesa_spark.functions.st_functions")
        importlib.import_module("geomesa_spark.functions.slab_overlay")
    finally:
        sys.path.pop(0)
        theirs = package()
        sys.modules.update(mine)

    def bind(fn):
        def call(ga, gb):
            sys.modules.update(theirs)
            try:
                return fn(ga, gb)
            finally:
                sys.modules.update(mine)

        return call

    return {op: bind(getattr(other, f"_overlay_{op}")) for op in OPS}


def _timed(fn, ga, gb):
    t0 = time.perf_counter()
    try:
        res = fn(ga, gb)
    except Exception:
        res = None
    return res, time.perf_counter() - t0


def _paired(sides: dict, op: str, pairs: list) -> dict:
    """Every pair through every side, the side order alternating from
    pair to pair so slow drifts of the host hit all sides alike:
    {label: [(result, seconds), ...]}."""
    runs: dict = {label: [] for label in sides}
    labels = list(sides)
    for i, (ga, gb) in enumerate(pairs):
        for label in labels if i % 2 == 0 else labels[::-1]:
            runs[label].append(_timed(sides[label][op], ga, gb))
    return runs


def null_rate_and_time(n: int, sides: dict) -> dict:
    """Per side, class × op: null % and per-pair time (median and mean µs)."""
    rng = np.random.default_rng(SEED)
    keys = ("null_pct", "us_per_pair_median", "us_per_pair_mean")
    out: dict = {label: {k: {} for k in keys} for label in sides}
    for cls in CLASSES:
        pairs = []
        while len(pairs) < n:
            p = gen_pair_ext(rng, cls)
            if p:
                pairs.append(p)
        parsed = [(geo.parse_wkt(a), geo.parse_wkt(b)) for a, b in pairs]
        for op in OPS:
            for label, runs in _paired(sides, op, parsed).items():
                us = np.asarray([t for _r, t in runs]) * 1e6
                row = out[label]
                row["null_pct"].setdefault(cls, {})[op] = round(100.0 * sum(r is None for r, _t in runs) / n, 2)
                row["us_per_pair_median"].setdefault(cls, {})[op] = round(float(np.median(us)), 1)
                row["us_per_pair_mean"].setdefault(cls, {})[op] = round(float(us.mean()), 1)
    return out


def _traced_peak_mb(fn, ga, gb) -> float:
    """Peak of the memory Python tracks (numpy arrays included) during
    one call, in MB."""
    tracemalloc.start()
    try:
        fn(ga, gb)
        return round(tracemalloc.get_traced_memory()[1] / 2**20, 1)
    finally:
        tracemalloc.stop()


def star_sweep(sides: dict) -> dict:
    """Per side, star size × op: median ms per pair, nulls, and for this
    checkout the traced peak MB of one untimed call. Sizes above
    PAIRED_STAR_MAX time this checkout only."""
    rng = np.random.default_rng(SEED)
    out: dict = {label: {} for label in sides}
    for n in STAR_SIZES:
        pairs = [star_pair(rng, n) for _ in range(STAR_PAIRS)]
        timed = sides if n <= PAIRED_STAR_MAX else {"this": sides["this"]}
        for op in OPS:
            for label, runs in _paired(timed, op, pairs).items():
                out[label].setdefault(str(n), {})[op] = {
                    "ms_median": round(1e3 * float(np.median([t for _r, t in runs])), 2),
                    "null": sum(r is None for r, _t in runs),
                }
            out["this"][str(n)][op]["traced_peak_mb"] = _traced_peak_mb(OPS[op], *pairs[0])
    return out


def _print_tables(table: dict, stars: dict, title: str) -> None:
    print(f"{title}\n| class | " + " | ".join(f"{op} null / µs" for op in OPS) + " |")
    print("|---|" + "---|" * len(OPS))
    for cls in CLASSES:
        cells = (
            f"{table['null_pct'][cls][op]}% / {table['us_per_pair_median'][cls][op]:.0f}" for op in OPS
        )
        print(f"| {cls} | " + " | ".join(cells) + " |")
    print("| star vertices | " + " | ".join(f"{op} ms" for op in OPS) + " |")
    print("|---|" + "---|" * len(OPS))
    for n, row in stars.items():
        cells = (
            f"{row[op]['ms_median']}" + (f" ({row[op]['traced_peak_mb']} MB)" if "traced_peak_mb" in row[op] else "")
            for op in OPS
        )
        print(f"| {n} | " + " | ".join(cells) + " |")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("n", nargs="?", type=int, default=300, help="pairs per class")
    ap.add_argument("--against", help="another checkout to time pair by pair beside this one")
    ap.add_argument("--out", default=os.path.join(ROOT, "BENCH", "overlay_null_rate.json"))
    args = ap.parse_args()
    t0 = time.perf_counter()
    sides = {"this": OPS}
    if args.against:
        sides["against"] = load_checkout(args.against)
    table = null_rate_and_time(args.n, sides)
    stars = star_sweep(sides)
    report = {
        "provenance": provenance(args.n, SEED, star_pairs_per_size=STAR_PAIRS,
                                 wall_s=round(time.perf_counter() - t0, 1)),
        "n_per_class": args.n,
        **table["this"],
        "star_ms_per_pair": stars["this"],
    }
    if args.against:
        report["against"] = {
            "checkout": os.path.abspath(args.against),
            "git_sha": git_sha(args.against),
            **table["against"],
            "star_ms_per_pair": stars["against"],
        }
    os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
    with open(args.out, "w") as f:
        json.dump(report, f, indent=1)
    for label in sides:
        _print_tables(table[label], stars[label], label)


if __name__ == "__main__":
    main()
