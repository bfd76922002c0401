"""Answer checks: brute-force references written for the benchmark alone.

Nothing here calls into ``geomesa_spark``; the references share only the
input data (pages, gazetteer, polygons, points, WKT pairs) with the
program under test. Every checker returns a list of error strings; an
empty list means the answer is correct.
"""

from __future__ import annotations

import re

from collections import Counter

import numpy as np

# ---------------------------------------------------------------------------
# point in polygon: even-odd ray crossing, holes by parity
# ---------------------------------------------------------------------------


def ring_edges(coords: np.ndarray, ring_offsets: np.ndarray):
    """Edge endpoint arrays (x1, y1, x2, y2) of every closed ring."""
    xs1, ys1, xs2, ys2 = [], [], [], []
    for r in range(len(ring_offsets) - 1):
        ring = coords[ring_offsets[r] : ring_offsets[r + 1]]
        xs1.append(ring[:-1, 0])
        ys1.append(ring[:-1, 1])
        xs2.append(ring[1:, 0])
        ys2.append(ring[1:, 1])
    return np.concatenate(xs1), np.concatenate(ys1), np.concatenate(xs2), np.concatenate(ys2)


def ray_crossing(lon, lat, coords: np.ndarray, ring_offsets: np.ndarray) -> np.ndarray:
    """Inside test for many points against one polygon (points exactly on
    an edge are unspecified; generated inputs never place one there)."""
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    x1, y1, x2, y2 = ring_edges(coords, ring_offsets)
    inside = np.zeros(len(lon), dtype=bool)
    for k in range(len(x1)):
        if y1[k] == y2[k]:
            continue
        straddle = (y1[k] > lat) != (y2[k] > lat)
        x_at = x1[k] + (lat - y1[k]) * (x2[k] - x1[k]) / (y2[k] - y1[k])
        inside ^= straddle & (lon < x_at)
    return inside


# ---------------------------------------------------------------------------
# pages -> per-polygon (n_mentions, n_pages)
# ---------------------------------------------------------------------------

_GEO_SPAN = re.compile(r'<span class="geo" data-name="([^"]+)">')


class PagesReference:
    """Per-row extraction + gazetteer lookup + brute-force PIP over the same
    generated pages the program reads."""

    def __init__(self, urls, htmls, gazetteer, polygons) -> None:
        city = {n: (x, y) for n, x, y in zip(gazetteer["name"], gazetteer["lon"], gazetteer["lat"])}
        names = list(city)
        lon = np.asarray([city[n][0] for n in names])
        lat = np.asarray([city[n][1] for n in names])
        hits: dict[str, list[int]] = {n: [] for n in names}
        for p in polygons:
            for i in np.nonzero(ray_crossing(lon, lat, p.coords, p.ring_offsets))[0]:
                hits[names[i]].append(p.polygon_id)
        self.rows: Counter = Counter()  # (url, polygon_id) -> mentions
        for url, html in zip(urls, htmls):
            text = html.decode("utf-8", "replace") if isinstance(html, (bytes, bytearray)) else html
            for name in _GEO_SPAN.findall(text):
                for pid in hits.get(name, ()):
                    self.rows[(url, pid)] += 1
        self.counts = polygon_counts(self.rows)
        self.n_pages = len(urls)


def polygon_counts(rows: Counter) -> dict:
    """(url, polygon_id) -> mentions  ==>  polygon_id -> (n_mentions, n_pages)."""
    mentions: Counter = Counter()
    pages: Counter = Counter()
    for (_url, pid), n in rows.items():
        mentions[pid] += n
        pages[pid] += 1
    return {pid: (mentions[pid], pages[pid]) for pid in mentions}


def check_polygon_counts(expected: dict, got_rows) -> list[str]:
    """``got_rows``: iterable of (polygon_id, n_mentions, n_pages)."""
    got = {}
    errors = []
    for pid, n_m, n_p in got_rows:
        if pid in got:
            errors.append(f"polygon {pid} appears twice")
        got[int(pid)] = (int(n_m), int(n_p))
    for pid in sorted(set(expected) | set(got)):
        if expected.get(pid) != got.get(pid):
            errors.append(f"polygon {pid}: expected {expected.get(pid)} got {got.get(pid)}")
    return errors


def check_multiset(expected: Counter, got: Counter, what: str) -> list[str]:
    if expected == got:
        return []
    missing = expected - got
    extra = got - expected
    return [
        f"{what}: {sum(missing.values())} missing, {sum(extra.values())} unexpected "
        f"(e.g. missing {list(missing)[:2]}, unexpected {list(extra)[:2]})"
    ]


# ---------------------------------------------------------------------------
# spatial operator references over the collected points
# ---------------------------------------------------------------------------


class PointsReference:
    def __init__(self, pid: np.ndarray, lon: np.ndarray, lat: np.ndarray) -> None:
        self.pid, self.lon, self.lat = pid, lon, lat
        self._inside: dict[int, np.ndarray] = {}

    def inside(self, poly) -> np.ndarray:
        m = self._inside.get(poly.polygon_id)
        if m is None:
            m = ray_crossing(self.lon, self.lat, poly.coords, poly.ring_offsets)
            self._inside[poly.polygon_id] = m
        return m

    def pip_pairs(self, polys) -> Counter:
        out: Counter = Counter()
        for p in polys:
            for k in self.pid[self.inside(p)]:
                out[(int(k), p.polygon_id)] += 1
        return out

    def knn(self, queries, k: int) -> dict[int, list[int]]:
        """Exact planar kNN, ties on ascending point id."""
        out = {}
        for qid, qlon, qlat in queries:
            dx = self.lon - qlon
            dy = self.lat - qlat
            d = dx * dx + dy * dy
            order = np.lexsort((self.pid, d))[:k]
            out[int(qid)] = [int(x) for x in self.pid[order]]
        return out

    def dwithin(self, queries, radius: float) -> Counter:
        out: Counter = Counter()
        for qid, qlon, qlat in queries:
            dx = self.lon - qlon
            dy = self.lat - qlat
            for k in self.pid[dx * dx + dy * dy <= radius * radius]:
                out[(int(qid), int(k))] += 1
        return out

    def tiles_equirect(self, zoom: int, rollup: int) -> Counter:
        n = 1 << zoom
        tx = np.clip(np.floor((self.lon + 180.0) / 360.0 * n), 0, n - 1).astype(np.int64)
        ty = np.clip(np.floor((90.0 - self.lat) / 180.0 * n), 0, n - 1).astype(np.int64)
        tx >>= rollup
        ty >>= rollup
        keys, counts = np.unique(np.stack([tx, ty]), axis=1, return_counts=True)
        return Counter({(zoom - rollup, int(x), int(y)): int(c) for (x, y), c in zip(keys.T, counts)})

    def grid_density(self, level: int) -> Counter:
        nx, ny = 1 << level, max(1, 1 << (level - 1))
        ix = np.clip(np.floor((self.lon + 180.0) / 360.0 * nx), 0, nx - 1).astype(np.int64)
        iy = np.clip(np.floor((self.lat + 90.0) / 180.0 * ny), 0, ny - 1).astype(np.int64)
        cells, counts = np.unique(iy * nx + ix, return_counts=True)
        return Counter({int(c): int(n) for c, n in zip(cells, counts)})


def check_knn(expected: dict[int, list[int]], got_rows) -> list[str]:
    """``got_rows``: iterable of (qid, pid, rnk)."""
    got: dict[int, list[tuple[int, int]]] = {}
    for qid, pid, rnk in got_rows:
        got.setdefault(int(qid), []).append((int(rnk), int(pid)))
    errors = []
    for qid in sorted(set(expected) | set(got)):
        g = [p for _, p in sorted(got.get(qid, []))]
        if g != expected.get(qid):
            errors.append(f"knn qid {qid}: expected {expected.get(qid)} got {g}")
    return errors


# ---------------------------------------------------------------------------
# overlay: WKT parsing and shoelace areas
# ---------------------------------------------------------------------------

_TOKEN = re.compile(r"\s*([A-Za-z]+|\(|\)|,|[-+0-9.eE]+)")


def _tokens(wkt: str) -> list[str]:
    out = []
    pos = 0
    wkt = wkt.strip()
    while pos < len(wkt):
        m = _TOKEN.match(wkt, pos)
        if m is None:
            raise ValueError(f"bad WKT near {wkt[pos:pos + 20]!r}")
        out.append(m.group(1))
        pos = m.end()
    return out


class _Parser:
    """Recursive-descent WKT reader that keeps only polygon parts, each as a
    list of rings ((n, 2) arrays)."""

    def __init__(self, wkt: str) -> None:
        self.t = _tokens(wkt)
        self.i = 0
        self.polygons: list[list[np.ndarray]] = []

    def _next(self) -> str:
        tok = self.t[self.i]
        self.i += 1
        return tok

    def _expect(self, tok: str) -> None:
        got = self._next()
        if got != tok:
            raise ValueError(f"expected {tok!r}, got {got!r}")

    def _peek(self) -> str:
        return self.t[self.i]

    def _coord(self) -> tuple[float, float]:
        x = float(self._next())
        y = float(self._next())
        while self._peek() not in (",", ")"):
            self._next()  # Z/M ordinates
        return x, y

    def _coord_list(self) -> np.ndarray:
        self._expect("(")
        pts = [self._coord()]
        while self._peek() == ",":
            self._next()
            pts.append(self._coord())
        self._expect(")")
        return np.asarray(pts, dtype=np.float64)

    def _list(self, item) -> list:
        self._expect("(")
        out = [item()]
        while self._peek() == ",":
            self._next()
            out.append(item())
        self._expect(")")
        return out

    def _point_item(self):
        if self._peek() == "(":
            return self._coord_list()
        return self._coord()

    def geometry(self) -> None:
        kind = self._next().upper()
        while self._peek().upper() in ("Z", "M", "ZM"):
            self._next()
        if self._peek().upper() == "EMPTY":
            self._next()
            return
        if kind == "POLYGON":
            self.polygons.append(self._list(self._coord_list))
        elif kind == "MULTIPOLYGON":
            self.polygons.extend(self._list(lambda: self._list(self._coord_list)))
        elif kind == "GEOMETRYCOLLECTION":
            self._list(self.geometry)
        elif kind in ("POINT", "LINESTRING"):
            self._coord_list()
        elif kind == "MULTIPOINT":
            self._list(self._point_item)
        elif kind == "MULTILINESTRING":
            self._list(self._coord_list)
        else:
            raise ValueError(f"unsupported WKT type {kind}")


def polygon_parts(wkt: str) -> list[list[np.ndarray]]:
    p = _Parser(wkt)
    p.geometry()
    if p.i != len(p.t):
        raise ValueError("trailing tokens in WKT")
    return p.polygons


def shoelace(ring: np.ndarray) -> float:
    x, y = ring[:, 0], ring[:, 1]
    return 0.5 * float(np.sum(x[:-1] * y[1:] - x[1:] * y[:-1]))


def wkt_area(wkt: str) -> float:
    """Area of the polygonal part: each polygon's shell minus its holes.
    Results of an overlay have non-overlapping parts, so parts add."""
    total = 0.0
    for rings in polygon_parts(wkt):
        total += abs(shoelace(rings[0])) - sum(abs(shoelace(h)) for h in rings[1:])
    return total


def check_overlay(area_a: float, area_b: float, inter, union, diff, symd, relate) -> tuple[list[str], int]:
    """Area identities over one pair's answers; ``None`` answers are the
    kernels' declared "no exact answer" and are counted, not failed.
    Returns (errors, nulls)."""
    vals = {"intersection": inter, "union": union, "difference": diff, "symdifference": symd}
    nulls = sum(v is None for v in vals.values()) + (relate is None)
    errors: list[str] = []
    areas = {}
    for k, w in vals.items():
        if w is None:
            continue
        try:
            areas[k] = wkt_area(w)
        except (ValueError, IndexError) as e:
            errors.append(f"{k}: unreadable WKT ({e})")
    tol = 1e-7 * max(1.0, area_a + area_b)
    i, u, d, s = (areas.get(k) for k in ("intersection", "union", "difference", "symdifference"))
    if i is not None and u is not None and abs(i + u - (area_a + area_b)) > tol:
        errors.append(f"|A∩B|+|A∪B| = {i + u!r} != |A|+|B| = {area_a + area_b!r}")
    if i is not None and d is not None and abs(d - (area_a - i)) > tol:
        errors.append(f"|A\\B| = {d!r} != |A|-|A∩B| = {area_a - i!r}")
    if i is not None and u is not None and s is not None and abs(s - (u - i)) > tol:
        errors.append(f"|AΔB| = {s!r} != |A∪B|-|A∩B| = {u - i!r}")
    if i is not None and i > min(area_a, area_b) + tol:
        errors.append(f"|A∩B| = {i!r} exceeds min(|A|, |B|)")
    if relate is not None:
        if len(relate) != 9 or any(c not in "F012" for c in relate):
            errors.append(f"relate: malformed matrix {relate!r}")
        elif i is not None and (i > tol) != (relate[0] == "2"):
            errors.append(f"relate: II={relate[0]!r} but |A∩B| = {i!r}")
    return errors, nulls
