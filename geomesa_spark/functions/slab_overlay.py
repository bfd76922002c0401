"""Slab-sweep boolean overlay for (MULTI)POLYGON pairs — the areal
overlay kernel behind st_intersection, st_union, st_difference and
st_symDifference.

Vertical trapezoidal decomposition has NO special cases for degenerate
contact (partially shared edges, vertex-on-edge chains, checkerboard
corners):

1. Cut the plane into vertical slabs at every vertex x of either
   operand plus every proper A×B edge-crossing x. Inside a slab no two
   edges cross, so the covering edges are totally ordered by their
   midline y. The (edge, slab) incidences are evaluated in numpy, a
   block of consecutive slabs at a time; an edge's y at its own
   vertex x is that vertex exactly.
2. Walk each slab bottom-up accumulating even-odd parity for A and B
   separately (holes need no special handling — OGC-valid rings are
   even-odd compatible); coincident edges (shared boundary) form one
   group that toggles both parities at once. The op's indicator
   (∩, ∪, \\, Δ) over (inA, inB) marks result trapezoids.
3. The result boundary = edge pieces where the indicator flips across
   a group, plus the XOR of left/right vertical coverage at each slab
   border. Consecutive pieces cut from the same input edge merge by
   edge id, so output vertices are input vertices or proper crossings.
   Each piece is directed with the region on its LEFT, and a planar
   face walk (_trace_faces) turns the pieces into rings; shells/holes
   recover by containment parity, and the assembled area must match
   the trapezoid-accumulated area exactly (1e-9 relative). Open parity,
   an unbalanced or ambiguous junction, or a failed area identity
   returns None — never a wrong polygon.

Cost: O(V + K) slabs, each holding the edges that span it — O(V·(V+K))
numpy work in the worst case, plus an O(E_A·E_B) vectorized crossing
scan. Memory is bounded by the block size (_SLAB_CELLS incidences), not
by the total incidence count.
"""

from __future__ import annotations

import math

import numpy as np

from geomesa_spark.functions import geometry as geo

_OPS = {
    "intersection": lambda a, b: a & b,
    "union": lambda a, b: a | b,
    "difference": lambda a, b: a & ~b,
    "symdifference": lambda a, b: a ^ b,
}

_CROSS_CHUNK = 1 << 20  # edge pairs per vectorized crossing block
_SLAB_CELLS = 1 << 20  # (edge, slab) incidences per sweep block


def _edges(g) -> np.ndarray:
    """(E, 4) array of x1 y1 x2 y2 over the non-degenerate ring edges."""
    c = np.asarray(g[1], dtype=np.float64)
    e = np.concatenate([c[:-1], c[1:]], axis=1)
    keep = (e[:, 0] != e[:, 2]) | (e[:, 1] != e[:, 3])
    keep[np.asarray(g[2][1:-1]) - 1] = False  # ring end → next ring start
    return e[keep]


def _crossing_xs(ea: np.ndarray, eb: np.ndarray) -> np.ndarray:
    """x of every proper crossing between an A edge and a B edge: both
    edge parameters strictly inside (0, 1), compared as products so no
    division happens before a hit (parallel and collinear pairs add
    none: their endpoints already cut the slabs)."""
    bx1, by1 = eb[:, 0], eb[:, 1]
    bdx, bdy = eb[:, 2] - bx1, eb[:, 3] - by1
    out = []
    step = max(1, _CROSS_CHUNK // len(eb))
    for s in range(0, len(ea), step):
        a = ea[s:s + step]
        x1, y1 = a[:, 0, None], a[:, 1, None]
        dx, dy = a[:, 2, None] - x1, a[:, 3, None] - y1
        d = dx * bdy - dy * bdx
        sg = np.sign(d)
        ex, ey = bx1 - x1, by1 - y1
        tn = (ex * bdy - ey * bdx) * sg
        un = (ex * dy - ey * dx) * sg
        d *= sg
        i, j = np.nonzero((tn > 0.0) & (tn < d) & (un > 0.0) & (un < d))
        out.append(x1[i, 0] + tn[i, j] / d[i, j] * dx[i, 0])
    return np.concatenate(out)


def _seg_cumsum(v: np.ndarray, first: np.ndarray) -> np.ndarray:
    """Inclusive cumulative sum of ``v`` restarting where ``first``."""
    c = np.cumsum(v)
    start = np.maximum.accumulate(np.where(first, np.arange(len(v)), 0))
    return c - (c - v)[start]


def _split_loops(ring: list) -> list:
    """Split a closed node walk at repeated nodes into simple closed
    loops (a face touching itself at a vertex — a hole pinched onto its
    shell, two members meeting at a corner — becomes its OGC parts).
    Loops enclosing no area (fewer than 3 distinct nodes) drop."""
    loops: list = []
    stack: list = []
    pos: dict = {}
    for p in ring[:-1]:
        i = pos.get(p)
        if i is None:
            pos[p] = len(stack)
            stack.append(p)
            continue
        loops.append(stack[i:] + [p])
        for q in stack[i + 1:]:
            del pos[q]
        del stack[i + 1:]
    loops.append(stack + stack[:1])
    return [lp for lp in loops if len(lp) >= 4]


def _trace_faces(pieces, tol: float):
    """Closed rings from DIRECTED boundary segments (region on the LEFT
    of each, known at emission from the parity flips) with
    even-degree junctions — degree 4 where the operand boundaries
    cross, e.g. every symmetric difference of properly-crossing
    polygons. Endpoints pool within ``tol`` (a 3×3 grid-cell lookup,
    so two points 1e-12 apart never straddle a cell boundary into two
    nodes); an antiparallel pair of segments bounds a zero-width sliver
    and cancels. The planar face walk over the directed edges (next =
    the outgoing edge clockwise-adjacent to the arriving edge's
    reverse) traces exactly the REGION faces: outer boundaries CCW,
    hole loops CW, void faces between regions never (no edge has them
    on its left); repeated nodes then split each face into simple
    loops. Returns None on an open chain, an unbalanced node or an
    exact angular tie (ambiguous input — honesty over guessing)."""
    pool: dict = {}
    seen: dict = {}  # most endpoints repeat bit-exactly: pool each once

    def snap(x, y):
        q = seen.get((x, y))
        if q is not None:
            return q
        gx, gy = round(x / tol), round(y / tol)
        for dx in (0, -1, 1):
            for dy in (0, -1, 1):
                q = pool.get((gx + dx, gy + dy))
                if q is not None and abs(q[0] - x) <= tol and abs(q[1] - y) <= tol:
                    seen[(x, y)] = q
                    return q
        q = seen[(x, y)] = pool[(gx, gy)] = (x, y)
        return q

    count: dict = {}
    for (x0, y0), (x1, y1) in pieces:
        a, b = snap(float(x0), float(y0)), snap(float(x1), float(y1))
        if a != b:
            count[(a, b)] = count.get((a, b), 0) + 1
    edges: list = []
    for (a, b), n in count.items():
        n -= min(n, count.get((b, a), 0))
        edges.extend([(a, b)] * n)
    out_at: dict = {}
    in_deg: dict = {}
    for i, (a, b) in enumerate(edges):
        out_at.setdefault(a, []).append(i)
        in_deg[b] = in_deg.get(b, 0) + 1
    order: dict = {}
    for node, ids in out_at.items():
        if in_deg.get(node, 0) != len(ids):
            return None  # boundary of a region alternates in/out
        angs = sorted(
            (math.atan2(edges[i][1][1] - node[1], edges[i][1][0] - node[0]), i) for i in ids
        )
        if any(angs[k][0] == angs[k + 1][0] for k in range(len(angs) - 1)):
            return None  # exact angular tie: ambiguous
        order[node] = angs
    if len(in_deg) != len(out_at):
        return None  # a node with arrivals and no departures: open chain
    used = [False] * len(edges)
    rings: list = []
    for start in range(len(edges)):
        if used[start]:
            continue
        ring = [edges[start][0]]
        cur = start
        for _guard in range(len(edges) + 1):
            used[cur] = True
            tail, head = edges[cur]
            ring.append(head)
            back = math.atan2(tail[1] - head[1], tail[0] - head[0])
            angs = order[head]
            # outgoing edge immediately CLOCKWISE of `back` in CCW order
            idx = len(angs) - 1
            for k, (th, _i) in enumerate(angs):
                if th >= back:
                    idx = k - 1
                    break
            nxt = angs[idx][1]
            if nxt == start:
                break
            if used[nxt]:
                return None  # corrupt graph: an edge in two faces
            cur = nxt
        else:
            return None
        rings.extend(np.asarray(lp, dtype=np.float64) for lp in _split_loops(ring))
    return rings


def _start_at_min(ring: np.ndarray) -> np.ndarray:
    """Rotate a closed ring to start at its lexicographically smallest
    vertex (x, then y) — a canonical, deterministic WKT form."""
    body = ring[:-1]
    k = int(np.lexsort((body[:, 1], body[:, 0]))[0])
    body = np.concatenate([body[k:], body[:k]])
    return np.vstack([body, body[:1]])


def _merge_runs(c, f, s0, s1, y0, y1):
    """Merge boundary pieces cut from the same carrier edge ``c`` with
    the same direction ``f`` whose slab ranges [s0, s1] abut, so output
    vertices are input vertices or proper crossings, never slab cuts:
    the (c, f, s0, s1, y0, y1) rows of the merged runs, ordered by
    carrier, direction and slab."""
    k = np.lexsort((s0, f, c))
    c, f, s0, s1, y0, y1 = c[k], f[k], s0[k], s1[k], y0[k], y1[k]
    run = np.empty(len(c) + 1, dtype=bool)
    run[0] = run[-1] = True
    run[1:-1] = (c[1:] != c[:-1]) | (f[1:] != f[:-1]) | (s0[1:] != s1[:-1] + 1)
    cut = np.flatnonzero(run)
    r0, r1 = cut[:-1], cut[1:] - 1
    return c[r0], f[r0], s0[r0], s1[r1], y0[r0], y1[r1]


def _sweep_block(e, n_a, xs, span, s0, s1, ind, tol):
    """Sweep slabs s0..s1-1: (trapezoid area, boundary runs on edges as
    _merge_runs rows, coverage events at the slab borders as (border,
    y, code) arrays), or None on open parity. ``e`` holds the edges
    oriented left to right, A's first ``n_a`` of them; ``span`` their
    slab ranges."""
    # every (edge, slab) incidence of a non-vertical edge in the block
    sel = np.flatnonzero((span[:, 0] < s1) & (span[:, 1] > s0))
    first = np.maximum(span[sel, 0], s0)
    n_slabs = np.minimum(span[sel, 1], s1) - first
    eid = np.repeat(sel, n_slabs)
    slab = np.arange(len(eid)) - np.repeat(np.cumsum(n_slabs) - n_slabs - first, n_slabs)
    x0, x1 = xs[slab], xs[slab + 1]
    lx, ly, rx, ry = e[eid].T
    # multiply before dividing: a vertex of the other operand lying on
    # this edge reads back exactly whenever the quotient is representable
    y0 = np.where(x0 == lx, ly, ly + (x0 - lx) * (ry - ly) / (rx - lx))
    y1 = np.where(x1 == rx, ry, ly + (x1 - lx) * (ry - ly) / (rx - lx))

    srt = np.lexsort((y1, y0, y0 + y1, slab))
    slab, eid, y0, y1 = slab[srt], eid[srt], y0[srt], y1[srt]
    new = np.empty(len(slab) + 1, dtype=bool)
    new[0] = new[-1] = True
    new[1:-1] = (slab[1:] != slab[:-1]) | (y0[1:] != y0[:-1]) | (y1[1:] != y1[:-1])
    bounds = np.flatnonzero(new)  # one group per set of coincident edges
    gs = bounds[:-1]
    g_slab, g_y0, g_y1 = slab[gs], y0[gs], y1[gs]
    na = np.add.reduceat((eid < n_a).astype(np.int64), gs)
    nb = np.diff(bounds) - na
    carrier = np.minimum.reduceat(eid, gs)
    sfirst = np.empty(len(gs) + 1, dtype=bool)
    sfirst[0] = sfirst[-1] = True
    sfirst[1:-1] = g_slab[1:] != g_slab[:-1]
    after_a = _seg_cumsum(na & 1, sfirst[:-1]) & 1 == 1
    after_b = _seg_cumsum(nb & 1, sfirst[:-1]) & 1 == 1
    if (after_a | after_b)[sfirst[1:]].any():
        return None  # open parity: numerically inconsistent slab
    below = ind(after_a ^ (na & 1 == 1), after_b ^ (nb & 1 == 1))
    above = ind(after_a, after_b)

    # result trapezoids: between group g-1 and g wherever below[g]
    # (below of a slab's first group is ind(False, False) = False)
    trap = np.flatnonzero(below)
    prev = trap - 1
    t_slab = g_slab[trap]
    h0, h1 = g_y0[trap] - g_y0[prev], g_y1[trap] - g_y1[prev]
    area = float(np.sum((xs[t_slab + 1] - xs[t_slab]) * (h0 + h1) / 2.0))

    # boundary on edges where the indicator flips across a group
    # (region above a left-to-right piece is on its left)
    em = np.flatnonzero(below != above)
    runs = _merge_runs(carrier[em], above[em], g_slab[em], g_slab[em], g_y0[em], g_y1[em])

    # coverage events per border: ls rows are right-slab coverage, rs
    # rows left-slab coverage, coded left-slab end, right-slab end,
    # right-slab start, left-slab start (0-3)
    ls, rs = h0 > tol, h1 > tol
    n_l, n_r = int(ls.sum()), int(rs.sum())
    border = np.concatenate([t_slab[ls], t_slab[rs] + 1])
    events = (
        np.concatenate([border, border]),
        np.concatenate([g_y0[prev[ls]], g_y1[prev[rs]], g_y0[trap[ls]], g_y1[trap[rs]]]),
        np.repeat([2, 3, 1, 0], [n_l, n_r, n_l, n_r]),
    )
    return area, runs, events


def _border_pieces(ev_b, ev_y, code, xs, tol) -> list:
    """Boundary on slab borders: the XOR of the result's coverage from
    the left slab and from the right slab at each border x, from the
    coverage events of whole borders, ordered by y, then code."""
    k = np.lexsort((code, ev_y, ev_b))
    code, ev_y, ev_b = code[k], ev_y[k], ev_b[k]
    cl = np.cumsum((code == 3).astype(np.int64) - (code == 0))  # each border sums to zero
    cr = np.cumsum((code == 2).astype(np.int64) - (code == 1))
    now = (cl & 1) != (cr & 1)
    was = np.concatenate([[False], now[:-1]])
    st, en = np.flatnonzero(now & ~was), np.flatnonzero(was & ~now)
    keep = (ev_y[en] - ev_y[st]) > tol
    st, en = st[keep], en[keep]
    return [
        ((x, a), (x, b)) if up else ((x, b), (x, a))
        for x, a, b, up in zip(
            xs[ev_b[st]].tolist(), ev_y[st].tolist(), ev_y[en].tolist(),
            (cl[st] & 1 == 1).tolist(),  # region on the left slab: upward
        )
    ]


def slab_boolean(ga, gb, op: str, tol: float = 1e-9):
    """Boolean of two areal geometries by trapezoidal sweep.
    Returns a list of (coords, ring_offsets) members (possibly empty),
    or None when ring assembly or the area identity fails. Slabs are
    swept in blocks of about _SLAB_CELLS edge incidences, so memory
    stays bounded however many slabs an edge spans."""
    ind = _OPS[op]
    ea, eb = _edges(ga), _edges(gb)
    if not len(ea) or not len(eb):
        return None
    lo_a, hi_a = ea.reshape(-1, 2).min(axis=0), ea.reshape(-1, 2).max(axis=0)
    lo_b, hi_b = eb.reshape(-1, 2).min(axis=0), eb.reshape(-1, 2).max(axis=0)
    if op == "intersection" and ((hi_a < lo_b) | (hi_b < lo_a)).any():
        return []  # bounding boxes apart: no common point
    e = np.concatenate([ea, eb])
    xs = np.unique(np.concatenate([e[:, 0], e[:, 2], _crossing_xs(ea, eb)]))
    e = np.where((e[:, 0] > e[:, 2])[:, None], e[:, [2, 3, 0, 1]], e)
    span = np.searchsorted(xs, e[:, [0, 2]])
    # cut the slabs into blocks of about _SLAB_CELLS incidences
    per_slab = np.cumsum(np.bincount(span[:, 0], minlength=len(xs)) - np.bincount(span[:, 1], minlength=len(xs)))
    cum = np.cumsum(per_slab)
    cuts = np.searchsorted(cum, np.arange(_SLAB_CELLS, cum[-1], _SLAB_CELLS))
    cuts = np.unique(np.concatenate([[0], cuts, [len(xs) - 1]])).tolist()

    area = 0.0
    runs: list = []
    border_pieces: list = []
    carry = (np.empty(0, np.int64), np.empty(0), np.empty(0, np.int64))
    for s0, s1 in zip(cuts[:-1], cuts[1:]):
        block = _sweep_block(e, len(ea), xs, span, s0, s1, ind, tol)
        if block is None:
            return None
        area += block[0]
        runs.append(block[1])
        # border s1 also takes events from the next block's first slab
        events = tuple(np.concatenate(p) for p in zip(carry, block[2]))
        whole = (events[0] < s1) | (s1 == cuts[-1])
        border_pieces += _border_pieces(*(p[whole] for p in events), xs, tol)
        carry = tuple(p[~whole] for p in events)

    _c, fwd, r0, r1, y0, y1 = _merge_runs(*(np.concatenate(p) for p in zip(*runs)))
    pieces = [
        ((a, b), (c, d)) if f else ((c, d), (a, b))
        for a, b, c, d, f in zip(
            xs[r0].tolist(), y0.tolist(), xs[r1 + 1].tolist(), y1.tolist(), fwd.tolist(),
        )
    ] + border_pieces
    rings = _trace_faces(pieces, tol)
    if rings is None:
        return None
    if not rings:
        return [] if abs(area) <= tol else None
    rings = [_start_at_min(r) for r in rings]
    coords = np.concatenate(rings)
    offs = np.concatenate([[0], np.cumsum([len(r) for r in rings])])
    out: list = []
    total = 0.0
    for shell_idx, hole_idxs in geo.multipolygon_parts(coords, offs):
        member = [geo._ccw_ring(rings[shell_idx])] + [
            geo._ccw_ring(rings[h])[::-1] for h in hole_idxs
        ]
        mc = np.concatenate(member)
        mo = np.concatenate([[0], np.cumsum([len(r) for r in member])])
        total += geo.polygon_area_deg2(mc, mo)
        out.append((mc, mo))
    if abs(total - area) > 1e-9 * max(1.0, abs(area)):
        return None  # area identity gate: never a wrong polygon
    out.sort(key=lambda m: (m[0][0, 0], m[0][0, 1]))
    return out
