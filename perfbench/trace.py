"""Span tracing for the benchmark's traced runs.

Spans are recorded only from benchmark code, around calls into the
program's public functions; nothing inside ``geomesa_spark`` is edited.

- On the driver, a ``Tracer`` keeps spans in memory and writes them out
  when the run ends.
- On Python workers, a ``WorkerRecorder`` collects the spans of one task
  and appends them to ``<span_dir>/w-<pid>.jsonl`` when the task ends; the
  driver merges those files after the run.

A span is ``(id, name, start_ns, end_ns, parent, request, attrs)``.
Timestamps come from ``time.monotonic_ns`` (CLOCK_MONOTONIC, shared by
every process on the host). A span's self time is its duration minus the
part of its interval covered by its child spans.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import time

from collections import defaultdict

_IDS = itertools.count(1)


def _new_id() -> str:
    return f"{os.getpid()}-{next(_IDS)}"


class Tracer:
    """In-memory span store with one parent stack (the benchmark drives one
    request at a time from one thread). Spans opened with an empty stack get
    ``root_parent`` as their parent."""

    def __init__(self, request: str | None = None, root_parent: str | None = None) -> None:
        self.spans: list[dict] = []
        self._stack: list[str] = []
        self.request = request
        self.root_parent = root_parent

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        sid = _new_id()
        parent = self._stack[-1] if self._stack else self.root_parent
        rec = {"id": sid, "name": name, "parent": parent, "request": self.request, "attrs": attrs}
        self._stack.append(sid)
        rec["start_ns"] = time.monotonic_ns()
        try:
            yield rec
        finally:
            rec["end_ns"] = time.monotonic_ns()
            self._stack.pop()
            self.spans.append(rec)

    def load_worker_files(self, span_dir: str) -> None:
        """Merge the span files Python workers appended to ``span_dir``,
        and remove them so a later call does not merge them twice."""
        for fn in sorted(os.listdir(span_dir)):
            if fn.endswith(".jsonl"):
                path = os.path.join(span_dir, fn)
                with open(path) as f:
                    self.spans.extend(json.loads(line) for line in f)
                os.remove(path)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def self_times(spans: list[dict]) -> dict[str, int]:
    """Span id -> self time in ns: duration minus the union of the
    intervals of its children (clipped to the parent's interval)."""
    children: dict[str, list[tuple[int, int]]] = defaultdict(list)
    for s in spans:
        if s.get("parent"):
            children[s["parent"]].append((s["start_ns"], s["end_ns"]))
    out = {}
    for s in spans:
        lo, hi = s["start_ns"], s["end_ns"]
        covered = 0
        cur_lo = cur_hi = None
        for a, b in sorted(children.get(s["id"], [])):
            a, b = max(a, lo), min(b, hi)
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (hi - lo) - covered
    return out


def by_name(spans: list[dict], name: str) -> list[dict]:
    return [s for s in spans if s["name"] == name]


def dur_s(s: dict) -> float:
    return (s["end_ns"] - s["start_ns"]) / 1e9


# ---------------------------------------------------------------------------
# worker side: the recorder the traced wrappers below write into
# ---------------------------------------------------------------------------

_ACTIVE: "WorkerRecorder | None" = None


class WorkerRecorder(Tracer):
    """Spans of one Python-worker task, appended to a per-worker file."""

    def __init__(self, span_dir: str, request: str, parent: str | None) -> None:
        super().__init__(request, parent)
        self.span_dir = span_dir

    def flush(self) -> None:
        os.makedirs(self.span_dir, exist_ok=True)
        with open(os.path.join(self.span_dir, f"w-{os.getpid()}.jsonl"), "a") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")
        self.spans = []


def _span(name: str, **attrs):
    rec = _ACTIVE
    return rec.span(name, **attrs) if rec is not None else contextlib.nullcontext({"attrs": {}})


# Real program functions, bound at import time: on a worker this module is
# imported fresh, so these are the unwrapped originals.
from geomesa_spark.functions import cells as _cells  # noqa: E402
from geomesa_spark.functions import geometry as _geometry  # noqa: E402
from geomesa_spark.sources import extract as _extract  # noqa: E402

_REAL_EXTRACT = _extract.extract_entities_arrow
_REAL_GRID_ENCODE = _cells.grid_encode
_REAL_PIP = _geometry.points_in_polygon


def traced_extract_entities_arrow(col):
    with _span("sources.extract", pages=len(col)) as rec:
        rows, names = _REAL_EXTRACT(col)
        rec["attrs"]["matches"] = len(names)
        return rows, names


def traced_grid_encode(lon, lat, level):
    with _span("functions.cells.grid_encode", points=len(lon)):
        return _REAL_GRID_ENCODE(lon, lat, level)


def traced_points_in_polygon(lon, lat, coords, ring_offsets):
    with _span("functions.geometry.pip", points=len(lon)) as rec:
        keep = _REAL_PIP(lon, lat, coords, ring_offsets)
        rec["attrs"]["kept"] = int(keep.sum())
        return keep


@contextlib.contextmanager
def worker_patches(recorder: WorkerRecorder):
    """Route this worker's calls to grid_encode / points_in_polygon through
    the traced wrappers for the duration of one task (workers are reused
    across traced and untraced requests, so the originals come back)."""
    global _ACTIVE
    _ACTIVE = recorder
    _cells.grid_encode = traced_grid_encode
    _geometry.points_in_polygon = traced_points_in_polygon
    try:
        yield
    finally:
        _cells.grid_encode = _REAL_GRID_ENCODE
        _geometry.points_in_polygon = _REAL_PIP
        _ACTIVE = None


def traced_stage(fused, span_dir: str, request: str, parent: str | None):
    """Wrap a fused ``mapInArrow`` closure so that each output batch is one
    ``contract.fused.batch`` span. Time spent pulling the next input batch
    from Spark is a ``spark.arrow_in`` child span, so the closure's own time
    is the batch span's self time minus its program-call children."""

    def stage(batches):
        from perfbench import trace as T

        rec = T.WorkerRecorder(span_dir, request, parent)
        counts = {"rows_in": 0}

        def pulled():
            it = iter(batches)
            while True:
                with rec.span("spark.arrow_in"):
                    try:
                        b = next(it)
                    except StopIteration:
                        return
                counts["rows_in"] += b.num_rows
                yield b

        with T.worker_patches(rec):
            out_iter = fused(pulled())
            while True:
                before = counts["rows_in"]
                with rec.span("contract.fused.batch") as span:
                    try:
                        out = next(out_iter)
                    except StopIteration:
                        span["attrs"]["empty"] = True
                        break
                    span["attrs"]["rows_in"] = counts["rows_in"] - before
                    span["attrs"]["rows_out"] = out.num_rows
                yield out
        rec.flush()

    return stage


def traced_udf_func(name: str, func, span_dir: str, request: str):
    """Wrap a pandas UDF's Python function: each Arrow batch it evaluates is
    one ``st.udf`` span in the worker's span file."""

    def run(*cols):
        from perfbench import trace as T

        rec = T.WorkerRecorder(span_dir, request, None)
        with rec.span("st.udf", op=name, rows=len(cols[0])):
            out = func(*cols)
        rec.flush()
        return out

    return run
