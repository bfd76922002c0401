"""``pages_geotag``: the stored pages table goes through
``contract.pages_pipeline(pages_df=...)`` and yields per-polygon counts.

One request is one job over the union of the K id-range chunk
directories, re-read from parquet each time (the files stay in the OS
page cache). The fused kernel and the Arrow boundary do almost all of the
work; no operator or overlay code runs in the timed loop.

The traced run adds the write path: the same fused stage over the same
chunks, each chunk written through ``manifest.run_checkpointed`` into a
fresh table root, then a second call that must skip every committed
chunk. Its rows are checked like the requests' answers.
"""

from __future__ import annotations

import os
import statistics
import time

from collections import Counter

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from pyspark.sql import functions as F

from geomesa_spark import contract
from geomesa_spark.sources import manifest, synth
from geomesa_spark.sources import extract as extract_mod

from perfbench import checks
from perfbench import trace as T

N_PAGES = 32_000  # pages in the table, split into CHUNKS id-range chunks
CHUNKS = 4
OP = "geotag"


_HEAD = '<head><title>Page {}</title><style>body {{ font: 12px serif; }}</style><script>var tracker = "no";</script></head>\r\n<body>'
_U = np.uint64


def pages_pdf(ids) -> pd.DataFrame:
    """The pages ``synth.pages_pdf`` makes for these ids, byte for byte
    (asserted in test_checks.py), with the per-page hashes computed as
    whole arrays instead of one numpy scalar call per paragraph and
    mention: generation is set-up time, and the scalar form made it the
    largest part of the page workloads' set-up."""
    h = synth.hash64
    ids = np.asarray(ids, dtype=np.uint64)
    n = len(ids)
    ts = synth.WARC_EPOCH + (h(ids * _U(17)) % _U(365 * 86400)).astype(np.int64)
    lang_draw = (h(ids * _U(13) + _U(1)) % _U(100)).astype(np.int64)
    lang = synth._LANGS[np.searchsorted(synth._LANG_CUM, lang_draw, side="right")]
    n_para = 1 + (h(ids * _U(3)) % _U(8)).astype(np.int64)
    n_ment = (h(ids * _U(7) + _U(3)) % _U(6)).astype(np.int64)

    # paragraphs: (page, p) rows, then their words
    pg = np.repeat(np.arange(n), n_para)
    p = np.arange(len(pg)) - np.repeat(np.cumsum(n_para) - n_para, n_para)
    pu = p.astype(np.uint64)
    nw = 8 + (h(ids[pg] * _U(131) + pu * _U(7) + _U(11)) % _U(13)).astype(np.int64)
    wp = np.repeat(np.arange(len(pg)), nw)
    w = (np.arange(len(wp)) - np.repeat(np.cumsum(nw) - nw, nw)).astype(np.uint64)
    widx = (h(ids[pg][wp] * _U(1009) + pu[wp] * _U(97) + w) % _U(len(synth._VOCAB))).astype(np.int64)
    words = synth._VOCAB[widx].tolist()
    para_html = []
    s = 0
    for j, k in enumerate(nw.tolist()):
        txt = " ".join(words[s : s + k])
        s += k
        if p[j] % 3 == 2:
            txt = "<b><i>" + txt + "</i></b>"
        para_html.append(f"<p>{txt} &amp; more.</p>\r\n")

    # mentions: (page, m) rows; 20% name a hot city
    mg = np.repeat(np.arange(n), n_ment)
    m = (np.arange(len(mg)) - np.repeat(np.cumsum(n_ment) - n_ment, n_ment)).astype(np.uint64)
    mi = ids[mg]
    hot = (h(mi * _U(11) + m) % _U(10)) < _U(2)
    hot_name = synth._N_GAZ_REG + (h(mi * _U(29) + m) % _U(3)).astype(np.int64)
    reg_name = (h(mi * _U(31) + m + _U(5)) % _U(synth._N_GAZ_REG)).astype(np.int64)
    names = synth._GAZ_NAMES[np.where(hot, hot_name, reg_name)].tolist()
    ment_html = [f'<p>visit <span class="geo" data-name="{x}">{x}</span> soon</p>\n' for x in names]

    htmls = []
    pe = np.cumsum(n_para).tolist()
    me = np.cumsum(n_ment).tolist()
    ps = ms = 0
    for k, i in enumerate(ids.tolist()):
        htmls.append(
            ("<html>" + _HEAD.format(i) + "".join(para_html[ps : pe[k]]) + "".join(ment_html[ms : me[k]]) + "</body></html>").encode()
        )
        ps, ms = pe[k], me[k]
    pdf = pd.DataFrame(
        {
            "url": [f"https://site{i % 1000}.example/p/{i}" for i in ids.tolist()],
            "warc_ts": pd.to_datetime(ts, unit="s").astype("datetime64[us]"),
            "html": htmls,
            "lang": lang,
        }
    )
    pdf["text"] = extract_mod.extract_text_series(pdf["html"])
    return pdf[["url", "warc_ts", "html", "text", "lang"]]


def gen_pages(batches):
    """mapInArrow body: the pages of each batch of ids, tagged with the
    id-range chunk the ids belong to."""
    for b in batches:
        pdf = pages_pdf(b.column("id").to_numpy())
        pdf["chunk"] = b.column("chunk").to_numpy()
        yield pa.RecordBatch.from_pandas(pdf, preserve_index=False)


def first_id(seed: int) -> int:
    """Seed -> first page id; different seeds read disjoint id ranges."""
    return 1_000_000 + (seed % 100_000) * N_PAGES


def _dir_bytes(d: str) -> int:
    return sum(os.path.getsize(os.path.join(dp, f)) for dp, _, fs in os.walk(d) for f in fs if f.endswith(".parquet"))


class PagesGeotag:
    ROUND = 8  # jobs; every run measures whole rounds

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.spark = ctx.spark
        self.root = os.path.join(ctx.run_dir, "pages")
        self.chunk_dirs = [os.path.join(self.root, f"chunk={k}") for k in range(CHUNKS)]
        self.probe_errors: list[str] = []

    # -- set-up -----------------------------------------------------------

    def prepare(self) -> None:
        lo = first_id(self.ctx.seed)
        per = N_PAGES // CHUNKS
        ids = self.spark.range(lo, lo + N_PAGES, 1, CHUNKS).withColumn(
            "chunk", ((F.col("id") - F.lit(lo)) / F.lit(per)).cast("int")
        )
        (
            ids.mapInArrow(gen_pages, synth.PAGES_SCHEMA_DDL + ", chunk int")
            .write.partitionBy("chunk")
            .mode("overwrite")
            .parquet(self.root)
        )
        self.pages_df = self.spark.read.parquet(*self.chunk_dirs)

    def warm_up(self) -> None:
        # the first job also computes the polygon covers; job times keep
        # falling for about six jobs while the JVM compiles the hot paths
        for _ in range(6):
            contract.pages_pipeline(self.spark, pages_df=self.pages_df).collect()

    def build_reference(self) -> list[str]:
        self.ref_chunks = []
        for d in self.chunk_dirs:
            t = pq.read_table(d, columns=["url", "html"])
            self.ref_chunks.append(
                checks.PagesReference(
                    t.column("url").to_pylist(), t.column("html").to_pylist(), synth.gazetteer_pdf(), synth.polygons()
                )
            )
        self.ref_counts = checks.polygon_counts(sum((ref.rows for ref in self.ref_chunks), Counter()))
        n = sum(ref.n_pages for ref in self.ref_chunks)
        return [] if n == N_PAGES else [f"generated {n} pages, expected {N_PAGES}"]

    # -- requests -----------------------------------------------------------

    def op_for(self, i: int) -> str:
        return "pages_pipeline"

    def items_for(self, op: str) -> int:
        return N_PAGES

    def request(self, i: int, op: str, parent: str | None, detail: dict):
        t0 = time.perf_counter()
        if parent is not None:
            with _TracedFusedStage(self.ctx, parent):
                df = contract.pages_pipeline(self.spark, pages_df=self.pages_df)
        else:
            df = contract.pages_pipeline(self.spark, pages_df=self.pages_df)
        t1 = time.perf_counter()
        rows = df.collect()
        detail["build_s"] = t1 - t0
        detail["exec_s"] = time.perf_counter() - t1
        return [(r["polygon_id"], r["n_mentions"], r["n_pages"]) for r in rows]

    def check(self, i: int, op: str, answer, detail: dict) -> list[str]:
        return checks.check_polygon_counts(self.ref_counts, answer)

    def final_check(self) -> list[str]:
        return self.probe_errors

    def sizes(self) -> dict:
        return {"pages": N_PAGES, "chunks": CHUNKS, "first_id": first_id(self.ctx.seed)}

    def named_metrics(self, samples) -> dict:
        return {"pages_per_s": statistics.median(N_PAGES / s.latency_s for s in samples)}

    # -- traced run ---------------------------------------------------------

    def layer_metrics(self, samples) -> dict:
        ctx = self.ctx
        ctx.tracer.load_worker_files(ctx.span_dir)
        traced = [s for s in samples if s.traced]
        req_ids = {s.group for s in traced}
        spans = [s for s in ctx.tracer.spans if s.get("request") in req_ids]
        exec_wall = sum(s.detail["exec_s"] for s in traced)
        out = fused_layer_metrics(spans, exec_wall, ctx.hw["nproc"], len(traced))
        out["spark.null_kernel_pages_per_s"] = self._null_kernel_rate()
        out["contract.kernel_pages_per_s"] = self._kernel_rate()
        out.update(self._ingest_probe())
        return out

    def _null_kernel_rate(self) -> float:
        """The boundary's ceiling: the same scan and aggregate through
        ``mapInArrow`` with a closure that does no work (median of 3)."""
        rates = []
        for _ in range(3):
            t = time.perf_counter()
            (
                self.pages_df.select("url", "html")
                .mapInArrow(noop_stage, "url string, polygon_id long")
                .groupBy("polygon_id")
                .agg(F.count(F.lit(1)).alias("n_mentions"), F.countDistinct("url").alias("n_pages"))
                .collect()
            )
            rates.append(N_PAGES / (time.perf_counter() - t))
        return statistics.median(rates)

    def _kernel_rate(self) -> float:
        """Spark-free: the real fused closure over the same pages in Arrow
        batches of Spark's default size, in this process (median of 3)."""
        fused = contract.fused_pip_stage(contract.GRID_LEVEL)
        batches = [
            b for d in self.chunk_dirs for b in pq.read_table(d, columns=["url", "html"]).to_batches(max_chunksize=10_000)
        ]
        rates = []
        for _ in range(3):
            t = time.perf_counter()
            for _out in fused(iter(batches)):
                pass
            rates.append(N_PAGES / (time.perf_counter() - t))
        return statistics.median(rates)

    def _make_chunk_df(self, spark, part: str):
        return (
            spark.read.parquet(self.chunk_dirs[int(part)])
            .select("url", "html")
            .mapInArrow(contract.fused_pip_stage(contract.GRID_LEVEL), "url string, polygon_id long")
        )

    def _ingest_probe(self) -> dict:
        """The write path: chunk k through ``run_checkpointed`` with the
        fused output's ``polygon_id`` as the histogram column, one call per
        chunk, then a resume call that must commit nothing."""
        tracer = self.ctx.tracer
        sc = self.spark.sparkContext
        tracker = sc.statusTracker()
        root = os.path.join(self.ctx.run_dir, "ingest")
        parts = [str(k) for k in range(CHUNKS)]
        jobs, partition_s, errors = [], [], []
        for k in range(CHUNKS):
            group = f"perfbench-ingest-{k}"
            sc.setJobGroup(group, "ingest")
            with _ManifestSpans(tracer), tracer.span("manifest.partition") as span:
                manifest.run_checkpointed(
                    self.spark, root, OP, parts[: k + 1], self._make_chunk_df, cell_col="polygon_id", input_desc=f"chunk {k}"
                )
            partition_s.append(T.dur_s(span))
            jobs.append(len(tracker.getJobIdsForGroup(group)))
        sc.setLocalProperty("spark.jobGroup.id", None)
        before = manifest.current_snapshot(root)["snapshot_id"]
        if before != CHUNKS - 1:
            errors.append(f"ingest: {before + 1} commits for {CHUNKS} chunks")
        t = time.perf_counter()
        manifest.run_checkpointed(self.spark, root, OP, parts, self._make_chunk_df, cell_col="polygon_id")
        resume_s = time.perf_counter() - t
        if manifest.current_snapshot(root)["snapshot_id"] != before:
            errors.append("ingest: the resume call committed a snapshot")

        entries = {e["partition"]: e for e in manifest.lineage(root) if e["op"] == OP}
        if sorted(entries) != parts:
            errors.append(f"ingest: lineage holds partitions {sorted(entries)}, expected {parts}")
        written = 0
        for k, ref in enumerate(self.ref_chunks):
            e = entries.get(str(k))
            if e is None:
                continue
            files = [os.path.join(root, f) for f in e["files"]]
            written += sum(os.path.getsize(f) for f in files)
            t = pa.concat_tables([pq.read_table(f, columns=["url", "polygon_id"]) for f in files])
            got = Counter(zip(t.column("url").to_pylist(), t.column("polygon_id").to_pylist()))
            errors += checks.check_multiset(ref.rows, got, f"ingest chunk {k} rows")
            if e.get("rows") != sum(ref.rows.values()):
                errors.append(f"ingest chunk {k}: lineage rows {e.get('rows')} != {sum(ref.rows.values())}")
        self.probe_errors = errors
        stats = T.by_name(tracer.spans, "manifest.cell_stats")
        commits = T.by_name(tracer.spans, "manifest.commit_partition")
        return {
            "manifest.partition_s": statistics.median(partition_s),
            "manifest.cell_stats_s": statistics.median(T.dur_s(s) for s in stats),
            "manifest.commit_s": statistics.median(T.dur_s(s) for s in commits),
            "manifest.jobs_per_partition": statistics.median(jobs),
            "manifest.bytes_written_per_input_byte": written / sum(_dir_bytes(d) for d in self.chunk_dirs),
            "manifest.resume_s": resume_s,
        }


class _TracedFusedStage:
    """Stands in for ``contract.fused_pip_stage`` during one traced request:
    the real factory builds the closure while ``extract_entities_arrow`` is
    the traced wrapper (the factory binds it), and the closure is handed to
    ``mapInArrow`` inside ``trace.traced_stage``."""

    def __init__(self, ctx, parent: str | None) -> None:
        self.ctx = ctx
        self.parent = parent
        self.real = contract.fused_pip_stage

    def __call__(self, level: int = contract.GRID_LEVEL):
        extract_mod.extract_entities_arrow = T.traced_extract_entities_arrow
        try:
            fused = self.real(level)
        finally:
            extract_mod.extract_entities_arrow = T._REAL_EXTRACT
        return T.traced_stage(fused, self.ctx.span_dir, self.ctx.tracer.request, self.parent)

    def __enter__(self):
        contract.fused_pip_stage = self
        return self

    def __exit__(self, *exc):
        contract.fused_pip_stage = self.real


class _ManifestSpans:
    """Spans around the module-level ``cell_stats`` and ``commit_partition``
    that ``run_checkpointed`` calls."""

    def __init__(self, tracer) -> None:
        self.tracer = tracer
        self.real_stats = manifest.cell_stats
        self.real_commit = manifest.commit_partition

    def __enter__(self):
        tracer, real_stats, real_commit = self.tracer, self.real_stats, self.real_commit

        def cell_stats(*a, **kw):
            with tracer.span("manifest.cell_stats"):
                return real_stats(*a, **kw)

        def commit_partition(*a, **kw):
            with tracer.span("manifest.commit_partition"):
                return real_commit(*a, **kw)

        manifest.cell_stats = cell_stats
        manifest.commit_partition = commit_partition
        return self

    def __exit__(self, *exc):
        manifest.cell_stats = self.real_stats
        manifest.commit_partition = self.real_commit


def noop_stage(batches):
    """The fused stage's boundary with no work: read every input batch,
    emit nothing."""
    schema = pa.schema([("url", pa.string()), ("polygon_id", pa.int64())])
    for _ in batches:
        yield pa.RecordBatch.from_pylist([], schema=schema)


def fused_layer_metrics(spans: list[dict], exec_wall_s: float, slots: int, n_requests: int) -> dict:
    """Per-layer metrics of the fused stage from the worker spans of the
    traced requests; counts and times are per request unless the name says
    otherwise."""
    out: dict[str, float] = {}
    if not n_requests:
        return out
    selfs = T.self_times(spans)
    waits: dict[str, float] = {}
    for s in spans:
        if s["name"] == "spark.arrow_in" and s.get("parent"):
            waits[s["parent"]] = waits.get(s["parent"], 0.0) + T.dur_s(s)
    batches = [s for s in spans if s["name"] == "contract.fused.batch" and not s["attrs"].get("empty")]
    own = [T.dur_s(b) - waits.get(b["id"], 0.0) for b in batches]  # closure time, input wait excluded
    ext = T.by_name(spans, "sources.extract")
    enc = T.by_name(spans, "functions.cells.grid_encode")
    pip = T.by_name(spans, "functions.geometry.pip")
    pages_in = sum(s["attrs"]["pages"] for s in ext)
    pip_points = sum(s["attrs"]["points"] for s in pip)

    def self_s(group):
        return sum(selfs[s["id"]] for s in group) / 1e9 / n_requests

    out["spark.outside_frac"] = 1.0 - sum(own) / (exec_wall_s * slots) if exec_wall_s else 0.0
    out["contract.fused.batch_s"] = statistics.median(own) if own else 0.0
    out["contract.fused.batches"] = len(batches) / n_requests
    out["contract.fused.rows_in"] = sum(b["attrs"]["rows_in"] for b in batches) / n_requests
    out["contract.fused.rows_out"] = sum(b["attrs"]["rows_out"] for b in batches) / n_requests
    out["contract.glue_self_s"] = self_s(batches)
    out["sources.extract.self_s"] = self_s(ext)
    out["sources.extract.calls"] = len(ext) / n_requests
    out["sources.extract.matches_per_page"] = sum(s["attrs"]["matches"] for s in ext) / pages_in if pages_in else 0.0
    out["functions.cells.grid_encode_s"] = self_s(enc)
    out["functions.cells.points_encoded"] = sum(s["attrs"]["points"] for s in enc) / n_requests
    out["functions.geometry.pip_s"] = self_s(pip)
    out["functions.geometry.pip_calls"] = len(pip) / n_requests
    out["functions.geometry.pip_points"] = pip_points / n_requests
    out["functions.geometry.pip_kept_frac"] = sum(s["attrs"]["kept"] for s in pip) / pip_points if pip_points else 0.0
    return out
