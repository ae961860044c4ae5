"""The benchmark's workloads: seeded inputs, one closed-loop pass at a
time, an output check per pass, and the traced variant that splits a
pass into layers.

* ``office_rag`` -- mixed-format office files through
  ``read_documents`` -> ``rag_ingest_pipeline`` -> ``write_elements_parquet``.
* ``crawl_dedup`` -- WARC shards through ``read_warc`` ->
  ``extract_main_content`` -> ``prepare_training_corpus`` -> parquet.

A traced pass runs the same public calls, but the benchmark swaps each
layer's public function for a wrapper that times the lazy call (a
``build`` span), materialises its result with ``localCheckpoint`` (an
``action`` span) and counts its rows (a ``probe`` span). Every span
runs its jobs under a job group of its own, which the status store
reads back per layer.
"""

from __future__ import annotations

import contextlib
import hashlib
import io
import os
import random
import shutil
import time
from dataclasses import dataclass, field

import gen
from harness import PeakRss, local_cores, median, start_spark, stop_spark
from spans import Tracer, collect_group_metrics, self_ms

#: office files per pass, crawl pages per pass
OFFICE_FILES = 1200
CRAWL_PAGES = 40
#: pages in the crawl warm-up slice a set-up passes over
WARM_PAGES = 12
EMBED_DIM = 64  # HashingEncoder's default

SPARK_LAYERS = (
    "sources.files", "sources.warc", "operators.partition_auto",
    "operators.chunking", "operators.embed", "operators.serde",
    "operators.main_content", "operators.pii", "operators.quality_filters",
    "operators.dedup", "pipelines",
)
LAYER_METRICS = (
    ("build_ms", "ms"), ("wall_ms", "ms"), ("exec_cpu_ms", "ms"),
    ("python_gap_ms", "ms"), ("shuffle_bytes", "bytes"), ("rows_out", "count"),
    ("failed_tasks", "count"),
)


@dataclass
class Ctx:
    tmp: str
    seed: int
    seconds: float
    trace: bool
    scale: float
    import_s: float


@dataclass
class Result:
    attempted: int = 0
    failed: int = 0
    metrics: dict = field(default_factory=dict)
    notes: list = field(default_factory=list)

    def put(self, name: str, value: float, unit: str) -> None:
        self.metrics[name] = {"value": value, "unit": unit}


def put_ok_share(res: Result) -> None:
    """Documents whose output was present and right, over documents
    attempted: 1 - failed_share. (A metric that is 0 on every good run
    gives the run-to-run spread nothing to divide by, so the share of
    good documents is the reported form.)"""
    res.put("ok_share", 1 - res.failed / res.attempted, "ratio")
    res.notes.append(f"failed_share = {res.failed}/{res.attempted}")


def _n(base: int, scale: float, floor: int) -> int:
    return max(floor, round(base * scale))


# ---------------------------------------------------------------------------
# traced layer wrappers
# ---------------------------------------------------------------------------


@contextlib.contextmanager
def patched(table):
    """Swap module attributes for wrappers while the block runs.
    ``table``: (module, attribute, wrapper factory) rows."""
    saved = [(m, a, getattr(m, a)) for m, a, _ in table]
    try:
        for m, a, make in table:
            setattr(m, a, make(getattr(m, a)))
        yield
    finally:
        for m, a, orig in saved:
            setattr(m, a, orig)


class LayerTrace:
    """Span-recording wrappers for a traced pass's layer functions, and
    what the wrappers counted."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self.rows: dict[str, int] = {}
        self.inputs: dict[str, object] = {}
        self.extra: dict[str, float] = {}

    def materialize(self, layer: str, df):
        with self.tracer.span(layer, "action"):
            df = df.localCheckpoint(eager=True)
        with self.tracer.span(layer, "probe"):
            self.rows[layer] = self.rows.get(layer, 0) + df.count()
        return df

    def lazy(self, layer: str, fn, input_layer: str | None = None):
        """Wrap a lazy DataFrame -> DataFrame function. With
        ``input_layer`` the first argument is materialised first and
        charged to that layer: the inline step that produced it has no
        public function of its own."""

        def wrapper(*args, **kwargs):
            if input_layer is not None:
                args = (self.materialize(input_layer, args[0]),) + args[1:]
            if args and hasattr(args[0], "localCheckpoint"):
                self.inputs[layer] = args[0]
            with self.tracer.span(layer, "build"):
                out = fn(*args, **kwargs)
            return self.materialize(layer, out)

        return wrapper

    def sink(self, layer: str, fn):
        def wrapper(df, *args, **kwargs):
            with self.tracer.span(layer, "probe"):
                self.rows[layer] = self.rows.get(layer, 0) + df.count()
            with self.tracer.span(layer, "action"):
                return fn(df, *args, **kwargs)

        return wrapper

    def layer_metrics(self, spans, groups) -> dict[str, float]:
        out: dict[str, float] = {}
        for layer in SPARK_LAYERS:
            mine = [s for s in spans if s.name == layer and s.phase != "probe"]
            ms = {ph: sum(self_ms(s, spans) for s in mine if s.phase == ph)
                  for ph in ("build", "action")}
            gm = [groups[s.group] for s in mine if s.group in groups]
            run = sum(g.exec_run_ms for g in gm)
            cpu = sum(g.exec_cpu_ms for g in gm)
            out[f"{layer}.build_ms"] = ms["build"]
            out[f"{layer}.wall_ms"] = ms["action"]
            out[f"{layer}.exec_cpu_ms"] = cpu
            out[f"{layer}.python_gap_ms"] = run - cpu
            out[f"{layer}.shuffle_bytes"] = sum(g.shuffle_bytes for g in gm)
            out[f"{layer}.rows_out"] = self.rows.get(layer, 0)
            out[f"{layer}.failed_tasks"] = sum(g.failed_tasks for g in gm)
            if layer == "pipelines":
                out["pipelines.self_ms"] = ms["build"] + ms["action"]
            if layer == "operators.dedup":
                out["operators.dedup.jobs"] = sum(
                    groups[s.group].jobs for s in mine
                    if s.phase == "build" and s.group in groups
                )
        return out


# ---------------------------------------------------------------------------
# Spark workloads
# ---------------------------------------------------------------------------


class SparkWorkload:
    """One closed-loop caller: a pass starts when the previous pass and
    its output check are done."""

    name = ""
    #: untimed passes over the warm-up corpus at set-up
    warm_passes = 1

    def generate(self, ctx: Ctx) -> None:
        """Write the inputs under ``ctx.tmp``: the warm-up corpus and the
        measured corpus."""
        raise NotImplementedError

    def run_pass(self, spark, src: str, out: str) -> None:
        raise NotImplementedError

    def prepare_check(self, spark) -> None:
        pass

    def check(self, spark, src: str, out: str) -> int:
        """Failed documents in the output ``out`` of a pass over ``src``."""
        raise NotImplementedError

    def patch_table(self, lt: LayerTrace):
        raise NotImplementedError

    def check_trace(self, lt: LayerTrace) -> int:
        """Failed documents that a traced pass's layer counts show."""
        return 0

    def probes(self, spark, lt: LayerTrace, tracer: Tracer, res: Result) -> dict:
        """Extra per-layer numbers measured once, after the passes:
        name -> (value, unit)."""
        return {}

    def setup(self, ctx: Ctx):
        """Session start plus untimed passes over the warm-up corpus.
        Returns (session, set-up seconds since the process started)."""
        self.ctx = ctx
        t = time.perf_counter()
        spark = start_spark(ctx.tmp, local_cores())
        for i in range(self.warm_passes):
            self._pass(spark, self.warm_dir, f"warm-{i}")
        return spark, ctx.import_s + time.perf_counter() - t

    def run(self, ctx: Ctx) -> Result:
        res = Result()
        self.generate(ctx)
        self.n_pass = 0
        with PeakRss() as rss:
            spark, setup_s = self.setup(ctx)
            try:
                self.prepare_check(spark)
                if ctx.trace:
                    self._traced(spark, res)
                else:
                    self._timed(spark, res)
            finally:
                stop_spark(spark)
        if not ctx.trace:
            # one set-up per run: a Spark set-up (JVM, session, warm-up
            # passes) costs 20-45 s on a 4-core host
            res.put("setup_s", setup_s, "s")
            res.put("peak_rss_mb", rss.peak / 2**20, "MB")
            res.notes.append(f"setup s: {setup_s:.3f}")
        return res

    def _pass(self, spark, corpus: str, tag: str, check=None) -> float:
        """One pass over a fresh copy of ``corpus`` (fresh paths: no
        plan-keyed cache an earlier pass left behind can serve it), then
        ``check(src, out)`` if given. Returns the pass's seconds."""
        src = os.path.join(self.ctx.tmp, "in", tag)
        out = os.path.join(self.ctx.tmp, "out", tag)
        shutil.copytree(corpus, src)
        t = time.perf_counter()
        self.run_pass(spark, src, out)
        dt = time.perf_counter() - t
        if check is not None:
            check(src, out)
        shutil.rmtree(src)
        shutil.rmtree(out)
        return dt

    def _one_pass(self, spark, res: Result) -> float:
        """One timed and checked pass over the measured corpus."""
        def check(src, out):
            res.attempted += self.n_docs
            res.failed += self.check(spark, src, out)

        self.n_pass += 1
        return self._pass(spark, self.src_dir, f"pass-{self.n_pass}", check)

    def _timed(self, spark, res: Result) -> None:
        times: list[float] = []
        # at least two passes: with a pass close to ``seconds`` long, runs
        # would otherwise split between one pass and two
        while len(times) < 2 or sum(times) < self.ctx.seconds:
            times.append(self._one_pass(spark, res))
        res.put("docs_per_s", median([self.n_docs / t for t in times]), "1/s")
        put_ok_share(res)
        res.notes.append(
            f"{len(times)} passes of {self.n_docs} docs; pass s: {[round(t, 3) for t in times]}"
        )

    def _traced(self, spark, res: Result) -> None:
        tracer = Tracer(self.name, spark.sparkContext)
        plain: list[float] = []
        traced: list[float] = []
        per_pass: list[dict] = []
        lt = None
        while not traced or sum(plain) + sum(traced) < self.ctx.seconds:
            plain.append(self._one_pass(spark, res))
            tracer.pass_no += 1
            lt = LayerTrace(tracer)
            first = len(tracer.spans)
            with patched(self.patch_table(lt)):
                traced.append(self._one_pass(spark, res))
            spans = tracer.spans[first:]
            groups = collect_group_metrics(spark.sparkContext, {s.group for s in spans})
            per_pass.append({**lt.layer_metrics(spans, groups), **lt.extra})
            res.failed += self.check_trace(lt)
        units = dict(PER_LAYER)
        for name in per_pass[0]:
            res.put(name, median([p[name] for p in per_pass]), units[name])
        for name, (value, unit) in self.probes(spark, lt, tracer, res).items():
            res.put(name, value, unit)
        res.put("trace.overhead_ms", (median(traced) - median(plain)) * 1e3, "ms")
        res.notes.append(
            f"untraced pass s: {[round(t, 3) for t in plain]}; "
            f"traced pass s: {[round(t, 3) for t in traced]}"
        )
        self.tracer = tracer


class OfficeRag(SparkWorkload):
    name = "office_rag"
    # office passes keep getting faster until a few thousand files have
    # gone through the JVM and the Python workers: on a 4-core host,
    # after four warm-up passes over 120 files the measured passes still
    # sped up by a quarter (7.8 s -> 5.6 s); after two over a corpus as
    # large as the measured one they agree within 3%
    warm_passes = 2
    chunk_args = {"max_characters": 1000, "overlap": 100}  # rag_ingest_pipeline's

    def generate(self, ctx: Ctx) -> None:
        self.warm_dir = os.path.join(ctx.tmp, "office-warm")
        n = _n(OFFICE_FILES, ctx.scale, 60)
        gen.write_files(gen.office_corpus(ctx.seed, n, stream="office-warm"), self.warm_dir)
        self.files = gen.office_corpus(ctx.seed, n)
        self.n_docs = len(self.files)
        self.src_dir = os.path.join(ctx.tmp, "office")
        gen.write_files(self.files, self.src_dir)

    def run_pass(self, spark, src: str, out: str) -> None:
        from unstructured_spark import pipelines
        from unstructured_spark.operators import serde
        from unstructured_spark.sources import files

        docs = files.read_documents(spark, src)
        chunks = pipelines.rag_ingest_pipeline(docs)
        serde.write_elements_parquet(chunks, out)

    def prepare_check(self, spark) -> None:
        """Expected chunk texts for a seeded sample of files, from the
        driver-local facade on the same bytes with the same arguments."""
        from unstructured_spark import api

        rng = random.Random(f"office-sample:{self.ctx.seed}")
        good = [f for f in self.files if not f.malformed]
        self.expected: dict[str, list[str]] = {}
        for f in rng.sample(good, min(len(good), max(20, len(good) // 8))):
            els = api.partition(
                file=io.BytesIO(f.data),
                metadata_filename="file:" + os.path.join(self.src_dir, f.name),
                chunking_strategy="by_title", **self.chunk_args,
            )
            self.expected[f.name] = [_md5(e.text) for e in els]
        # byte-identical copies: the exact-dup window keeps every chunk
        # of the copy with the smallest doc_id and none of the others
        self.copies: dict[str, list[str]] = {}
        for f in good:
            self.copies.setdefault(f.copy_of or f.name, []).append(f.name)

    def check(self, spark, src: str, out: str) -> int:
        from pyspark.sql import functions as F

        from unstructured_spark.sources import files

        doc_of = {
            p.rsplit("/", 1)[-1]: d
            for p, d in files.read_documents(spark, src).select("path", "doc_id").collect()
        }
        emb = F.col("embeddings")
        bad = (
            emb.isNull() | (F.size(emb) != EMBED_DIM)
            | F.exists(emb, lambda x: x.isNull())
        )
        rows = (
            spark.read.parquet(out)
            .groupBy("doc_id")
            .agg(
                F.sort_array(F.collect_list(
                    F.struct("element_index", F.md5("text").alias("h"))
                )).alias("chunks"),
                F.sum(bad.cast("int")).alias("bad"),
            )
            .collect()
        )
        got = {r["doc_id"]: [(c["element_index"], c["h"]) for c in r["chunks"]] for r in rows}
        owner: dict[str, tuple[str, int]] = {}
        for d, chunks in got.items():
            for i, h in chunks:
                owner[h] = min(owner.get(h, (d, i)), (d, i))
        keepers = {min(doc_of[n] for n in g) for g in self.copies.values()}
        failed = {r["doc_id"] for r in rows if r["bad"]}
        failed |= keepers ^ got.keys()  # a file lost, or a malformed file or extra copy kept
        for name, want in self.expected.items():
            d = doc_of[name]
            # a chunk may be missing only if an earlier (doc_id,
            # element_index) carries the same text
            keep = []
            for i, h in enumerate(want):
                if h not in owner or owner[h] > (d, i):
                    failed.add(d)
                elif owner[h] == (d, i):
                    keep.append(h)
            if [h for _, h in got.get(d, [])] != keep:
                failed.add(d)
        return len(failed)

    def check_trace(self, lt: LayerTrace) -> int:
        # partition skips the seeded malformed files and nothing else
        malformed = sum(f.malformed for f in self.files)
        return abs(lt.extra["operators.partition_auto.docs_skipped"] - malformed)

    def probes(self, spark, lt: LayerTrace, tracer: Tracer, res: Result) -> dict:
        """Per-document timings of the public calls a parse is made of,
        on the driver, over the pass's files."""
        failed, timings = facade_sweep(self.files, tracer)
        res.attempted += len(self.files)
        res.failed += failed
        return timings

    def patch_table(self, lt: LayerTrace):
        from unstructured_spark import pipelines
        from unstructured_spark.operators import chunking, embed, partition_auto, serde
        from unstructured_spark.sources import files

        def partition(fn):
            wrapped = lt.lazy("operators.partition_auto", fn)

            def with_skips(df, *a, **kw):
                out = wrapped(df, *a, **kw)
                with lt.tracer.span("operators.partition_auto", "probe"):
                    lt.extra["operators.partition_auto.docs_skipped"] = (
                        lt.inputs["operators.partition_auto"].count()
                        - out.select("doc_id").distinct().count()
                    )
                return out

            return with_skips

        return [
            (files, "read_documents", lambda fn: lt.lazy("sources.files", fn)),
            (pipelines, "rag_ingest_pipeline", lambda fn: lt.lazy("pipelines", fn)),
            (partition_auto, "partition_documents", partition),
            (chunking, "chunk", lambda fn: lt.lazy("operators.chunking", fn)),
            (embed, "embed_elements", lambda fn: lt.lazy("operators.embed", fn)),
            (serde, "write_elements_parquet", lambda fn: lt.sink("operators.serde", fn)),
        ]


def _md5(s: str) -> str:
    return hashlib.md5(s.encode("utf-8")).hexdigest()


class CrawlDedup(SparkWorkload):
    name = "crawl_dedup"
    # on a 4-core host the first pass over the 12-page slice takes ~20 s,
    # mostly forking and warming the Python workers; later passes are
    # ~8 s and keep getting a little faster as the JVM compiles dedup's
    # dozens of small queries, which every run's measured passes share
    warm_passes = 1

    def generate(self, ctx: Ctx) -> None:
        self.warm_dir = os.path.join(ctx.tmp, "warc-warm")
        # as many shards as the corpus has, so the warm-up pass runs as
        # many tasks and forks as many Python workers as a measured pass
        n = _n(CRAWL_PAGES, ctx.scale, 40)
        shards = -(-n // gen.PAGES_PER_SHARD)
        gen.write_warc_shards(
            gen.crawl_pages(ctx.seed, WARM_PAGES), self.warm_dir,
            per_shard=-(-WARM_PAGES // shards),
        )
        self.pages = gen.crawl_pages(ctx.seed, n)
        self.n_docs = len(self.pages)
        self.src_dir = os.path.join(ctx.tmp, "warc")
        gen.write_warc_shards(self.pages, self.src_dir)
        self.survivors = gen.expected_survivors(self.pages)

    def run_pass(self, spark, src: str, out: str) -> None:
        from pyspark.sql import functions as F

        from unstructured_spark import pipelines
        from unstructured_spark.operators import main_content, serde
        from unstructured_spark.sources import warc

        records = warc.read_warc(spark, src)
        pages = records.select(
            F.regexp_extract("target_uri", r"/page/(\d+)$", 1).cast("bigint").alias("doc_id"),
            "text",
        )
        main = main_content.extract_main_content(pages).select(
            "doc_id", F.col("main_text").alias("text")
        )
        corpus = pipelines.prepare_training_corpus(
            main, redact=True, quality_filter=True, near_dedup=True
        )
        serde.write_elements_parquet(corpus, out)

    def check(self, spark, src: str, out: str) -> int:
        ids = [r[0] for r in spark.read.parquet(out).select("doc_id").collect()]
        got = set(ids)
        dup_rows = len(ids) - len(got)
        return len(got ^ self.survivors) + dup_rows

    def patch_table(self, lt: LayerTrace):
        from unstructured_spark import pipelines
        from unstructured_spark.operators import dedup, main_content, pii, serde
        from unstructured_spark.sources import warc

        return [
            (warc, "read_warc", lambda fn: lt.lazy("sources.warc", fn)),
            (main_content, "extract_main_content",
             lambda fn: lt.lazy("operators.main_content", fn)),
            (pipelines, "prepare_training_corpus", lambda fn: lt.lazy("pipelines", fn)),
            (pii, "redact_docs", lambda fn: lt.lazy("operators.pii", fn)),
            (dedup, "drop_near_duplicates",
             lambda fn: lt.lazy("operators.dedup", fn, input_layer="operators.quality_filters")),
            (serde, "write_elements_parquet", lambda fn: lt.sink("operators.serde", fn)),
        ]

    def probes(self, spark, lt: LayerTrace, tracer: Tracer, res: Result) -> dict:
        """Dedup detail over the dedup layer's own input."""
        from pyspark.sql import functions as F

        from unstructured_spark.operators import dedup

        df = lt.inputs["operators.dedup"]
        with tracer.span("operators.dedup.shingles", "probe") as sp:
            df.select(dedup.shingles(F.col("text"), 3).alias("sh")).write.format(
                "noop"
            ).mode("overwrite").save()
        with tracer.span("operators.dedup.lsh_candidate_pairs", "probe"):
            cands = dedup.lsh_candidate_pairs(df, num_hashes=16, bands=8, shingle_size=3).count()
        with tracer.span("operators.dedup.ngram_jaccard_pairs", "probe"):
            verified = dedup.ngram_jaccard_pairs(
                df, n=3, threshold=0.5, num_hashes=16, bands=8
            ).count()
        pii_rows = lt.rows.get("operators.pii", 0)
        return {
            "operators.dedup.shingle_ms": (sp.ms, "ms"),
            "operators.dedup.candidate_pairs": (cands, "count"),
            "operators.dedup.verified_pairs": (verified, "count"),
            "operators.dedup.verify_ratio": (verified / cands if cands else 0.0, "ratio"),
            "operators.quality_filters.kept_ratio": (
                lt.rows.get("operators.quality_filters", 0) / pii_rows if pii_rows else 0.0,
                "ratio",
            ),
        }


# ---------------------------------------------------------------------------
# driver-local facade, one document at a time
# ---------------------------------------------------------------------------


def facade_sweep(files, tracer: Tracer) -> tuple[int, dict]:
    """Time, document by document, each public call the driver-local
    facade makes -- filetype detection, the format parser, metadata
    finalisation -- then chunk and serialise through the public
    ``chunk_by_title`` and ``elements_to_json``. Returns (documents
    whose outcome was wrong, name -> (median, unit))."""
    from unstructured_spark import api
    from unstructured_spark.operators import metadata
    from unstructured_spark.parsers import dispatch, filetype

    fmt = {"name": ""}

    def timed(name_of, fn):
        def wrapper(*a, **kw):
            with tracer.span(name_of(), "call"):
                return fn(*a, **kw)
        return wrapper

    table = [
        (filetype, "detect_filetype", lambda fn: timed(lambda: "parsers.detect", fn)),
        (dispatch, "partition_bytes", lambda fn: timed(lambda: f"parsers.{fmt['name']}", fn)),
        (metadata, "py_finalize_doc", lambda fn: timed(lambda: "operators.metadata.finalize", fn)),
    ]
    first = len(tracer.spans)
    failed = 0
    with patched(table):
        for f in files:
            fmt["name"] = f.fmt
            with tracer.span("facade.doc", "call"):
                try:
                    els = api.partition(file=io.BytesIO(f.data), metadata_filename=f.name)
                except ValueError:  # MalformedDocumentError is a ValueError
                    failed += not f.malformed
                    continue
                with tracer.span("operators.chunking.fold", "call"):
                    chunks = api.chunk_by_title(els)
                with tracer.span("api.to_json", "call"):
                    api.elements_to_json(chunks)
            failed += f.malformed
    by_name: dict[str, list[float]] = {}
    for sp in tracer.spans[first:]:
        by_name.setdefault(sp.name, []).append(sp.ms)
    out = {"parsers.detect_us_p50": (median(by_name["parsers.detect"]) * 1e3, "us")}
    for f in gen.FORMATS:
        out[f"parsers.{f}.parse_ms_p50"] = (median(by_name.get(f"parsers.{f}", [])), "ms")
    out["operators.metadata.finalize_ms_p50"] = (median(by_name["operators.metadata.finalize"]), "ms")
    out["operators.chunking.fold_ms_p50"] = (median(by_name["operators.chunking.fold"]), "ms")
    out["api.to_json_ms_p50"] = (median(by_name["api.to_json"]), "ms")
    return failed, out


WORKLOADS = {w.name: w for w in (OfficeRag, CrawlDedup)}

END_TO_END = (
    ("setup_s", "s"), ("docs_per_s", "1/s"), ("ok_share", "ratio"), ("peak_rss_mb", "MB"),
)
PER_LAYER = (
    tuple((f"{layer}.{m}", u) for layer in SPARK_LAYERS for m, u in LAYER_METRICS)
    + (
        ("pipelines.self_ms", "ms"),
        ("operators.dedup.shingle_ms", "ms"),
        ("operators.dedup.candidate_pairs", "count"),
        ("operators.dedup.verified_pairs", "count"),
        ("operators.dedup.verify_ratio", "ratio"),
        ("operators.dedup.jobs", "count"),
        ("operators.quality_filters.kept_ratio", "ratio"),
        ("operators.partition_auto.docs_skipped", "count"),
        ("parsers.detect_us_p50", "us"),
    )
    + tuple((f"parsers.{f}.parse_ms_p50", "ms") for f in gen.FORMATS)
    + (
        ("operators.metadata.finalize_ms_p50", "ms"),
        ("operators.chunking.fold_ms_p50", "ms"),
        ("api.to_json_ms_p50", "ms"),
        ("trace.overhead_ms", "ms"),
    )
)
