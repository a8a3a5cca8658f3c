"""The benchmark's workloads.

Each workload prepares seeded inputs, warms the engine, runs timed
passes, checks the outputs against an oracle outside the timed
window, and in the traced run measures its layers from outside. A
layer is timed by wrapping the call into its public function in a
span; the Spark work the call caused is found through the span's job
group in the status store.
"""

from __future__ import annotations

import hashlib
import os
import random
import shutil
import statistics
import time

import pyarrow.parquet as pq
from pyspark.sql import Observation
from pyspark.sql import functions as F

from ocr_intern_spark.operators.extract import (
    ListAccumulator,
    assemble,
    explode_spans,
    extract,
    ocr_media_spans,
    transform_plain_spans,
)
from ocr_intern_spark.oracle.semantics import extract_document
from ocr_intern_spark.sources.corpus import make_corpus, stub_ocr_tokens
from ocr_intern_spark.sources.storage import ExtractionStore
from perfbench import inputs
from perfbench.tracing import (
    TimedRecognizer,
    Tracer,
    stage_totals,
    straggler_ratio,
)

# The heaviest leaves of the four query modules. extract_full_pipeline
# is left to store_resume, which runs the same extraction layers.
QUERIES = (
    "dedup_ngram_jaccard", "text_ccnet_buckets", "text_quality_classifier",
    "text_gopher_repetition", "sim_knn_join_topk",
)

# Every per-layer metric and its unit. A traced run reports all of
# them; a layer the workload does not call reads 0.
LAYER_UNITS: dict[str, str] = {
    "corpus.s": "s",
    "extract.plain.s": "s",
    "extract.plain.rows_in": "count",
    "extract.plain.keep_ratio": "ratio",
    "extract.ocr.s": "s",
    "extract.ocr.media_rows": "count",
    "extract.ocr.tokens_out": "count",
    "extract.ocr.task_ms_sum": "ms",
    "extract.ocr.straggler_ratio": "ratio",
    "extract.ocr.recognize_s": "s",
    "extract.ocr.body_s": "s",
    "extract.ocr.boundary_s": "s",
    "extract.assemble.s": "s",
    "extract.assemble.rows_in": "count",
    "extract.assemble.shuffle_bytes": "bytes",
    "extract.assemble.spill_bytes": "bytes",
    "extract.stages_single_task": "count",
    "extract.task_slot_eff": "ratio",
    "engine.gc_s": "s",
    "engine.jvm_rss_mb": "MB",
    "engine.python_rss_mb": "MB",
    "engine.old_gen_peak_mb": "MB",
    "storage.pending.s": "s",
    "storage.pending.rows": "count",
    "storage.extracted_files": "count",
    "storage.extracted_bytes": "bytes",
    "storage.ledger_rows": "count",
    "storage.upsert.rewrite_ratio": "ratio",
    **{
        f"q.{q}.{m}": u
        for q in QUERIES
        for m, u in (("s", "s"), ("stage_share", "ratio"), ("shuffle_bytes", "bytes"),
                     ("spill_bytes", "bytes"), ("stages_single_task", "count"))
    },
    "trace.overhead_s": "s",
}


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def expected_spans(docs: list[dict]) -> dict[str, list[tuple]]:
    """The pure-Python oracle's output per doc, with the reference
    recognizer: (kind, text, media_ref, order) per span."""
    return {
        d["doc_id"]: [tuple(s) for s in extract_document(d["spans"], stub_ocr_tokens)]
        for d in docs
    }


class Checks:
    """Attempted and failed operations; exceptions and output
    mismatches both count as failed. Output comparisons (one per
    document or query result) also feed ``match_pct``."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.compared = 0
        self.matched = 0
        self.notes: list[str] = []

    def expect(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.notes.append(what)

    def compare(self, ok: bool, what: str) -> None:
        self.compared += 1
        self.matched += ok
        self.expect(ok, what)

    def docs(self, rows, expected: dict[str, list[tuple]]) -> None:
        """Each expected doc must appear exactly once with the oracle's
        spans; an unexpected doc_id is a failed operation too."""
        got: dict[str, list[tuple] | None] = {}
        for r in rows:
            spans = [(s["kind"], s["text"], s["media_ref"], s["order"])
                     for s in r["spans"]]
            got[r["doc_id"]] = None if r["doc_id"] in got else spans
        for doc_id, want in expected.items():
            self.compare(got.get(doc_id) == want, f"doc {doc_id} differs from the oracle")
        for doc_id in set(got) - set(expected):
            self.expect(False, f"unexpected doc {doc_id}")

    def match_pct(self) -> float:
        return 100.0 * self.matched / self.compared if self.compared else 100.0


def extraction_layers(spark, tracer: Tracer, docs_df, recognize, land_dir: str) -> dict:
    """Time the three parts of ``extract`` apart, each landed at its
    boundary: the Catalyst span transform and the OCR stage to
    parquet, then the doc_id reassembly over the two landed frames."""
    sc = spark.sparkContext
    plain_path = os.path.join(land_dir, "plain")
    ocr_path = os.path.join(land_dir, "ocr")
    flat = explode_spans(docs_df)
    obs = Observation("perfbench_flat_rows")
    with tracer.span("extract.plain"):
        transform_plain_spans(
            flat.observe(obs, F.count(F.lit(1)).alias("rows"))
        ).write.mode("overwrite").parquet(plain_path)
    rows_in = int(obs.get["rows"])
    recognize_acc = sc.accumulator(0.0)
    task_acc = sc.accumulator([], ListAccumulator())
    with tracer.span("extract.ocr"):
        ocr_media_spans(
            flat, TimedRecognizer(recognize, recognize_acc),
            ocr_partitions=sc.defaultParallelism, timing_acc=task_acc,
        ).write.mode("overwrite").parquet(ocr_path)
    plain = spark.read.parquet(plain_path)
    ocr = spark.read.parquet(ocr_path)
    kept, tokens = plain.count(), ocr.count()
    with tracer.span("extract.assemble"):
        noop(assemble(plain.unionByName(ocr)))
    return {
        "rows_in": rows_in, "kept": kept, "tokens": tokens,
        "task_rows": list(task_acc.value), "recognize_s": recognize_acc.value,
    }


def task_slot_eff(spark, tracer: Tracer, docs_df, recognize) -> float:
    """docs/s with every extraction stage at nproc tasks over nproc ×
    docs/s with every stage at one task, both in this JVM. This is an
    in-JVM task-slot ratio, not the paper's N → 4N rule: the one-task
    pass borrows the idle cores for GC and JIT threads, so it runs
    faster than one core would and the ratio reads low."""
    p = spark.sparkContext.defaultParallelism
    with tracer.span("extract.scale_wide") as wide:
        noop(extract(docs_df, recognize))
    shuffle_partitions = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    try:
        with tracer.span("extract.scale_one") as one:
            noop(extract(docs_df.coalesce(1), recognize, ocr_partitions=1, partitions=1))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", shuffle_partitions)
    return (one["end"] - one["start"]) / (p * (wide["end"] - wide["start"]))


def extraction_layer_metrics(tracer: Tracer, raw: dict) -> dict[str, float]:
    """Per-layer metrics from ``extraction_layers`` once the tracer's
    spans carry their stage rows."""
    task_ms = [ms for _pid, _rows, ms in raw["task_rows"]]
    task_s = sum(task_ms) / 1000.0
    # the OCR result stage (mapInPandas and the parquet write) is the
    # one that writes no shuffle; the stage before it only repartitions
    ocr_stage_s = sum(s["executorRunTime"] for s in tracer.stages("extract.ocr")
                      if s["shuffleWriteBytes"] == 0) / 1000.0
    asm = stage_totals(tracer.stages("extract.assemble"))
    return {
        "extract.plain.s": tracer.duration("extract.plain"),
        "extract.plain.rows_in": raw["rows_in"],
        "extract.plain.keep_ratio": raw["kept"] / raw["rows_in"] if raw["rows_in"] else 0.0,
        "extract.ocr.s": tracer.duration("extract.ocr"),
        "extract.ocr.media_rows": sum(rows for _pid, rows, _ms in raw["task_rows"]),
        "extract.ocr.tokens_out": raw["tokens"],
        "extract.ocr.task_ms_sum": sum(task_ms),
        "extract.ocr.straggler_ratio": straggler_ratio(task_ms),
        "extract.ocr.recognize_s": raw["recognize_s"],
        "extract.ocr.body_s": task_s - raw["recognize_s"],
        "extract.ocr.boundary_s": ocr_stage_s - task_s,
        "extract.assemble.s": tracer.duration("extract.assemble"),
        "extract.assemble.rows_in": raw["kept"] + raw["tokens"],
        "extract.assemble.shuffle_bytes": asm["shuffle_bytes"],
        "extract.assemble.spill_bytes": asm["spill_bytes"],
    }


class Workload:
    """Shared shape: ``prepare`` → ``warm`` → timed ``run_pass`` loop →
    ``check``. Only the traced run calls ``traced_pass`` (the timed pass
    with a span around each layer call, returning its wall seconds),
    ``layers`` (extra per-layer measurements) and, once the spans carry
    their stage rows, ``layer_metrics``."""

    name = ""

    def __init__(self, spark, work_dir: str, seed: int, scale: float = 1.0,
                 recognize=stub_ocr_tokens):
        self.spark = spark
        self.work_dir = work_dir
        self.seed = seed
        self.scale = scale
        self.recognize = recognize

    def size(self, n: int) -> int:
        return max(20, int(n * self.scale))

    def prepare(self) -> float:
        """Generate the inputs three times (the median is set-up time,
        and the copies must agree), then load them. Returns seconds."""
        times, digests = [], set()
        for _ in range(3):
            t0 = time.perf_counter()
            made = self.generate()
            times.append(time.perf_counter() - t0)
            digests.add(hashlib.md5(repr(made).encode()).hexdigest())
        if len(digests) != 1:
            raise RuntimeError(f"{self.name}: inputs differ for one seed")
        self.made = made
        self.corpus_s = statistics.median(times)
        return self.corpus_s + timed(self.load)

    def detail(self, passes: list[dict]) -> dict[str, tuple[float, str]]:
        """Workload-specific numbers printed beside the metrics."""
        return {}

    def layers(self, tracer: Tracer) -> None:
        """Per-layer measurements beyond the traced pass; none by default."""

    def trace_record(self) -> dict:
        """Raw rows a traced run keeps in its run record."""
        return {}


class StoreResume(Workload):
    """The unfiltered corpus through ``ExtractionStore``: a commit into
    an empty store, a resume over the full corpus with 10% new docs,
    then an upsert of 5% re-extracted docs."""

    name = "store_resume"
    n_docs = 3000

    def generate(self):
        docs = make_corpus(self.size(self.n_docs), seed=self.seed)
        rng = random.Random(f"store:{self.seed}")
        ids = [d["doc_id"] for d in docs]
        new = set(rng.sample(ids, max(1, len(ids) // 10)))
        old = [i for i in ids if i not in new]
        updated = set(rng.sample(old, max(1, len(ids) // 20)))
        return docs, sorted(new), sorted(updated)

    def load(self) -> None:
        docs, new, updated = self.made
        self.docs = docs
        self.new, self.updated = set(new), set(updated)
        self.full_df = inputs.to_spark(self.spark, docs,
                                       os.path.join(self.work_dir, "docs"))
        self.base_df = self.full_df.where(~F.col("doc_id").isin(new))
        self.upd_df = self.full_df.where(F.col("doc_id").isin(updated))
        self.root = os.path.join(self.work_dir, "store")

    def _extract(self, df):
        return extract(df, self.recognize)

    def warm(self) -> None:
        # A cycle over a fifth of the docs pays most of the cold start
        # (class loading, Python workers, code generation) for less than
        # a full cycle costs. After two such cycles the first full pass
        # ran 14% above its time three passes later; one keeps a run
        # within the time a comparison of two trees can spend.
        fifth = F.pmod(F.hash("doc_id"), F.lit(5)) == 0
        self._cycle(*(df.where(fifth) for df in (self.base_df, self.full_df, self.upd_df)))

    def run_pass(self) -> dict[str, float]:
        return self._cycle(self.base_df, self.full_df, self.upd_df)

    def _cycle(self, base, full, upd) -> dict[str, float]:
        shutil.rmtree(self.root, ignore_errors=True)
        store = ExtractionStore(self.root)
        t0 = time.perf_counter()
        self.commit_res = store.run_resumable(base, self._extract)
        t1 = time.perf_counter()
        self.resume_res = store.run_resumable(full, self._extract)
        t2 = time.perf_counter()
        self.upsert_res = store.upsert(self._extract(upd))
        t3 = time.perf_counter()
        return {"commit_s": t1 - t0, "resume_s": t2 - t1, "upsert_s": t3 - t2}

    def check(self, checks: Checks) -> None:
        stored = self.spark.read.parquet(os.path.join(self.root, "extracted"))
        n, distinct = stored.count(), stored.select("doc_id").distinct().count()
        checks.expect(n == distinct, f"{n - distinct} duplicated doc_ids")
        checks.expect(self.upsert_res["docs_total"] == len(self.docs),
                      f"upsert left {self.upsert_res['docs_total']} docs")
        expected = expected_spans(self.docs)
        for label, res, ids in (
            ("commit", self.commit_res, set(expected) - self.new),
            ("resume", self.resume_res, self.new),
        ):
            want = {
                "docs": len(ids),
                "spans_out": sum(len(expected[i]) for i in ids),
                "errors": sum(s[0] == "error" for i in ids for s in expected[i]),
            }
            checks.expect(res["observed"] == want,
                          f"{label} observed {res['observed']} != {want}")
        checks.docs(stored.toArrow().to_pylist(), expected)

    def detail(self, passes):
        return {k: (statistics.median(p[k] for p in passes), "s")
                for k in ("commit_s", "resume_s", "upsert_s")}

    def traced_pass(self, tracer: Tracer) -> float:
        shutil.rmtree(self.root, ignore_errors=True)
        store = ExtractionStore(self.root)
        self.steps: list[dict] = []
        with tracer.span("storage.commit"):
            store.run_resumable(self.base_df, self._extract)
        self.steps.append(self._listing(store, "commit"))
        with tracer.span("storage.pending"):
            self.pending_rows = store.pending(self.full_df).count()
        with tracer.span("storage.resume"):
            store.run_resumable(self.full_df, self._extract)
        self.steps.append(self._listing(store, "resume"))
        before = _parquet_files(store.extracted_path)
        with tracer.span("storage.upsert"):
            store.upsert(self._extract(self.upd_df))
        self.steps.append(self._listing(store, "upsert"))
        # rows in the table files the upsert wrote or changed, per doc updated
        after = _parquet_files(store.extracted_path)
        rewritten = sum(pq.ParquetFile(f).metadata.num_rows
                        for f, stat in after.items() if before.get(f) != stat)
        self.rewrite_ratio = rewritten / len(self.updated)
        return sum(tracer.duration(f"storage.{s}") for s in ("commit", "resume", "upsert"))

    def _listing(self, store: ExtractionStore, step: str) -> dict:
        files = _parquet_files(store.extracted_path)
        return {
            "step": step, "extracted_files": len(files),
            "extracted_bytes": sum(size for size, _mtime in files.values()),
            "ledger_rows": store.metrics(self.spark).count(),
        }

    def layers(self, tracer: Tracer) -> None:
        self.raw = extraction_layers(self.spark, tracer, self.full_df, self.recognize,
                                     os.path.join(self.work_dir, "layers"))
        self.task_slot_eff = task_slot_eff(self.spark, tracer, self.full_df, self.recognize)

    def trace_record(self) -> dict:
        return {"ocr_tasks": self.raw["task_rows"], "storage_steps": self.steps}

    def layer_metrics(self, tracer: Tracer) -> dict[str, float]:
        last = self.steps[-1]
        return {
            **extraction_layer_metrics(tracer, self.raw),
            "extract.stages_single_task": stage_totals(tracer.stages(
                "storage.commit", "storage.resume", "storage.upsert"
            ))["stages_single_task"],
            "extract.task_slot_eff": self.task_slot_eff,
            "storage.pending.s": tracer.duration("storage.pending"),
            "storage.pending.rows": self.pending_rows,
            "storage.extracted_files": last["extracted_files"],
            "storage.extracted_bytes": last["extracted_bytes"],
            "storage.ledger_rows": last["ledger_rows"],
            "storage.upsert.rewrite_ratio": self.rewrite_ratio,
        }


def _parquet_files(path: str) -> dict[str, tuple[int, int]]:
    """The parquet files under a table directory: path → (size, mtime)."""
    out = {}
    for f in os.listdir(path):
        if f.endswith(".parquet"):
            st = os.stat(os.path.join(path, f))
            out[os.path.join(path, f)] = (st.st_size, st.st_mtime_ns)
    return out


def _norm_cell(v) -> str:
    import decimal

    if v is None:
        return "∅"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, (float, decimal.Decimal)):
        return f"{float(v):.9g}"
    return str(v)


def frame_hash(cols: list[str], rows: list[tuple]) -> tuple[int, str]:
    """Row count and order-insensitive value hash, columns matched by
    lower-cased name — the comparison ``tools/check_oracle.py`` makes.
    Not imported from there: importing that script puts a fixed source
    path first on ``sys.path``, which could load another tree's package."""
    cols = [c.lower() for c in cols]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x1f".join(_norm_cell(r[i]) for i in order) for r in rows)
    return len(rows), hashlib.md5("\n".join(lines).encode()).hexdigest()


class CurationQueries(Workload):
    """The heaviest registry leaves over seeded ``documents`` and
    ``embeddings`` tables, in an order the seed sets. The tables are
    sized so that stages run for most of each query's wall time (about
    three quarters of a pass on a 4-core host); with 500 documents and
    300 vectors, per-job driver overhead took up to half of it."""

    name = "curation_queries"
    n_docs = 2000
    n_vecs = 500

    def generate(self):
        # warm-up tables: a twentieth of the documents and a tenth of the
        # vectors, drawn apart from the timed tables
        warm_seed = f"{self.seed}-warm"
        return (
            (inputs.documents_rows(self.size(self.n_docs), self.seed),
             inputs.embeddings_rows(self.size(self.n_vecs), self.seed)),
            (inputs.documents_rows(self.size(self.n_docs // 20), warm_seed),
             inputs.embeddings_rows(self.size(self.n_vecs // 10), warm_seed)),
        )

    def load(self) -> None:
        import __spark_entry__

        self.table_dir = os.path.join(self.work_dir, "tables")
        self.warm_dir = os.path.join(self.work_dir, "warm_tables")
        timed_tables, warm_tables = self.made
        inputs.write_tables(self.table_dir, *timed_tables)
        inputs.write_tables(self.warm_dir, *warm_tables)
        registry = __spark_entry__.queries()
        self.order = list(QUERIES)
        random.Random(f"queries:{self.seed}").shuffle(self.order)
        self.fns = {q: registry[q] for q in self.order}

    def _run(self, name: str, table_dir: str | None = None):
        df = self.fns[name](self.spark, table_dir or self.table_dir)
        try:
            return df.columns, [tuple(r) for r in df.collect()]
        finally:
            # each call builds fresh lineage; its caches are dead weight
            self.spark.catalog.clearCache()

    def warm(self) -> None:
        # Passes over small tables load the classes, start the Python
        # workers, compile the generated code and warm the JIT for a
        # fraction of the cost of full passes. After three of them a
        # full pass ran within a tenth of its time after five full ones,
        # where a fresh JVM's first full pass takes twice as long; two
        # keep a run within the time a comparison of two trees can spend.
        for _ in range(2):
            self.run_pass(self.warm_dir)

    def run_pass(self, table_dir: str | None = None) -> dict[str, float]:
        times, self.results = {}, {}
        for q in self.order:
            t0 = time.perf_counter()
            self.results[q] = self._run(q, table_dir)
            times[q] = time.perf_counter() - t0
        return times

    def check(self, checks: Checks) -> None:
        import duckdb

        import __spark_entry__

        oracle = __spark_entry__.oracle_sql()
        con = duckdb.connect()
        try:
            for t in ("documents", "embeddings"):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"'{os.path.join(self.table_dir, t)}.parquet'")
            for q in self.order:
                cols, rows = self.results[q]
                res = con.sql(oracle[q])
                want_cols, want = res.columns, res.fetchall()
                same_cols = sorted(c.lower() for c in cols) == sorted(c.lower() for c in want_cols)
                checks.compare(same_cols and frame_hash(cols, rows) == frame_hash(want_cols, want),
                               f"{q} differs from its oracle")
        finally:
            con.close()

    def traced_pass(self, tracer: Tracer) -> float:
        for q in self.order:
            with tracer.span(f"q.{q}"):
                self._run(q)
        return sum(tracer.duration(f"q.{q}") for q in self.order)

    def layer_metrics(self, tracer: Tracer) -> dict[str, float]:
        out = {}
        for q in self.order:
            tot = stage_totals(tracer.stages(f"q.{q}"))
            out[f"q.{q}.s"] = tracer.duration(f"q.{q}")
            out[f"q.{q}.stage_share"] = tracer.stage_share(f"q.{q}")
            out[f"q.{q}.shuffle_bytes"] = tot["shuffle_bytes"]
            out[f"q.{q}.spill_bytes"] = tot["spill_bytes"]
            out[f"q.{q}.stages_single_task"] = tot["stages_single_task"]
        return out


WORKLOADS = {w.name: w for w in (StoreResume, CurationQueries)}
