"""Custom Python DataSource (Spark 4 `pyspark.sql.datasource` API)
for the interleaved text+media corpus.

`corpus_to_spark` (corpus.py) materializes every document on the
DRIVER and ships them through createDataFrame — fine for tests,
fatal at 10^12 documents. This source generates documents INSIDE the
executors, one deterministic range per input partition, so ingest
parallelism scales with the partition count and the driver holds
nothing but the range table:

    spark.read.format("interleaved_corpus")
         .option("n_docs", 100_000).option("parts", 64)
         .option("seed", 42).load()

Batch and micro-batch (readStream) variants share the generator; the
stream reader paces `batch_docs` documents per micro-batch with the
standard offset contract (initialOffset / latestOffset / partitions /
commit), so streaming operators can be driven from a deterministic,
replayable source instead of hand-built memory fixtures.

Determinism: document content depends only on (doc_id, seed) —
`make_document` — so ANY partitioning of the id range yields the
same table (partition-invariance is pinned in test_datasource.py).
The oversized-doc skew set is derived driver-side by `make_corpus`'s
own seeded draw (`_oversized_ids`) and shipped inside each partition
spec.
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)

from ocr_intern_spark.sources.corpus import (
    SPANS_DDL,
    _oversized_ids,
    make_document,
)

FORMAT_NAME = "interleaved_corpus"


def _doc_row(i: int, seed: int, oversized: bool) -> tuple:
    d = make_document(f"doc-{i:06d}", seed=seed, oversized=oversized)
    return (
        d["doc_id"],
        [
            (s["kind"], s["text"], s["media_ref"], s["offset"])
            for s in d["spans"]
        ],
    )


class _RangePartition(InputPartition):
    def __init__(self, start: int, end: int, seed: int, oversized: list[int]):
        self.start = start
        self.end = end
        self.seed = seed
        self.oversized = oversized  # ids within [start, end) only


def _make_ranges(
    start: int, end: int, parts: int, seed: int, oversized: set[int]
) -> list[_RangePartition]:
    n = max(end - start, 0)
    parts = max(1, min(parts, n) if n else 1)
    step, rem = divmod(n, parts)
    out, lo = [], start
    for p in range(parts):
        hi = lo + step + (1 if p < rem else 0)
        out.append(
            _RangePartition(
                lo, hi, seed, [i for i in oversized if lo <= i < hi]
            )
        )
        lo = hi
    return out


def _read_range(part: _RangePartition) -> Iterator[tuple]:
    oversized = set(part.oversized)
    for i in range(part.start, part.end):
        yield _doc_row(i, part.seed, i in oversized)


class InterleavedCorpusReader(DataSourceReader):
    def __init__(self, options: dict):
        self.n_docs = int(options.get("n_docs", 1000))
        self.parts = int(options.get("parts", 8))
        self.seed = int(options.get("seed", 42))
        self._oversized = _oversized_ids(self.n_docs, self.seed)

    def partitions(self) -> Sequence[InputPartition]:
        return _make_ranges(
            0, self.n_docs, self.parts, self.seed, self._oversized
        )

    def read(self, partition: _RangePartition) -> Iterator[tuple]:
        return _read_range(partition)


class InterleavedCorpusStreamReader(DataSourceStreamReader):
    """Micro-batch pacing over the same deterministic id range:
    offset = {"i": <next doc index>}; each latestOffset() call
    advances by batch_docs until n_docs is exhausted, then holds (so
    processAllAvailable() terminates). Replayability — the exactly-
    once contract — is free because content is a pure function of
    (doc_id, seed): re-reading a committed range regenerates
    identical rows."""

    def __init__(self, options: dict):
        self.n_docs = int(options.get("n_docs", 1000))
        self.parts = int(options.get("parts", 4))
        self.seed = int(options.get("seed", 42))
        self.batch_docs = int(options.get("batch_docs", 100))
        self._oversized = _oversized_ids(self.n_docs, self.seed)
        self._latest = 0

    def initialOffset(self) -> dict:
        return {"i": 0}

    def latestOffset(self) -> dict:
        self._latest = min(self._latest + self.batch_docs, self.n_docs)
        return {"i": self._latest}

    def partitions(
        self, start: dict, end: dict
    ) -> Sequence[InputPartition]:
        # Restart-from-checkpoint: the in-memory pacing counter starts
        # at 0, but `start` is the COMMITTED offset from the log.
        # Re-seat the counter so latestOffset() never regresses below
        # the committed index (offset-log monotonicity; without this
        # the stream plans empty backwards batches for
        # committed/batch_docs triggers before making progress).
        self._latest = max(self._latest, start["i"], end["i"])
        return _make_ranges(
            start["i"], end["i"], self.parts, self.seed, self._oversized
        )

    def read(self, partition: _RangePartition) -> Iterator[tuple]:
        return _read_range(partition)

    def commit(self, end: dict) -> None:
        pass  # nothing to clean up: the source is regenerable


class InterleavedCorpusDataSource(DataSource):
    """`spark.dataSource.register(InterleavedCorpusDataSource)` then
    read with format FORMAT_NAME. Schema is the canonical interleaved
    input shape (BASELINE.json input_hint)."""

    @classmethod
    def name(cls) -> str:
        return FORMAT_NAME

    def schema(self) -> str:
        return SPANS_DDL

    def reader(self, schema) -> InterleavedCorpusReader:
        return InterleavedCorpusReader(self.options)

    def streamReader(self, schema) -> InterleavedCorpusStreamReader:
        return InterleavedCorpusStreamReader(self.options)
