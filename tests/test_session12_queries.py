"""Pure-Python reference pins for the session-12 operators. Each
reference is an independent stdlib recompute (hashlib/collections),
never a re-run of the Spark code."""

import hashlib
import math
import os
from collections import defaultdict

import pyarrow.parquet as pq
import pytest

SF_DIR = "/root/testdata/sf0.001"
GOLDEN = os.path.join(os.path.dirname(__file__), "goldens",
                      "extract_full_pipeline.parquet")


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


# --- extract_span_regression -------------------------------------------------


def _golden_key():
    t = pq.read_table(f"{SF_DIR}/documents.parquet", columns=["text"])
    texts = t.column("text").to_pylist()
    return len(texts), sum(len(x) for x in texts)


def _span_fp_reference():
    """Per-doc (n_spans, fp) from the committed golden, recomputed with
    hashlib over the ord-sorted chr(31)/chr(30)-joined span sequence."""
    n_docs, text_chars = _golden_key()
    t = pq.read_table(GOLDEN)
    rows = zip(
        t.column("n_docs").to_pylist(),
        t.column("text_chars").to_pylist(),
        t.column("doc_id").to_pylist(),
        t.column("ord").to_pylist(),
        t.column("kind").to_pylist(),
        t.column("text").to_pylist(),
    )
    per_doc = defaultdict(list)
    for nd, tc, doc, ord_, kind, text in rows:
        if nd == n_docs and tc == text_chars:
            per_doc[doc].append((ord_, kind, text))
    out = {}
    for doc, spans in per_doc.items():
        spans.sort()
        joined = "\x1e".join(f"{k}\x1f{t}" for _, k, t in spans)
        out[doc] = (len(spans), hashlib.md5(joined.encode()).hexdigest())
    return out


def test_span_regression_matches_reference_and_all_green(spark):
    """The driver-facing gate row-for-row: live fingerprints equal the
    stdlib recompute of the golden, and every doc reports span_match."""
    import __spark_entry__ as e

    ref = _span_fp_reference()
    got = e.queries()["extract_span_regression"](spark, SF_DIR).collect()
    assert len(got) == len(ref) > 0
    for r in got:
        assert r["span_match"] is True, r["doc_id"]
        n, fp = ref[r["doc_id"]]
        assert (r["n_spans"], r["fp"]) == (n, fp)
        assert (r["golden_n_spans"], r["golden_fp"]) == (n, fp)


def test_span_regression_fp_is_order_and_boundary_sensitive():
    """The fingerprint moves if spans are reordered OR if a kind/text
    boundary shifts (the chr(31)/chr(30) separators make the join
    injective for separator-free span content)."""
    spans = [(0, "text", "aa bb"), (1, "media", ""), (2, "field", "date: 1")]

    def fp(seq):
        joined = "\x1e".join(f"{k}\x1f{t}" for _, k, t in sorted(seq))
        return hashlib.md5(joined.encode()).hexdigest()

    base = fp(spans)
    swapped = fp([(1, "text", "aa bb"), (0, "media", ""), (2, "field", "date: 1")])
    shifted = fp([(0, "textaa", " bb"), (1, "media", ""), (2, "field", "date: 1")])
    assert base != swapped
    assert base != shifted


def test_span_regression_nonvacuous():
    """The golden slice under test carries all three span kinds and
    multi-span docs — the gate is exercising real sequences."""
    ref = _span_fp_reference()
    n_docs, _ = _golden_key()
    assert len(ref) == n_docs
    assert max(n for n, _ in ref.values()) >= 4


# --- table_snapshot_expiry_plan -----------------------------------------------


def _events():
    t = pq.read_table(f"{SF_DIR}/events.parquet")
    return list(
        zip(
            t.column("event_id").to_pylist(),
            t.column("ts").to_pylist(),
            t.column("user_id").to_pylist(),
            t.column("event_type").to_pylist(),
            t.column("value").to_pylist(),
            t.column("props").to_pylist(),
        )
    )


def _expiry_reference(events):
    from ocr_intern_spark.operators.maintenance import (
        MAX_AGE_DAYS,
        RETAIN_LAST,
    )

    per_day = defaultdict(lambda: [0, 0])
    for _eid, ts, _u, _t, value, _p in events:
        d = ts.date()
        per_day[d][0] += 1
        per_day[d][1] += math.floor(value * 100)
    days = sorted(per_day)
    newest = days[-1]
    rows = []
    reclaim = 0
    for d in days:
        rank = sum(1 for o in days if o > d) + 1
        age = (newest - d).days
        expire = rank > RETAIN_LAST and age > MAX_AGE_DAYS
        if expire:
            reclaim += per_day[d][1]
        rows.append(
            (
                str(d),
                per_day[d][0],
                str(per_day[d][1]),
                rank,
                age,
                expire,
                str(reclaim),
            )
        )
    return rows


def test_snapshot_expiry_plan_exact(spark):
    from ocr_intern_spark.operators.maintenance import q_snapshot_expiry_plan

    got = [
        (
            r["snap_day"],
            r["n_files"],
            r["bytes_added"],
            r["recency_rank"],
            r["age_days"],
            r["expire"],
            r["reclaim_cum"],
        )
        for r in q_snapshot_expiry_plan(spark, SF_DIR).collect()
    ]
    assert got == _expiry_reference(_events())


def test_snapshot_expiry_both_actions_present(spark):
    """Non-vacuity: the synthesized 30-day log has expired AND kept
    snapshots, and the kept set includes both retention reasons
    (recency-rank keeps ≠ age keeps)."""
    from ocr_intern_spark.operators.maintenance import (
        MAX_AGE_DAYS,
        RETAIN_LAST,
        q_snapshot_expiry_plan,
    )

    rows = q_snapshot_expiry_plan(spark, SF_DIR).collect()
    expired = [r for r in rows if r["expire"]]
    kept = [r for r in rows if not r["expire"]]
    assert expired and kept
    assert any(r["recency_rank"] <= RETAIN_LAST for r in kept)
    assert any(
        r["recency_rank"] > RETAIN_LAST and r["age_days"] <= MAX_AGE_DAYS
        for r in kept
    )


# --- table_column_stats --------------------------------------------------------


def _column_stats_reference(events):
    cols = {
        "event_id": [e[0] for e in events],
        "ts": [e[1] for e in events],
        "user_id": [e[2] for e in events],
        "event_type": [e[3] for e in events],
        "value": [e[4] for e in events],
        "props": [e[5] for e in events],
    }
    n_rows = len(events)
    out = {}
    for name, vals in cols.items():
        nn = [v for v in vals if v is not None]
        nd = len(set(nn))
        if name == "ts":
            # NTZ micros — pin the epoch conversion to UTC so the
            # reference never depends on the host timezone
            from datetime import timezone

            def _us(dt):
                return str(
                    int(
                        dt.replace(tzinfo=timezone.utc).timestamp()
                        * 1_000_000
                    )
                )

            mn, mx = _us(min(nn)), _us(max(nn))
            ln = None
        elif name == "value":
            mn = str(math.floor(min(nn) * 100))
            mx = str(math.floor(max(nn) * 100))
            ln = None
        elif name in ("event_type", "props"):
            mn, mx = min(nn), max(nn)
            ln = sum(len(v) for v in nn) * 1000 // len(nn)
        else:
            mn, mx = str(min(nn)), str(max(nn))
            ln = None
        out[name] = (n_rows, n_rows - len(nn), nd, mn, mx, ln)
    return out


def test_column_stats_exact(spark):
    from ocr_intern_spark.operators.maintenance import q_column_stats

    ref = _column_stats_reference(_events())
    got = {
        r["column_name"]: (
            r["n_rows"],
            r["n_null"],
            r["n_distinct"],
            r["min_val"],
            r["max_val"],
            r["avg_len_milli"],
        )
        for r in q_column_stats(spark, SF_DIR).collect()
    }
    assert got == ref


def test_column_stats_single_pass_plan(spark):
    """The multi-distinct aggregate is ONE pass: an Expand feeding a
    single keyed aggregation exchange — never one scan per column."""
    from ocr_intern_spark.operators.maintenance import q_column_stats

    plan = _plan(q_column_stats(spark, SF_DIR))
    assert plan.count("Scan parquet") == 1
    assert "Expand" in plan


# --- text_cdc_chunks ------------------------------------------------------------

_FNV_OFFSET = 14695981039346656037
_FNV_PRIME = 0x100000001B3
_MASK = (1 << 64) - 1


def _fnv64_u(s: str) -> int:
    h = _FNV_OFFSET
    for ch in s:
        h = ((h ^ ord(ch)) * _FNV_PRIME) & _MASK
    return h


def _cdc_chunks_of(words):
    """Pure-Python CDC: cut AFTER word i when fnv64(w[i-1] + ' ' + w[i])
    ≡ CDC_CUT mod CDC_MOD. Returns the list of chunk word-lists."""
    from ocr_intern_spark.functions.text import CDC_CUT, CDC_MOD

    chunks, cur = [], []
    for i, w in enumerate(words):
        cur.append(w)
        if i > 0 and _fnv64_u(words[i - 1] + " " + w) % CDC_MOD == CDC_CUT:
            chunks.append(cur)
            cur = []
    if cur:
        chunks.append(cur)
    return chunks


def _cdc_reference(docs):
    stats = {}
    for doc_id, text in docs:
        t = text.strip().lower()
        if not t:
            continue
        for chunk in _cdc_chunks_of(t.split()):
            fp = hashlib.md5(" ".join(chunk).encode()).hexdigest()
            n_words, n_occ, n_docs_set, first = stats.get(
                fp, (len(chunk), 0, set(), doc_id)
            )
            stats[fp] = (
                min(n_words, len(chunk)),
                n_occ + 1,
                n_docs_set | {doc_id},
                min(first, doc_id),
            )
    return {
        fp: (nw, no, len(nd), fd) for fp, (nw, no, nd, fd) in stats.items()
    }


@pytest.fixture(scope="module")
def docs():
    t = pq.read_table(
        f"{SF_DIR}/documents.parquet", columns=["doc_id", "text"]
    )
    return list(
        zip(t.column("doc_id").to_pylist(), t.column("text").to_pylist())
    )


def test_cdc_chunks_exact(spark, docs):
    from ocr_intern_spark.functions.text import q_cdc_chunks

    ref = _cdc_reference(docs)
    got = {
        r["fp"]: (r["n_words"], r["n_occ"], r["n_docs"], r["first_doc"])
        for r in q_cdc_chunks(spark, SF_DIR).collect()
    }
    assert got == ref


def test_cdc_chunks_nonvacuous(docs):
    """The corpus's duplicated documents surface as shared chunk
    fingerprints — the dedup signal the operator exists for."""
    ref = _cdc_reference(docs)
    assert any(no > 1 for _nw, no, _nd, _fd in ref.values())
    assert any(nd > 1 for _nw, _no, nd, _fd in ref.values())


def test_cdc_insertion_shifts_only_local_chunks():
    """The content-defined property fixed-size chunking lacks: after a
    single-word insertion, every chunk strictly beyond the edited one
    keeps its fingerprint (the 2-word window re-synchronizes at the
    next unchanged boundary)."""
    import random

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(31)]
    words = [rng.choice(vocab) for _ in range(400)]
    edited = words[:1] + ["zzz"] + words[1:]  # insert near the front
    a = ["\x1f".join(c) for c in _cdc_chunks_of(words)]
    b = ["\x1f".join(c) for c in _cdc_chunks_of(edited)]
    assert a != b
    # all chunks after the first boundary following the edit survive
    k = next(
        i for i in range(1, len(a) + 1) if a[-i] != b[-i] or i == len(a)
    )
    surviving = k - 1
    assert surviving >= len(a) - 3  # only the edited neighborhood moved
    # and a fixed-size chunker would have shifted EVERY chunk:
    fixed_a = [words[i : i + 16] for i in range(0, len(words), 16)]
    fixed_b = [edited[i : i + 16] for i in range(0, len(edited), 16)]
    assert all(x != y for x, y in zip(fixed_a, fixed_b))


def test_span_regression_degrades_closed_without_golden(spark, tmp_path):
    """At a corpus whose (n_docs, text_chars) key has no committed
    golden slice the gate emits 0 rows — matching the oracle's 0 —
    instead of spurious mismatches."""
    import __spark_entry__ as e

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(7)
    p = str(tmp_path / "documents.parquet")
    docs.write.parquet(p)
    assert e.queries()["extract_span_regression"](
        spark, str(tmp_path)
    ).count() == 0
