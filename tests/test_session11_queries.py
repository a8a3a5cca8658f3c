"""Pure-Python reference pins for the session-11 operators:
Iceberg-style compaction planning (full plan recompute + the binpack
size contract), binary-quantization recall (sign-bit codes + hamming
ranking recomputed with stdlib ints), 64-bit SimHash hamming pairs
(all-pairs ground truth + the pigeonhole recall guarantee), and HITS
(four half-rounds of exact integer propagation). Each reference is an
independent stdlib recompute, never a re-run of the Spark code."""

import hashlib
import math
from collections import Counter, defaultdict

import pyarrow.parquet as pq
import pytest

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs():
    t = pq.read_table(
        f"{SF_DIR}/documents.parquet", columns=["doc_id", "text"]
    )
    return list(
        zip(t.column("doc_id").to_pylist(), t.column("text").to_pylist())
    )


@pytest.fixture(scope="module")
def files():
    t = pq.read_table(
        f"{SF_DIR}/documents.parquet",
        columns=["doc_id", "source", "n_chars"],
    )
    return list(
        zip(
            t.column("doc_id").to_pylist(),
            t.column("source").to_pylist(),
            t.column("n_chars").to_pylist(),
        )
    )


@pytest.fixture(scope="module")
def embeddings():
    t = pq.read_table(f"{SF_DIR}/embeddings.parquet")
    return list(
        zip(t.column("vec_id").to_pylist(), t.column("embedding").to_pylist())
    )


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


# --- table_compaction_plan ---------------------------------------------------


def _compaction_reference(files):
    from ocr_intern_spark.operators.maintenance import SMALL_CUT, TARGET_BYTES

    by_part = defaultdict(list)
    for fid, part, size in files:
        if size < SMALL_CUT:
            by_part[part].append((fid, size))
    plan = {}
    for part, lst in by_part.items():
        lst.sort(key=lambda t: (-t[1], t[0]))
        cum = 0
        groups = defaultdict(list)
        for fid, size in lst:
            cum += size
            groups[math.ceil(cum / TARGET_BYTES)].append(size)
        for gid, sizes in groups.items():
            if len(sizes) >= 2:
                plan[(part, gid)] = (
                    len(sizes),
                    sum(sizes),
                    min(sizes),
                    max(sizes),
                )
    return plan


def test_compaction_plan_exact(spark, files):
    from ocr_intern_spark.operators.maintenance import q_compaction_plan

    got = {
        (r["part"], r["group_id"]): (
            r["n_files"],
            r["group_bytes"],
            r["min_file_bytes"],
            r["max_file_bytes"],
        )
        for r in q_compaction_plan(spark, SF_DIR).collect()
    }
    assert got == _compaction_reference(files)


def test_compaction_binpack_contract(spark, files):
    """Every planned group lands within the binpack contract: quota
    groups except a partition's last never undershoot TARGET by more
    than the group's largest file, and never overshoot by more."""
    from ocr_intern_spark.operators.maintenance import TARGET_BYTES

    plan = _compaction_reference(files)
    last_gid = {}
    for part, gid in plan:
        last_gid[part] = max(last_gid.get(part, 0), gid)
    for (part, gid), (n, total, _mn, mx) in plan.items():
        assert total < TARGET_BYTES + mx
        if gid != last_gid[part]:
            assert total + mx > TARGET_BYTES


def test_compaction_plan_single_keyed_exchange(spark):
    """Window(part) and groupBy(part, group_id) share ONE hash
    exchange — the metadata-plane shape that holds at any file count."""
    from ocr_intern_spark.operators.maintenance import q_compaction_plan

    plan = _plan(q_compaction_plan(spark, SF_DIR))
    assert plan.count("hashpartitioning") == 1


# --- sim_binary_quant_recall -------------------------------------------------


def _binary_reference(embeddings):
    from ocr_intern_spark.operators.similarity import QUANT_K, QUANT_QMOD

    def code(v):
        banks = []
        for k in range(4):
            w = 0
            for j in range(16):
                if v[16 * k + j] > 0:
                    w |= 1 << j
            banks.append(w)
        return banks

    def cos6(a, b):
        num = sum(float(x) * float(y) for x, y in zip(a, b))
        den = math.sqrt(sum(float(x) ** 2 for x in a)) * math.sqrt(
            sum(float(y) ** 2 for y in b)
        )
        return round(num / den, 6)

    coded = [(vid, emb, code(emb)) for vid, emb in embeddings]
    out = {}
    for qid, qemb, qcode in coded:
        if qid % QUANT_QMOD != 0:
            continue
        rows = []
        for oid, emb, c in coded:
            if oid == qid:
                continue
            ham = sum(bin(a ^ b).count("1") for a, b in zip(c, qcode))
            rows.append((oid, cos6(emb, qemb), ham))
        ftop = {
            oid
            for oid, _, _ in sorted(rows, key=lambda r: (-r[1], r[0]))[
                :QUANT_K
            ]
        }
        btop = {
            oid
            for oid, _, _ in sorted(rows, key=lambda r: (r[2], r[0]))[
                :QUANT_K
            ]
        }
        out[qid] = len(ftop & btop)
    return out


def test_binary_quant_recall_exact(spark, embeddings):
    from ocr_intern_spark.operators.similarity import q_binary_quant_recall

    got = {
        r["qid"]: r["n_overlap"]
        for r in q_binary_quant_recall(spark, SF_DIR).collect()
    }
    assert got == _binary_reference(embeddings)
    # 1-bit codes at 64 dims must retain SOME signal: mean overlap
    # strictly above the ~1.6% random-ranking expectation.
    assert sum(got.values()) / len(got) > 1.0


# --- dedup_simhash_hamming64 -------------------------------------------------


def _simham_reference(docs):
    from ocr_intern_spark.operators.dedup import (
        SIMHAM_MAX,
        SIMHAM_MAX_BUCKET,
    )

    def banks(text):
        toks = [w for w in text.strip().lower().split() if w]
        sums = [0] * 64
        for w in toks:
            h = hashlib.md5(w.encode()).hexdigest()
            for b in range(64):
                nib = int(h[b // 4], 16)
                bit = (nib >> (3 - b % 4)) & 1
                sums[b] += 1 if bit == 1 else -1
        return tuple(
            sum(1 << j for j in range(16) if sums[16 * k + j] > 0)
            for k in range(4)
        ) if toks else None

    coded = [(d, banks(t)) for d, t in docs]
    coded = [(d, c) for d, c in coded if c is not None]
    bucket = Counter()
    for d, c in coded:
        for k in range(4):
            bucket[(k, c[k])] += 1
    pairs = {}
    for i, (da, ca) in enumerate(coded):
        for db, cb in coded[i + 1 :]:
            shares = any(
                ca[k] == cb[k] and bucket[(k, ca[k])] <= SIMHAM_MAX_BUCKET
                for k in range(4)
            )
            if not shares:
                continue
            ham = sum(bin(a ^ b).count("1") for a, b in zip(ca, cb))
            if ham <= SIMHAM_MAX:
                key = (da, db) if da < db else (db, da)
                pairs[key] = ham
    return pairs


def test_simhash_hamming64_exact(spark, docs):
    from ocr_intern_spark.operators.dedup import q_simhash_hamming64

    got = {
        (r["da"], r["db"]): r["hamming"]
        for r in q_simhash_hamming64(spark, SF_DIR).collect()
    }
    ref = _simham_reference(docs)
    assert got == ref
    assert len(got) > 0  # the corpus plants near-dups; must find them


def test_simhash_pigeonhole_recall(docs):
    """4 × 16-bit bands guarantee: any pair within hamming ≤ 3 shares
    at least one full band (pigeonhole), so band blocking loses
    nothing under the threshold — band values can only differ in 3
    of the 4 banks."""
    ref = _simham_reference(docs)
    # recompute all-pairs hamming with NO blocking; every <=3 pair
    # must appear in the blocked result unless a bucket cap hid it
    from ocr_intern_spark.operators.dedup import SIMHAM_MAX

    def banks_of(text):
        toks = [w for w in text.strip().lower().split() if w]
        if not toks:
            return None
        sums = [0] * 64
        for w in toks:
            h = hashlib.md5(w.encode()).hexdigest()
            for b in range(64):
                bit = (int(h[b // 4], 16) >> (3 - b % 4)) & 1
                sums[b] += 1 if bit == 1 else -1
        return tuple(
            sum(1 << j for j in range(16) if sums[16 * k + j] > 0)
            for k in range(4)
        )

    coded = [(d, banks_of(t)) for d, t in docs]
    coded = [(d, c) for d, c in coded if c is not None]
    bucket = Counter()
    for _, c in coded:
        for k in range(4):
            bucket[(k, c[k])] += 1
    from ocr_intern_spark.operators.dedup import SIMHAM_MAX_BUCKET

    for i, (da, ca) in enumerate(coded):
        for db, cb in coded[i + 1 :]:
            ham = sum(bin(a ^ b).count("1") for a, b in zip(ca, cb))
            if ham <= SIMHAM_MAX:
                assert any(ca[k] == cb[k] for k in range(4)), (
                    "pigeonhole violated"
                )
                capped = all(
                    bucket[(k, ca[k])] > SIMHAM_MAX_BUCKET
                    for k in range(4)
                    if ca[k] == cb[k]
                )
                key = (da, db) if da < db else (db, da)
                assert key in ref or capped


# --- graph_hits --------------------------------------------------------------


def _hits_reference(docs):
    grams = {}
    for d, t in docs:
        toks = t.strip().lower().split()
        gs = {
            " ".join(toks[i : i + 8]) for i in range(len(toks) - 7)
        } if len(toks) >= 8 else set()
        grams[d] = gs
    first = {}
    for d in sorted(grams):
        for g in grams[d]:
            if g not in first or first[g] > d:
                first[g] = min(first.get(g, d), d)
    edges = set()
    for d, gs in grams.items():
        for g in gs:
            if first[g] != d:
                edges.add((d, first[g]))
    auth1, hub1, auth2, hub2 = Counter(), Counter(), Counter(), Counter()
    for a, b in edges:
        auth1[b] += 1
    for a, b in edges:
        hub1[a] += auth1[b]
    for a, b in edges:
        auth2[b] += hub1[a]
    for a, b in edges:
        hub2[a] += auth2[b]
    nodes = {a for a, _ in edges} | {b for _, b in edges}
    return {
        n: (auth1[n], hub1[n], auth2[n], hub2[n]) for n in nodes
    }


def test_hits_exact(spark, docs):
    from ocr_intern_spark.operators.curation import q_hits

    got = {
        r["doc_id"]: (r["auth1"], r["hub1"], r["auth2"], r["hub2"])
        for r in q_hits(spark, SF_DIR).collect()
    }
    ref = _hits_reference(docs)
    assert got == ref
    # hubs and authorities separate: at least one node is a pure hub
    # (points at sources, nothing points at it) and one a pure
    # authority — the digraph is irregular by construction.
    assert any(a == 0 and h > 0 for a, h, _, _ in got.values())
    assert any(a > 0 and h == 0 for a, h, _, _ in got.values())


# --- sim_matryoshka_recall ---------------------------------------------------


def _matryoshka_reference(embeddings):
    from ocr_intern_spark.operators.similarity import (
        MRL_DIM,
        QUANT_K,
        QUANT_QMOD,
    )

    def cos6(a, b):
        num = sum(float(x) * float(y) for x, y in zip(a, b))
        den = math.sqrt(sum(float(x) ** 2 for x in a)) * math.sqrt(
            sum(float(y) ** 2 for y in b)
        )
        return round(num / den, 6)

    out = {}
    for qid, qemb in embeddings:
        if qid % QUANT_QMOD != 0:
            continue
        rows = []
        for oid, emb in embeddings:
            if oid == qid:
                continue
            rows.append(
                (
                    oid,
                    cos6(emb, qemb),
                    cos6(emb[:MRL_DIM], qemb[:MRL_DIM]),
                )
            )
        ftop = {
            oid
            for oid, _, _ in sorted(rows, key=lambda r: (-r[1], r[0]))[
                :QUANT_K
            ]
        }
        mtop = {
            oid
            for oid, _, _ in sorted(rows, key=lambda r: (-r[2], r[0]))[
                :QUANT_K
            ]
        }
        out[qid] = len(ftop & mtop)
    return out


def test_matryoshka_recall_exact(spark, embeddings):
    from ocr_intern_spark.operators.similarity import q_matryoshka_recall

    got = {
        r["qid"]: r["n_overlap"]
        for r in q_matryoshka_recall(spark, SF_DIR).collect()
    }
    assert got == _matryoshka_reference(embeddings)


# --- table_zonemap_prune_stats -----------------------------------------------


def test_zonemap_prune_reference(spark):
    """Full recompute of both layouts with stdlib sorting, plus the
    advisor's point: the date-sorted layout must prune strictly
    better than insertion order overall."""
    from ocr_intern_spark.operators.maintenance import (
        FILE_ROWS,
        q_zonemap_prune_stats,
    )

    t = pq.read_table(
        f"{SF_DIR}/orders.parquet", columns=["o_orderkey", "o_orderdate"]
    )
    orders = list(
        zip(
            t.column("o_orderkey").to_pylist(),
            t.column("o_orderdate").to_pylist(),
        )
    )
    ref = {}
    for layout, key in (
        ("insertion", lambda r: r[0]),
        ("date_sorted", lambda r: (r[1], r[0])),
    ):
        rows = sorted(orders, key=key)
        zones = defaultdict(lambda: [None, None])
        for i, (_, d) in enumerate(rows):
            z = zones[i // FILE_ROWS]
            z[0] = d if z[0] is None else min(z[0], d)
            z[1] = d if z[1] is None else max(z[1], d)
        for yr in range(1995, 2002):
            from datetime import datetime

            y0, y1 = datetime(yr, 1, 1), datetime(yr + 1, 1, 1)
            hit = sum(1 for mn, mx in zones.values() if mn < y1 and mx >= y0)
            ref[(layout, yr)] = (len(zones), hit)
    got = {
        (r["layout"], r["yr"]): (r["n_files"], r["n_hit"])
        for r in q_zonemap_prune_stats(spark, SF_DIR).collect()
    }
    assert got == ref
    ins = sum(h for (l, _), (_, h) in got.items() if l == "insertion")
    srt = sum(h for (l, _), (_, h) in got.items() if l == "date_sorted")
    assert srt < ins  # the sort rewrite provably pays off


def test_zonemap_no_unpartitioned_window(spark):
    """File assignment must ride the distributed global rank, never a
    single-reducer `WindowExec: No Partition Defined`."""
    from ocr_intern_spark.operators.maintenance import q_zonemap_prune_stats

    plan = _plan(q_zonemap_prune_stats(spark, SF_DIR))
    import re

    for m in re.finditer(r"Window \[", plan):
        # every Window in the plan must carry a partition spec
        seg = plan[m.start() : m.start() + 400]
        assert "windowspecdefinition(_pid" in seg or "partitionBy" in seg or (
            "windowspecdefinition(" in seg
            and not seg.split("windowspecdefinition(")[1].startswith("ROWS")
        ), seg


# --- stream_stream_join ------------------------------------------------------


def _ssj_reference():
    from datetime import timedelta

    from ocr_intern_spark.streaming.stream_queries import _SSJ_INTERVAL_MIN

    t = pq.read_table(f"{SF_DIR}/events.parquet")
    ev = t.to_pylist()
    clicks = [e for e in ev if e["event_type"] == "click"]
    buys = [e for e in ev if e["event_type"] == "purchase"]
    pairs = {}
    for c in clicks:
        for p in buys:
            if p["user_id"] != c["user_id"]:
                continue
            if c["ts"] <= p["ts"] <= c["ts"] + timedelta(
                minutes=_SSJ_INTERVAL_MIN
            ):
                gap = int((p["ts"] - c["ts"]).total_seconds() * 1_000_000)
                pairs[(c["user_id"], c["event_id"], p["event_id"])] = gap
    return pairs


def test_stream_stream_join_exact(spark):
    from ocr_intern_spark.streaming.stream_queries import q_stream_stream_join

    got = {
        (r["user_id"], r["click_id"], r["purchase_id"]): r["gap_us"]
        for r in q_stream_stream_join(spark, SF_DIR).collect()
    }
    assert got == _ssj_reference()
    assert len(got) > 0


def test_stream_stream_join_crosses_batches(spark):
    """A pair whose click and purchase land in DIFFERENT staged files
    must still emit — the click matched from the join STATE STORE,
    proving cross-micro-batch state actually carried. Synthetic
    staging (injected through _ssj_run): the matching click is the
    first row, its purchase the last, with 14 non-matching filler
    rows between, so at 8 files the pair straddles 7 batch
    boundaries."""
    from collections import namedtuple
    from datetime import datetime, timedelta

    from ocr_intern_spark.streaming.stream_queries import _ssj_run

    R = namedtuple("R", "ts event_type user_id event_id")
    t0 = datetime(2024, 3, 1, 12, 0, 0)
    rows = [R(t0, "click", 1, 100)]
    # filler: clicks of OTHER users (no purchases → no extra pairs)
    for i in range(14):
        rows.append(R(t0 + timedelta(minutes=5 * (i + 1)), "click", 50 + i, 200 + i))
    rows.append(R(t0 + timedelta(minutes=90), "purchase", 1, 999))
    events = spark.createDataFrame(
        rows, "ts timestamp_ntz, event_type string, user_id bigint, event_id bigint"
    )
    got = _ssj_run(spark, events)
    assert got == [(1, 100, 999, 90 * 60 * 1_000_000)]


# --- dedup_cc_incremental ----------------------------------------------------


def test_cc_incremental_equals_full_recompute(spark):
    """The maintenance path's labels must equal a FULL connected-
    components recompute over the same pair graph — the same proof
    the driver hash makes, pinned here against the Spark batch CC
    directly, plus non-vacuity: the delta actually attaches at least
    one new doc to a base cluster (else the contraction is never
    exercised)."""
    from pyspark.sql import functions as F

    from ocr_intern_spark.operators.dedup import (
        CC_CUT_DEN,
        CC_CUT_NUM,
        connected_components,
        q_cc_incremental,
        q_ngram_jaccard_pairs,
    )

    pairs = q_ngram_jaccard_pairs(spark, SF_DIR).select("a", "b")
    full = {
        (r["doc_id"], r["cluster_id"])
        for r in connected_components(pairs).collect()
    }
    inc = {
        (r["doc_id"], r["cluster_id"])
        for r in q_cc_incremental(spark, SF_DIR).collect()
    }
    assert inc == full
    cut = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .agg((F.max("doc_id") * CC_CUT_NUM / CC_CUT_DEN).cast("long"))
        .first()[0]
    )
    # a new doc (id > cut) must share a cluster rooted at a base doc
    assert any(d > cut and c <= cut for d, c in inc), (
        "fixture too weak: no delta doc joined a base cluster"
    )


# --- events_salted_type_totals -----------------------------------------------


def test_salted_totals_two_phase_plan(spark):
    """The salted rewrite must actually run TWO keyed aggregations —
    (event_type, _salt) then (event_type) — and the salt must spread:
    more than one salt bucket per hot key at sf0.001."""
    from pyspark.sql import functions as F

    from ocr_intern_spark.operators.analytics import (
        SALT_N,
        q_salted_type_totals,
    )

    df = q_salted_type_totals(spark, SF_DIR)
    plan = _plan(df)
    assert "hashpartitioning(event_type" in plan
    assert "_salt" in plan
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    spread = (
        ev.withColumn(
            "_salt", F.pmod(F.xxhash64(*ev.columns), F.lit(SALT_N))
        )
        .groupBy("event_type")
        .agg(F.countDistinct("_salt").alias("d"))
        .agg(F.min("d"))
        .first()[0]
    )
    assert spread > SALT_N // 2


# --- sim_ivf_recall_curve ----------------------------------------------------


def test_ivf_recall_monotone_and_exact_at_full_probe(spark):
    """nprobe=2 candidates are a superset of nprobe=1, so overlap
    must be monotone per query; and with only 8 cells the curve must
    show real pruning (p1 candidate count < corpus-1 somewhere)."""
    from ocr_intern_spark.operators.similarity import q_ivf_recall_curve

    rows = q_ivf_recall_curve(spark, SF_DIR).collect()
    assert len(rows) == 20
    for r in rows:
        assert r["n_overlap_p2"] >= r["n_overlap_p1"]
        assert r["n_cand_p2"] >= r["n_cand_p1"]
    assert any(r["n_cand_p1"] < 499 for r in rows)
    # the second probe must buy measurable recall on average (the
    # synthetic embeddings are near-random, so absolute recall is low
    # by construction — the CURVE is the signal, not the level)
    mean_p1 = sum(r["n_overlap_p1"] for r in rows) / len(rows)
    mean_p2 = sum(r["n_overlap_p2"] for r in rows) / len(rows)
    assert mean_p2 > mean_p1
    assert mean_p2 >= 2.0


# --- graph_community_modularity ----------------------------------------------


def test_modularity_reference(spark, docs):
    """Recompute modularity from scratch: LPA communities (the
    deterministic min-tie variant, replayed in pure Python) scored by
    the integer 4m*e_c - d_c^2 contributions; the summed Q must also
    land in (0, 1] scaled — real community structure, not noise."""
    grams = {}
    for d, t in docs:
        toks = t.strip().lower().split()
        grams[d] = (
            {" ".join(toks[i : i + 8]) for i in range(len(toks) - 7)}
            if len(toks) >= 8
            else set()
        )
    first = {}
    for d in sorted(grams):
        for g in grams[d]:
            first.setdefault(g, d)
    de = {
        (d, first[g])
        for d, gs in grams.items()
        for g in gs
        if first[g] != d
    }
    edges = de | {(b, a) for a, b in de}
    # LPA, deterministic variant, LPA_ROUNDS rounds
    from ocr_intern_spark.operators.curation import (
        LPA_ROUNDS,
        q_community_modularity,
    )

    lab = {d: d for d, _ in docs}
    for _ in range(LPA_ROUNDS):
        votes = defaultdict(Counter)
        for a, b in edges:
            votes[a][lab[b]] += 1
        for d in lab:
            votes[d][lab[d]] += 1
        lab = {
            d: min(
                (l for l, c in v.items() if c == max(v.values())),
            )
            for d, v in ((d, votes[d]) for d in lab)
        }
    canon = {(min(a, b), max(a, b)) for a, b in de}
    m = len(canon)
    deg = Counter()
    for a, b in canon:
        deg[a] += 1
        deg[b] += 1
    ref = {}
    for d, k in deg.items():
        c = lab[d]
        if c not in ref:
            ref[c] = [0, 0, 0]
        ref[c][0] += 1
        ref[c][2] += k
    for a, b in canon:
        if lab[a] == lab[b]:
            ref[lab[a]][1] += 1
    expect = {
        c: (n, e, dt, 4 * m * e - dt * dt)
        for c, (n, e, dt) in ref.items()
    }
    got = {
        r["community"]: (
            r["n_members"],
            r["e_intra"],
            r["d_total"],
            r["q_contrib_4m2"],
        )
        for r in q_community_modularity(spark, SF_DIR).collect()
    }
    assert got == expect
    q_scaled = sum(v[3] for v in got.values())
    assert 0 < q_scaled <= 4 * m * m  # genuine structure


# --- multimodal_audio_chunk_plan ----------------------------------------------


def test_audio_chunk_plan_contract(spark):
    """Sliding-window contract per asset: chunk 0 starts at 0; chunks
    step by HOP; every chunk except the last spans exactly CHUNK ms;
    the last ends exactly at the duration; coverage has no gaps."""
    from ocr_intern_spark.operators.curation import (
        AUDIO_CHUNK_MS,
        AUDIO_HOP_MS,
        q_audio_chunk_plan,
    )

    rows = q_audio_chunk_plan(spark, SF_DIR).collect()
    by_media = defaultdict(list)
    for r in rows:
        by_media[r["media_id"]].append(r)
    assert len(by_media) == 500
    for media, chunks in by_media.items():
        chunks.sort(key=lambda r: r["chunk_idx"])
        dur = chunks[0]["duration_ms"]
        for i, c in enumerate(chunks):
            assert c["chunk_idx"] == i
            assert c["start_ms"] == i * AUDIO_HOP_MS
            assert c["end_ms"] == min(
                i * AUDIO_HOP_MS + AUDIO_CHUNK_MS, dur
            )
            assert c["is_last"] == (i == len(chunks) - 1) or (
                c["end_ms"] == dur
            )
        assert chunks[-1]["end_ms"] == dur
        # no gaps: next chunk starts before the previous ends
        for a, b in zip(chunks, chunks[1:]):
            assert b["start_ms"] < a["end_ms"]
        # minimality: one fewer chunk would leave a tail uncovered
        if len(chunks) > 1:
            assert chunks[-2]["end_ms"] < dur


# --- text_ccnet_buckets --------------------------------------------------------


def test_ccnet_buckets_tertiles(spark):
    """Rank-based tertiles: bucket sizes differ by at most 1, head
    holds the lowest-NLL docs, tail the highest, and every scored doc
    is bucketed."""
    from ocr_intern_spark.functions.text import q_ccnet_buckets

    rows = q_ccnet_buckets(spark, SF_DIR).collect()
    by_bucket = defaultdict(list)
    for r in rows:
        by_bucket[r["bucket"]].append((r["mean_nll"], r["doc_id"]))
    sizes = {b: len(v) for b, v in by_bucket.items()}
    assert set(sizes) == {"head", "middle", "tail"}
    assert max(sizes.values()) - min(sizes.values()) <= 1
    assert max(by_bucket["head"]) <= min(by_bucket["middle"])
    assert max(by_bucket["middle"]) <= min(by_bucket["tail"])


# --- extract_span_lang_runs ----------------------------------------------------


def test_span_lang_runs_reference(spark, docs):
    """Full recompute: 8-word chunking, per-span probe injection,
    script guess, run segmentation — plus non-vacuity: real docs must
    produce MULTIPLE runs (the injected Arabic markers alternate) and
    both languages must appear."""
    import re

    from ocr_intern_spark.operators.extract_queries import (
        _RUN_AR_MARK,
        q_span_lang_runs,
    )

    expect = []
    for d, t in docs:
        toks = t.strip().split()
        n = max(-(-len(toks) // 8), 1)
        langs = []
        for i in range(n):
            chunk = " ".join(toks[i * 8 : i * 8 + 8])
            probe = chunk + _RUN_AR_MARK if (d + i) % 3 == 0 else chunk
            if re.search("[؀-ۿ]", probe):
                langs.append("arabic")
            elif re.search("[a-z]", probe.lower()):
                langs.append("french")
            else:
                langs.append(None)
        start = 0
        for i in range(1, n + 1):
            if i == n or langs[i] != langs[start]:
                expect.append((d, start, i - 1, langs[start], i - start))
                start = i
    got = [
        (
            r["doc_id"],
            r["run_start"],
            r["run_end"],
            r["lang"],
            r["n_spans"],
        )
        for r in q_span_lang_runs(spark, SF_DIR).collect()
    ]
    assert sorted(got) == sorted(expect)
    langs_seen = {r[3] for r in got}
    assert {"arabic", "french"} <= langs_seen
    runs_per_doc = Counter(r[0] for r in got)
    assert max(runs_per_doc.values()) > 3


# --- dedup_lsh_banding_sweep ---------------------------------------------------


def test_lsh_sweep_nesting(spark):
    """Candidate sets nest along the sweep — a (b, r) match implies a
    (2b, r/2) match on the same signature — so candidate and hit
    counts must be monotone in the band count, and the many-band end
    must dominate recall while the one-band end dominates precision
    or ties."""
    from ocr_intern_spark.operators.dedup import q_lsh_banding_sweep

    rows = {
        r["bands"]: r for r in q_lsh_banding_sweep(spark, SF_DIR).collect()
    }
    assert set(rows) == {8, 4, 2, 1}
    for hi, lo in ((8, 4), (4, 2), (2, 1)):
        assert rows[hi]["n_candidate_pairs"] >= rows[lo]["n_candidate_pairs"]
        assert rows[hi]["n_hits"] >= rows[lo]["n_hits"]
        assert rows[hi]["recall"] >= rows[lo]["recall"]
    assert rows[1]["precision"] >= rows[8]["precision"]
    assert rows[8]["n_true_pairs"] > 0
    # the sweep must actually spread: the extremes differ somewhere
    assert (
        rows[8]["n_candidate_pairs"] != rows[1]["n_candidate_pairs"]
        or rows[8]["recall"] != rows[1]["recall"]
    )


# --- multimodal_image_tile_plan -------------------------------------------------


def test_image_tile_plan_contract(spark):
    """2-D sliding-window contract per asset: row/col grids step by
    STRIDE, interior tiles span exactly TILE px, edge tiles clamp to
    the image and are flagged, the grid covers the full image with no
    gaps, and both portrait and landscape assets appear."""
    from ocr_intern_spark.operators.curation import (
        TILE_PX,
        TILE_STRIDE,
        q_image_tile_plan,
    )

    rows = q_image_tile_plan(spark, SF_DIR).collect()
    by_media = defaultdict(list)
    for r in rows:
        by_media[r["media_id"]].append(r)
    assert len(by_media) == 500
    saw_portrait = saw_landscape = False
    for media, tiles in by_media.items():
        w, h = tiles[0]["width"], tiles[0]["height"]
        saw_portrait |= h > w
        saw_landscape |= w > h
        n_rows = 1 + -(-max(h - TILE_PX, 0) // TILE_STRIDE)
        n_cols = 1 + -(-max(w - TILE_PX, 0) // TILE_STRIDE)
        assert len(tiles) == n_rows * n_cols
        for t in tiles:
            assert t["x0"] == t["tile_col"] * TILE_STRIDE
            assert t["y0"] == t["tile_row"] * TILE_STRIDE
            assert t["x1"] == min(t["x0"] + TILE_PX, w)
            assert t["y1"] == min(t["y0"] + TILE_PX, h)
            assert t["is_edge"] == (
                t["x1"] - t["x0"] < TILE_PX or t["y1"] - t["y0"] < TILE_PX
            )
        assert max(t["x1"] for t in tiles) == w
        assert max(t["y1"] for t in tiles) == h
    assert saw_portrait and saw_landscape


# --- text_pack_efficiency_report -------------------------------------------------


def test_pack_efficiency_reference(spark, docs):
    """Full recompute of the three-budget report from the raw texts,
    plus the economics non-vacuity: underfill waste must strictly
    shrink as the budget shrinks (smaller packs pad less)."""
    import pyarrow.parquet as pqt

    from ocr_intern_spark.functions.text import (
        PACK_SWEEP,
        q_pack_efficiency_report,
    )

    t = pqt.read_table(
        f"{SF_DIR}/documents.parquet", columns=["doc_id", "source", "text"]
    )
    recs = sorted(
        zip(
            t.column("source").to_pylist(),
            t.column("doc_id").to_pylist(),
            t.column("text").to_pylist(),
        )
    )
    expect = {}
    for L in PACK_SWEEP:
        packs = Counter()
        cum = Counter()
        for src, d, txt in recs:
            n = len(txt.strip().split()) if txt.strip() else 0
            packs[(src, cum[src] // L)] += n
            cum[src] += n
        n_packs = len(packs)
        total = sum(packs.values())
        over = sum(max(v - L, 0) for v in packs.values())
        under = sum(max(L - v, 0) for v in packs.values())
        expect[L] = (n_packs, total, over, under)
    got = {
        r["seq_len"]: (
            r["n_packs"],
            r["total_tokens"],
            r["overflow_tokens"],
            r["underfill_tokens"],
        )
        for r in q_pack_efficiency_report(spark, SF_DIR).collect()
    }
    assert got == expect
    # invariants (monotone underfill is NOT one — boundary docs shift):
    # token totals are budget-independent, pack counts shrink with the
    # budget, and both waste terms are non-trivial somewhere
    totals = {got[L][1] for L in got}
    assert len(totals) == 1
    packs = [got[L][0] for L in sorted(got)]
    assert packs == sorted(packs, reverse=True) and packs[0] > packs[-1]
    assert any(got[L][2] > 0 for L in got)
    assert any(got[L][3] > 0 for L in got)


# --- events_quality_expectations / events_props_schema_drift --------------------


def test_quality_expectations_all_pass(spark):
    """The generated corpus must pass the whole expectation suite
    (it is the clean-ingest fixture), and every metric must be the
    stdlib-recomputed value."""
    import pyarrow.parquet as pqt

    from ocr_intern_spark.operators.analytics import q_quality_expectations

    rows = {
        r["check"]: (r["metric"], r["passed"])
        for r in q_quality_expectations(spark, SF_DIR).collect()
    }
    assert len(rows) == 8
    assert all(p for _, p in rows.values()), rows
    ev = pqt.read_table(f"{SF_DIR}/events.parquet").to_pylist()
    assert rows["unique_event_id"][0] == "0"
    assert rows["value_cents_nonnegative"][0] == str(
        min(math.floor(e["value"] * 100) for e in ev)
    )
    assert rows["freshness_span_days"][0] == str(
        (max(e["ts"] for e in ev).date() - min(e["ts"] for e in ev).date()).days
    )


def test_schema_drift_shapes(spark):
    """The injected drift must be visible: 'k' stable (every day),
    'exp' retired (last_day <= day 10), 'src' periodic (~half the
    days), with exact day arithmetic against the raw events."""
    import pyarrow.parquet as pqt

    from ocr_intern_spark.operators.analytics import q_props_schema_drift

    rows = {
        r["key"]: r for r in q_props_schema_drift(spark, SF_DIR).collect()
    }
    assert set(rows) == {"k", "src", "exp"}
    ev = pqt.read_table(f"{SF_DIR}/events.parquet").to_pylist()
    days = {e["ts"].date() for e in ev}
    assert rows["k"]["n_days"] == len(days)
    assert rows["exp"]["last_day"] <= max(
        d for d in (str(x) for x in days) if int(d[8:10]) <= 10
    )
    assert rows["src"]["n_days"] == len({d for d in days if d.day % 2 == 0})
    assert rows["k"]["n_events"] == len(ev)


# --- events_activity_bitmap / stream_static_enrich -------------------------------


def test_activity_bitmap_reference(spark):
    """Stdlib recompute of mask/popcount/streak/staleness per user."""
    import pyarrow.parquet as pqt

    from ocr_intern_spark.operators.analytics import q_activity_bitmap

    ev = pqt.read_table(f"{SF_DIR}/events.parquet").to_pylist()
    days = defaultdict(set)
    for e in ev:
        days[e["user_id"]].add(e["ts"].day - 1)
    expect = {}
    for u, ds in days.items():
        mask = sum(1 << d for d in ds)
        streak = best = 0
        for d in range(31):
            streak = streak + 1 if d in ds else 0
            best = max(best, streak)
        expect[u] = (mask, len(ds), best, 30 - max(ds))
    got = {
        r["user_id"]: (
            r["mask"],
            r["active_days"],
            r["longest_streak"],
            r["days_since_last"],
        )
        for r in q_activity_bitmap(spark, SF_DIR).collect()
    }
    assert got == expect
    # non-vacuity: some user has a multi-day streak and an inactive gap
    assert any(v[2] >= 2 for v in got.values())
    assert any(v[1] < 31 for v in got.values())


def test_stream_static_enrich_reference(spark):
    """Batch recompute of the tiered enrichment; the 'none' tier must
    be non-empty (profile-less users exist) proving the left join
    does not silently drop events."""
    import pyarrow.parquet as pqt

    from ocr_intern_spark.streaming.stream_queries import (
        q_stream_static_enrich,
    )

    ev = pqt.read_table(f"{SF_DIR}/events.parquet").to_pylist()
    cents = defaultdict(int)
    for e in ev:
        if e["event_type"] == "purchase":
            cents[e["user_id"]] += math.floor(e["value"] * 100)
    tier = {
        u: "gold" if c >= 100_000 else "silver" if c >= 10_000 else "bronze"
        for u, c in cents.items()
    }
    expect = defaultdict(lambda: [0, 0])
    for e in ev:
        t = tier.get(e["user_id"], "none")
        expect[(t, e["event_type"])][0] += 1
        expect[(t, e["event_type"])][1] += math.floor(e["value"] * 100)
    got = {
        (r["tier"], r["event_type"]): (r["n_events"], int(r["value_cents"]))
        for r in q_stream_static_enrich(spark, SF_DIR).collect()
    }
    assert got == {k: tuple(v) for k, v in expect.items()}
    # non-vacuity: the tiering actually separates users
    assert len({t for t, _ in got}) >= 2


# --- table_partition_skew_report / graph_degree_assortativity --------------------


def test_partition_skew_reference(spark, files):
    from ocr_intern_spark.operators.maintenance import (
        q_partition_skew_report,
    )

    per = defaultdict(lambda: [0, 0])
    for _, part, size in files:
        per[part][0] += 1
        per[part][1] += size
    total = sum(b for _, b in per.values())
    n = len(per)
    expect = {
        p: (
            c,
            b,
            b * 1_000_000 // total,
            b * 1_000_000 // total - 1_000_000 // n,
        )
        for p, (c, b) in per.items()
    }
    got = {
        r["part"]: (
            r["n_files"],
            r["part_bytes"],
            r["share_ppm"],
            r["skew_ppm"],
        )
        for r in q_partition_skew_report(spark, SF_DIR).collect()
    }
    assert got == expect
    assert any(v[3] > 0 for v in got.values())
    assert any(v[3] < 0 for v in got.values())


def test_assortativity_reference(spark, docs):
    """Exact recompute of the Newman sums over the canonical edge
    list; r itself must land in [-1, 1] when divided."""
    from fractions import Fraction

    from ocr_intern_spark.operators.curation import q_degree_assortativity

    grams = {}
    for d, t in docs:
        toks = t.strip().lower().split()
        grams[d] = (
            {" ".join(toks[i : i + 8]) for i in range(len(toks) - 7)}
            if len(toks) >= 8
            else set()
        )
    first = {}
    for d in sorted(grams):
        for g in grams[d]:
            first.setdefault(g, d)
    de = {
        (d, first[g]) for d, gs in grams.items() for g in gs if first[g] != d
    }
    canon = {(min(a, b), max(a, b)) for a, b in de}
    ordered = list(canon) + [(b, a) for a, b in canon]
    deg = Counter(a for a, _ in ordered)
    m = len(ordered)
    s_jk = sum(deg[a] * deg[b] for a, b in ordered)
    s_j = sum(deg[a] for a, _ in ordered)
    s_jj = sum(deg[a] ** 2 for a, _ in ordered)
    row = q_degree_assortativity(spark, SF_DIR).collect()[0]
    assert (row["m_ordered"], row["s_jk"], row["s_j"], row["s_jj"]) == (
        m,
        s_jk,
        s_j,
        s_jj,
    )
    assert int(row["r_num"]) == m * s_jk - s_j * s_j
    assert int(row["r_den"]) == m * s_jj - s_j * s_j
    r = Fraction(int(row["r_num"]), int(row["r_den"]))
    assert -1 <= r <= 1 and r != 0


# --- dedup_minhash_est_error / text_langid_confusion ------------------------------


def test_minhash_est_error_unbiasedness_band(spark):
    """Per-pair estimates recompute exactly from the raw shingle
    universe, and the estimator behaves: on exact duplicates (true_j
    = 10^6) the signature must agree 8/8 (err 0), and the mean
    absolute error across pairs stays under the k=8 binomial
    std-error band (~3·sqrt(J(1-J)/8) ≲ 0.53 worst case)."""
    from ocr_intern_spark.operators.dedup import q_minhash_est_error

    rows = q_minhash_est_error(spark, SF_DIR).collect()
    assert len(rows) > 0
    for r in rows:
        assert r["est_j_micro"] == r["sig_matches"] * 125_000
        assert r["abs_err_micro"] == abs(
            r["est_j_micro"] - r["true_j_micro"]
        )
        if r["true_j_micro"] == 1_000_000:
            assert r["sig_matches"] == 8 and r["abs_err_micro"] == 0
    mean_err = sum(r["abs_err_micro"] for r in rows) / len(rows)
    assert mean_err < 530_000


def test_langid_confusion_consistency(spark):
    """The matrix must aggregate the classifier's raw predictions
    exactly, recall/precision shares must sum to ~10^6 per class
    (floor-division slack < cells), and the diagonal must dominate
    (the classifier works: measured 399/400 held-out)."""
    from ocr_intern_spark.operators.curation import (
        q_langid_confusion,
        q_langid_ngram,
    )

    preds = Counter(
        (r["true_lang"], r["pred_lang"])
        for r in q_langid_ngram(spark, SF_DIR).collect()
    )
    rows = q_langid_confusion(spark, SF_DIR).collect()
    got = {(r["true_lang"], r["pred_lang"]): r["n"] for r in rows}
    assert got == dict(preds)
    total = sum(got.values())
    diag = sum(n for (t, p), n in got.items() if t == p)
    assert diag / total > 0.9
    by_true = defaultdict(int)
    for r in rows:
        by_true[r["true_lang"]] += r["recall_ppm"]
    for t, s in by_true.items():
        assert 1_000_000 - len(got) <= s <= 1_000_000


# --- text_bm25_eval ------------------------------------------------------------


def test_bm25_eval_reference(spark, docs):
    """Stdlib recompute of the full metric row (BM25 scores included)
    plus sanity: the retriever must beat random — the first relevant
    doc lands in the top 20."""
    from ocr_intern_spark.operators.retrieval import (
        BM25_B,
        BM25_K1,
        BM25_QUERY,
        BM25_TOPK,
        q_bm25_eval,
    )

    per = []
    for d, t in docs:
        toks = [w for w in t.strip().lower().split() if w]
        per.append((d, len(toks), [toks.count(q) for q in BM25_QUERY]))
    n = len(per)
    avgdl = sum(dl for _, dl, _ in per) / n
    dfs = [
        sum(1 for _, _, tfs in per if tfs[i] > 0)
        for i in range(len(BM25_QUERY))
    ]
    scored = []
    for d, dl, tfs in per:
        s = 0.0
        for i, tf in enumerate(tfs):
            idf = math.log(1.0 + (n - dfs[i] + 0.5) / (dfs[i] + 0.5))
            norm = tf + BM25_K1 * (1.0 - BM25_B + BM25_B * (dl / avgdl))
            s += round(idf * ((tf * (BM25_K1 + 1.0)) / norm), 9)
        s = round(s, 6)
        if s > 0:
            scored.append((d, s, all(tf > 0 for tf in tfs)))
    scored.sort(key=lambda r: (-r[1], r[0]))
    top = scored[:BM25_TOPK]
    n_rel = sum(1 for _, _, r in scored if r)
    h5 = sum(1 for _, _, r in top[:5] if r)
    h10 = sum(1 for _, _, r in top[:10] if r)
    h20 = sum(1 for _, _, r in top if r)
    first = next(i + 1 for i, (_, _, r) in enumerate(scored) if r)
    row = q_bm25_eval(spark, SF_DIR).collect()[0]
    assert (
        row["n_relevant"],
        row["hits_5"],
        row["hits_10"],
        row["hits_20"],
        row["first_rank"],
    ) == (n_rel, h5, h10, h20, first)
    assert row["p20_ppm"] == h20 * 1_000_000 // BM25_TOPK
    assert row["recall20_ppm"] == h20 * 1_000_000 // n_rel
    assert row["mrr_micro"] == 1_000_000 // first
    assert n_rel > 0 and first <= BM25_TOPK
