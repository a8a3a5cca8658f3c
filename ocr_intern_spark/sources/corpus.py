"""Deterministic synthetic corpus of interleaved text+media documents.

Mirrors the reference's fixture strategy — fixtures are *generated*,
never stored (/root/reference/tests/unit/test_morocco_documents.py:15-183,
scripts/gen_fake_assoc.py:55-65) — but in the span domain per
FIXTURES.md: ``documents(doc_id: string, spans: array<struct<kind,
text, media_ref, offset>>)``.

Everything is seeded (default 42) and platform-stable (``random.Random``
only, no hash randomization), so tests, goldens and benches agree
byte-for-byte across runs and across the oracle/Spark boundary.

``stub_ocr_tokens`` doubles as the recognizer both for the pure-Python
oracle and inside the Spark ``mapInPandas`` OCR stage: it is the DATA
SOURCE (deterministic stand-in for pytesseract.image_to_data, whose
output shape it mirrors — base.py:177-211), not logic under test. It
deliberately emits conf<0 and empty tokens (parse-filter coverage),
overlapping AR/FR boxes (F4 tie-break coverage), and mixed-height
multi-line layouts (R2 line-binning coverage).
"""

from __future__ import annotations

import hashlib
import random
from typing import Any

from ocr_intern_spark.oracle.semantics import Token
from ocr_intern_spark.schema import DOCUMENTS_DDL

# FR vocab includes the doc-type keywords (postprocess.py:85-95) and
# OCR-confusable glyphs; AR vocab includes the Arabic keyword set.
_FR_WORDS = (
    "certificat", "demande", "autorisation", "declaration", "résidence",
    "préfecture", "province", "commune", "urbaine", "casablanca",
    "association", "recu", "numéro", "dossier", "signature", "cachet",
    "ville", "quartier", "adresse", "titulaire", "bureau", "etat",
)
_AR_WORDS = (
    "شهادة", "طلب", "رخصة", "تصريح", "السكنى", "عمالة", "إقليم",
    "جماعة", "الدار", "البيضاء", "جمعية", "وصل", "رقم", "ملف",
    "توقيع", "خاتم", "مدينة", "حي", "عنوان", "صاحب", "مكتب",
)
_BOILER_BITS = (
    '<a href="/nav">Accueil</a> <a href="/login">Connexion</a>',
    '<a href="#">Suivant</a> <a href="#">Précédent</a> <a href="#">Menu</a>',
    "© 2024 tous droits réservés",
    '<a href="/a">plan du site</a><a href="/b">contact</a><a href="/c">aide</a>',
)
_HEADINGS = (
    "CERTIFICAT DE RÉSIDENCE",
    "شهادة السكنى",
    "Demande d'Autorisation",
    "طلب الترخيص",
    "Déclaration / تصريح",
    "Attestation Administrative",
)
_FIELD_CASES = (
    "cin: AB 123456",
    "cin: x 12",
    "date_naissance: 12/08/2025",
    "date_deliv: ٠١/٠١/٩٥",
    "date: 31.12.49",
    "tel: 0612345678",
    "tel_fixe: +212 5 22 33 44 55",
    "receipt: Reçu Nº 2024/1234",
    "récépissé: 123-45-678",
    "ice: 001234567890123",
    "if: 1234567",
    "commune: maarif",
    "commune: casablanca anfa",
    "nom_president: Mohammed  El Alaoui",
    "association: جمعية الأمل",
    "notes: montant ٥٠٠ dh",
)


def _rng_for(key: str, seed: int) -> random.Random:
    digest = hashlib.md5(f"{seed}:{key}".encode("utf-8")).hexdigest()
    return random.Random(int(digest, 16))


def stub_ocr_tokens(media_ref: str, seed: int = 42) -> list[Token]:
    """Deterministic word boxes for a media ref (pytesseract stand-in).

    A real deployment swaps this for a Tesseract/vision-model call
    inside the same engine interface — the Spark-side plumbing (Arrow
    batching, schema, fusion) is identical either way.
    """
    rng = _rng_for(media_ref, seed)
    n = rng.randint(4, 14)
    tokens: list[Token] = []
    y = 0
    col = 0
    for i in range(n):
        if col >= rng.randint(2, 5):  # new line
            col = 0
            y += 24
        h = rng.choice((14, 18, 22))
        x = col * 90 + rng.randint(0, 5)
        col += 1
        is_ar = rng.random() < 0.45
        lang = "ara" if is_ar else "fra"
        roll = rng.random()
        if roll < 0.06:
            text = ""  # parse-filtered
        elif roll < 0.12:
            text = str(rng.randint(10, 99999))  # digits: fails script filter
        elif roll < 0.18:
            # wrong-script token for its engine (F1 coverage)
            text = rng.choice(_FR_WORDS if is_ar else _AR_WORDS)
        else:
            text = rng.choice(_AR_WORDS if is_ar else _FR_WORDS)
        conf = -1.0 if rng.random() < 0.07 else round(rng.uniform(5.0, 97.0), 1)
        tokens.append(Token(text, conf, x, y + rng.randint(0, 2), 80, h, lang))
        # occasionally an overlapping opposite-language box (F4 coverage)
        if rng.random() < 0.18:
            other = "fra" if is_ar else "ara"
            otext = rng.choice(_FR_WORDS if is_ar else _AR_WORDS)
            oconf = conf if rng.random() < 0.3 else round(rng.uniform(5.0, 97.0), 1)
            tokens.append(Token(otext, oconf, x + rng.randint(-10, 10), y, 80, h, other))
    return tokens


def costed_stub_ocr_tokens(media_ref: str, seed: int = 42) -> list[Token]:
    """Stub recognizer with REPRESENTATIVE compute cost for scaling
    benchmarks: adds ~1-2 ms of deterministic CPU work (sha256 chain)
    per media ref, standing in for real image decode + OCR inference
    (the reference budgets up to 10 s/doc —
    /root/reference/tests/integration/test_ocr_integration.py:103-105;
    we simulate a fraction of that). Token OUTPUT is identical to
    ``stub_ocr_tokens``, so correctness goldens are unaffected; only
    the cost profile changes. Without this, per-doc work is so light
    that fixed job overheads dominate and no parallelism level can
    show its real scaling."""
    h = hashlib.sha256(media_ref.encode("utf-8")).digest()
    for _ in range(6000):
        h = hashlib.sha256(h).digest()
    return stub_ocr_tokens(media_ref, seed=seed)


def make_document(doc_id: str, seed: int = 42, oversized: bool = False) -> dict[str, Any]:
    """One synthetic document row: interleaved, shuffled spans."""
    rng = _rng_for(f"doc:{doc_id}", seed)
    n = rng.randint(400, 900) if oversized else max(3, int(rng.gammavariate(2.0, 9.0)))
    spans: list[dict[str, Any]] = []
    lang_mode = rng.choice(("fr", "ar", "mixed"))
    for i in range(n):
        roll = rng.random()
        if roll < 0.12:
            kind, text, ref = "boilerplate", rng.choice(_BOILER_BITS), ""
        elif roll < 0.20:
            # linky text span — may or may not cross the density cut
            words = " ".join(rng.choice(_FR_WORDS) for _ in range(rng.randint(1, 6)))
            anchor = f'<a href="/x">{rng.choice(_FR_WORDS)}</a>'
            text = f"{words} {anchor}" if rng.random() < 0.5 else f"{anchor} {anchor} {words[:6]}"
            kind, ref = "text", ""
        elif roll < 0.28:
            kind, text, ref = "heading", rng.choice(_HEADINGS), ""
        elif roll < 0.40:
            kind, text, ref = "field", rng.choice(_FIELD_CASES), ""
        elif roll < 0.52:
            if rng.random() < 0.05:
                kind, text, ref = "media", "", ""  # malformed → error span
            else:
                kind, text, ref = "media", "", f"img://{doc_id}/{i}"
        else:
            vocab = {"fr": _FR_WORDS, "ar": _AR_WORDS}.get(lang_mode)
            if vocab is None:
                vocab = _FR_WORDS if rng.random() < 0.5 else _AR_WORDS
            text = " ".join(rng.choice(vocab) for _ in range(rng.randint(2, 12)))
            if rng.random() < 0.08:
                text = "   "  # whitespace-only → dropped
            kind, ref = "text", ""
        spans.append({"kind": kind, "text": text, "media_ref": ref, "offset": i})
    rng.shuffle(spans)  # input order is NOT reading order
    return {"doc_id": doc_id, "spans": spans}


def _oversized_ids(n_docs: int, seed: int, skew_pct: float = 0.01) -> set[int]:
    """The seeded draw of which doc indexes are oversized."""
    if n_docs <= 0:
        # an empty corpus (also a DataSource `n_docs` option) is a
        # valid, if odd, request, not a randrange(0) ValueError
        return set()
    rng = _rng_for("corpus", seed)
    return {
        rng.randrange(n_docs) for _ in range(max(1, int(n_docs * skew_pct)))
    }


def make_corpus(n_docs: int, seed: int = 42, skew_pct: float = 0.01) -> list[dict[str, Any]]:
    """n_docs synthetic documents; ~skew_pct are oversized (salting
    coverage, SURVEY.md §4 item 1)."""
    oversized = _oversized_ids(n_docs, seed, skew_pct)
    return [
        make_document(f"doc-{i:06d}", seed=seed, oversized=(i in oversized))
        for i in range(n_docs)
    ]


SPANS_DDL = DOCUMENTS_DDL


def corpus_to_spark(spark, n_docs: int, seed: int = 42, partitions: int | None = None):
    """Materialize the corpus as a Spark DataFrame with the canonical
    input schema (BASELINE.json input_hint)."""
    rows = [
        (d["doc_id"], [(s["kind"], s["text"], s["media_ref"], s["offset"])
                       for s in d["spans"]])
        for d in make_corpus(n_docs, seed=seed)
    ]
    df = spark.createDataFrame(rows, schema=SPANS_DDL)
    if partitions:
        df = df.repartition(partitions, "doc_id")
    return df


def write_corpus_parquet(
    path: str, n_docs: int, seed: int = 42, n_files: int = 32
) -> None:
    """Driver-side parquet writer (pyarrow; no Spark needed) for bench
    inputs. Writes a DIRECTORY of ``n_files`` part files so the Spark
    scan gets parallel splits — a single-file corpus serializes the
    scan stage and caps scaling (Amdahl), which is an artifact of the
    generator, not the pipeline."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    span_type = pa.struct(
        [("kind", pa.string()), ("text", pa.string()),
         ("media_ref", pa.string()), ("offset", pa.int32())]
    )

    def to_table(docs: list[dict[str, Any]]) -> pa.Table:
        return pa.table(
            {
                "doc_id": pa.array([d["doc_id"] for d in docs], pa.string()),
                "spans": pa.array(
                    [
                        [(s["kind"], s["text"], s["media_ref"], s["offset"])
                         for s in d["spans"]]
                        for d in docs
                    ],
                    pa.list_(span_type),
                ),
            }
        )

    docs = make_corpus(n_docs, seed=seed)
    os.makedirs(path, exist_ok=True)
    chunk = (len(docs) + n_files - 1) // n_files
    for i in range(n_files):
        part = docs[i * chunk : (i + 1) * chunk]
        if part:
            pq.write_table(to_table(part), f"{path}/part-{i:04d}.parquet")
