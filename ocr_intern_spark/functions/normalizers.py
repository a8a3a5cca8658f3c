"""Field normalizers as NATIVE Spark column expressions (V1-V13).

Second, independent implementation of the semantics in
``ocr_intern_spark.oracle.validators`` (reference:
/root/reference/src/postprocessing/validators.py:5-139) — pure
Catalyst expressions: zero Python in the hot path, pushdown-friendly.
Not all of it is whole-stage codegen'd: the higher-order functions in
``title_case`` (``transform``) and ``normalize_commune`` (``filter``)
are CodegenFallback expressions on Spark 4.1, so a Project or Filter
that contains them runs outside WholeStageCodegen (no ``*(n)`` marker
in the executed plan) and is evaluated by a generated projection.

Every function takes and returns ``pyspark.sql.Column``.

Determinism note: the reference's commune lookup iterates a Python
``set`` (validators.py:90), whose order is process-dependent under
hash randomization. We pin source order (the order the set literal is
written in) — the only deterministic choice; the oracle pins the same
order.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ocr_intern_spark.oracle.validators import CASA_COMMUNES

AR_DIGITS = "٠١٢٣٤٥٦٧٨٩"

# French accent fold map — equals NFKD-strip on the French/Moroccan
# character inventory (postprocess.py:23-30). Kept as translate() so
# the DuckDB oracle can express the identical transform.
ACCENTED = "ÀÂÄÉÈÊËÎÏÔÖÙÛÜÇàâäéèêëîïôöùûüç"
UNACCENTED = "AAAEEEEIIOOUUUCaaaeeeeiioouuuc"


def ar2en_digits(c: Column) -> Column:
    """V1 (validators.py:5-9)."""
    return F.translate(c, AR_DIGITS, "0123456789")


def squash_spaces(c: Column) -> Column:
    """V2 (validators.py:12-13)."""
    return F.trim(F.regexp_replace(c, r"\s+", " "))


def fold_accents(c: Column) -> Column:
    """V12 analogue as a translate (see module docstring)."""
    return F.translate(c, ACCENTED, UNACCENTED)


_CIN_RE = r"([A-Z]{1,2})\s*[- ]?(\d{5,6})"


def normalize_cin(c: Column) -> tuple[Column, Column]:
    """V3 → (value, valid) (validators.py:34-39)."""
    raw = ar2en_digits(F.upper(c))
    g1 = F.regexp_extract(raw, _CIN_RE, 1)
    g2 = F.regexp_extract(raw, _CIN_RE, 2)
    valid = g1 != F.lit("")
    return F.when(valid, F.concat(g1, g2)).otherwise(squash_spaces(c)), valid


_DATE_RE = r"(\d{1,2})/(\d{1,2})/(\d{2,4})"


def normalize_date_ma(c: Column) -> tuple[Column, Column]:
    """V4 → (value, valid) (validators.py:42-54)."""
    t = F.translate(ar2en_digits(c), ".-", "//")
    hit = F.regexp_extract(t, _DATE_RE, 0) != F.lit("")
    d = F.regexp_extract(t, _DATE_RE, 1).cast("int")
    mo = F.regexp_extract(t, _DATE_RE, 2).cast("int")
    y0 = F.regexp_extract(t, _DATE_RE, 3).cast("int")
    y = F.when(y0 < 50, y0 + 2000).when(y0 < 100, y0 + 1900).otherwise(y0)
    ok = hit & d.between(1, 31) & mo.between(1, 12) & y.between(1900, 2100)
    value = F.when(ok, F.format_string("%04d-%02d-%02d", y, mo, d)).otherwise(
        squash_spaces(c)
    )
    return value, ok


def normalize_phone_ma(c: Column) -> tuple[Column, Column]:
    """V5 → (value, valid) (validators.py:57-67)."""
    digits = F.regexp_replace(ar2en_digits(c), r"\D+", "")
    no212 = F.when(
        digits.startswith("212"), digits.substr(F.lit(4), F.length(digits))
    ).otherwise(digits)
    core = F.when(no212.startswith("0"), no212.substr(F.lit(2), F.length(no212))).otherwise(no212)
    valid = F.length(core) == 9
    return F.when(valid, F.concat(F.lit("+212"), core)).otherwise(squash_spaces(c)), valid


_RECEIPT_RE = r"(\d{1,6}(?:[/-]\d{2,4}){1,3})"


def normalize_receipt_no(c: Column) -> tuple[Column, Column]:
    """V6 → (value, valid) (validators.py:70-75)."""
    m = F.regexp_extract(ar2en_digits(c), _RECEIPT_RE, 1)
    valid = m != F.lit("")
    return F.when(valid, F.translate(m, "-", "/")).otherwise(squash_spaces(c)), valid


def _digits_only(c: Column) -> Column:
    return F.regexp_replace(ar2en_digits(c), r"\D", "")


def normalize_ice(c: Column) -> tuple[Column, Column]:
    """V7 (validators.py:78-80)."""
    d = _digits_only(c)
    return d, F.length(d) == 15


def normalize_if(c: Column) -> tuple[Column, Column]:
    """V8 (validators.py:83-85)."""
    d = _digits_only(c)
    return d, F.length(d).between(7, 8)


def _commune_pairs() -> Column:
    # built lazily: F.lit needs an active SparkContext
    return F.array(
        *[
            F.struct(F.lit(c.lower()).alias("low"), F.lit(c).alias("canon"))
            for c in CASA_COMMUNES
        ]
    )


def title_case(c: Column) -> Column:
    """Python ``str.title()`` semantics, natively: a cased letter is
    uppercased iff the PREVIOUS char is not a cased letter (so
    ``0a``→``0A``, ``m'sick``→``M'Sick``), else lowercased —
    ``initcap`` only breaks on whitespace and diverges on digits/
    apostrophes (caught by the hypothesis cross-check vs the
    oracle)."""
    chars = F.split(c, "")
    cased = "[\\p{Lu}\\p{Ll}\\p{Lt}]"
    titled = F.transform(
        chars,
        lambda ch, i: F.when(i == 0, F.upper(ch)).otherwise(
            # element_at is 1-based: index i (>=1 here) IS the
            # previous character of 0-based position i
            F.when(F.element_at(chars, i).rlike(cased), F.lower(ch)).otherwise(
                F.upper(ch)
            )
        ),
    )
    return F.array_join(titled, "")


def normalize_commune(c: Column) -> tuple[Column, Column]:
    """V9 (validators.py:88-93) — bidirectional substring against the
    14-commune list; always valid. Expressed as a higher-order
    ``filter`` over a literal array (compiles to one tight loop,
    vs a 14-deep when-chain that blows the 64KB codegen method cap)."""
    base = title_case(squash_spaces(c))
    low = F.lower(base)
    hits = F.filter(
        _commune_pairs(),
        lambda p: F.contains(p["low"], low) | F.contains(low, p["low"]),
    )
    # try_element_at: NULL (not ANSI error) when no commune matched
    value = F.coalesce(F.try_element_at(hits, F.lit(1))["canon"], base)
    return value, F.lit(True)


def normalize_name(c: Column) -> tuple[Column, Column]:
    """V10 (validators.py:96-97)."""
    v = squash_spaces(c)
    return v, F.length(v) > 0


def normalize_text_generic(c: Column) -> tuple[Column, Column]:
    """Fallback (validators.py:135-139)."""
    return squash_spaces(ar2en_digits(c)), F.length(squash_spaces(c)) > 0


def _any_substr(k: Column, subs: tuple[str, ...]) -> Column:
    cond = F.lit(False)
    for s in subs:
        cond = cond | F.contains(k, F.lit(s))
    return cond


_DATE_KEYS = ("date", "deliv", "délivr", "naissance", "dob", "تاريخ")
_TEL_KEYS = ("tel", "tél", "phone", "gsm", "هاتف")
_RECEIPT_KEYS = ("recep", "récép", "receipt", "وصل", "رقم الوصل")
_COMMUNE_KEYS = ("commune", "arrondissement", "prefecture", "wilaya", "province")
_NAME_KEYS = (
    "président", "president", "secr", "trésor", "association",
    "intitul", "name", "nom", "اسم الجمعية",
)


def normalize_field(key: Column, raw: Column) -> Column:
    """V11 dispatch cascade (validators.py:100-139).

    Returns ONE struct<type,value,valid> column built from a single
    when-chain — not three parallel chains — so the generated code
    stays ~1/3 the size and under janino's 64KB method cap. The
    commune branch's ``filter`` is a CodegenFallback HOF, so the
    cascade runs in a generated projection, not in WholeStageCodegen
    (module docstring). First matching key rule wins (reference
    if-chain order).
    """
    return normalize_field_lowered(F.lower(key), raw)


def normalize_field_lowered(k: Column, raw: Column) -> Column:
    """``normalize_field`` on a key that is already lower-cased. The
    cascade probes the key ~40 times; a caller that stages
    ``lower(key)`` as a column of a projection below passes that
    column here, so the probes read one attribute instead of each
    repeating ``lower(...)``."""

    def pack(tname: str, vv: tuple[Column, Column]) -> Column:
        val, ok = vv
        return F.struct(
            F.lit(tname).alias("type"), val.alias("value"), ok.alias("valid")
        )

    fb = pack("text", normalize_text_generic(raw))
    return (
        F.when(_any_substr(k, ("cin", "cnie")), pack("cin", normalize_cin(raw)))
        .when(_any_substr(k, _DATE_KEYS), pack("date", normalize_date_ma(raw)))
        .when(_any_substr(k, _TEL_KEYS), pack("phone", normalize_phone_ma(raw)))
        .when(_any_substr(k, _RECEIPT_KEYS), pack("receipt_no", normalize_receipt_no(raw)))
        .when(F.contains(k, F.lit("ice")), pack("ice", normalize_ice(raw)))
        .when(k.rlike(r"\bif\b"), pack("if", normalize_if(raw)))
        .when(_any_substr(k, _COMMUNE_KEYS), pack("commune", normalize_commune(raw)))
        .when(_any_substr(k, _NAME_KEYS), pack("name", normalize_name(raw)))
        .otherwise(fb)
    )


def guess_lang(c: Column) -> Column:
    """V13 script-based language guess (postprocess.py:13-21)."""
    return (
        F.when(c.rlike("[؀-ۿ]"), F.lit("arabic"))
        .when(F.lower(c).rlike("[a-z]"), F.lit("french"))
        .otherwise(F.lit(None).cast("string"))
    )


def fix_french_ocr(c: Column) -> Column:
    """E8 French OCR confusion fixes (french.py:59-68): '|'→'I',
    '1'→'l', strip. Native translate — no UDF."""
    return F.trim(F.translate(c, "|1", "Il"))


def classify_doc_type(joined: Column) -> Column:
    """A1 doc-type keyword cascade (postprocess.py:77-97).

    elif priority preserved: certificate > application >
    authorization > declaration. 'declaration' is matched on the
    accent-folded letters-only form with optional middle 'e'.
    """
    low = F.lower(joined)
    fold = fold_accents(low)
    fold_letters = F.regexp_replace(fold, "[^a-z]+", "")
    return (
        F.when(F.contains(fold, F.lit("certificat")) | F.contains(low, F.lit("شهادة")), "certificate")
        .when(F.contains(fold, F.lit("demande")) | F.contains(low, F.lit("طلب")), "application")
        .when(F.contains(fold, F.lit("autorisation")) | F.contains(low, F.lit("رخصة")), "authorization")
        .when(fold_letters.rlike("d[e]?claration") | F.contains(low, F.lit("تصريح")), "declaration")
        .otherwise(F.lit(None).cast("string"))
    )
