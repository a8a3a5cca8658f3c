"""functions/text.py word rule: `words`, `word_ngrams`, and the source
audit that keeps every Spark-side whitespace split inside `words()`."""

import ast
import pathlib

from pyspark.sql import functions as F

from ocr_intern_spark.functions.text import token_count, word_ngrams, words

REPO = pathlib.Path(__file__).resolve().parent.parent


def test_words_ngrams_and_count(spark):
    df = spark.createDataFrame(
        [(1, "  The cat\tsat  on\nthe mat "), (2, "   "), (3, "one two")],
        "id int, text string",
    )
    toks = words(F.lower(F.col("text")))
    rows = {
        r.id: r
        for r in df.select(
            "id",
            toks.alias("w"),
            word_ngrams(toks, 3).alias("g"),
            token_count(F.col("text")).alias("n"),
        ).collect()
    }
    assert rows[1].w == ["the", "cat", "sat", "on", "the", "mat"]
    assert rows[1].g == ["the cat sat", "cat sat on", "sat on the", "on the mat"]
    assert rows[1].n == 6
    # blank text: one empty word, no tokens counted
    assert (rows[2].w, rows[2].g, rows[2].n) == ([""], [""], 0)
    # shorter than n: one window, the whole array joined
    assert rows[3].g == ["one two"]


def _split_on_whitespace(node: ast.AST) -> bool:
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "split"
        and any(
            isinstance(a, ast.Constant)
            and isinstance(a.value, str)
            and r"\s+" in a.value
            for a in node.args
        )
    )


def test_only_words_splits_text_on_whitespace():
    files = sorted((REPO / "ocr_intern_spark").rglob("*.py"))
    files.append(REPO / "__spark_entry__.py")
    own = REPO / "ocr_intern_spark" / "functions" / "text.py"
    assert own in files
    offenders, owned = [], 0
    for f in files:
        tree = ast.parse(f.read_text())
        words_body = {
            id(n)
            for fn in ast.walk(tree)
            if isinstance(fn, ast.FunctionDef) and fn.name == "words"
            for n in ast.walk(fn)
        }
        for node in ast.walk(tree):
            if not _split_on_whitespace(node):
                continue
            if f == own and id(node) in words_body:
                owned += 1
            else:
                src = ast.get_source_segment(f.read_text(), node)
                offenders.append(f"{f.relative_to(REPO)}:{node.lineno}: {src}")
    assert not offenders, "\n".join(offenders)
    assert owned == 1
