"""Source audit: every rule that keeps a query hash-exact across the
two engines is spelled in one place per engine side, so no query or
oracle can drift from the others.

* DuckDB side: a pattern over every string constant and f-string of
  the package (an f-string counts by its literal parts, in order;
  docstrings are prose and do not count).
* Spark side: an expression shape over every module's AST.

Each rule has one owner, a (module, top-level definition) pair, that
alone may spell it — and must."""

import ast
import pathlib
import re

import pytest

PKG = pathlib.Path(__file__).resolve().parent.parent / "ocr_intern_spark"

# rule → (pattern, owner)
SQL_RULES = {
    # operators/similarity.py vector rules
    "float_cosine_norm": (
        re.compile(re.escape("sqrt(list_sum(list_transform(")),
        ("operators/similarity.py", "_sql_cos"),
    ),
    "md5_centroid_sample": (
        re.compile(re.escape("md5(CAST(vec_id AS VARCHAR))")),
        ("operators/similarity.py", "_cents_sql"),
    ),
    "assignment_order": (
        re.compile(r"ORDER BY (\w+\.)?ccos DESC, (\w+\.)?cid ASC"),
        ("operators/similarity.py", "_assign_sql"),
    ),
    # exact money: floor(x * 100), x possibly parenthesized
    "cents": (
        re.compile(r"floor\((?:[^()]|\([^()]*\))*\* 100\)"),
        ("sources/tables.py", "cents_sql"),
    ),
    "net_revenue": (
        re.compile(re.escape("l_extendedprice * (1 - l_discount)")),
        ("operators/analytics.py", "_NET_REV_SQL"),
    ),
    # the text fingerprint is md5 of this normalization
    "normalized_text": (
        re.compile(r"regexp_replace\(lower\(\w+\), '\\s\+', ' '"),
        ("functions/text.py", "NORMALIZED_TEXT_SQL"),
    ),
}


def _call(node: ast.AST, name: str) -> bool:
    """`name(…)` or `F.name(…)`."""
    f = getattr(node, "func", None)
    return isinstance(node, ast.Call) and (
        isinstance(f, ast.Attribute) and f.attr == name
        or isinstance(f, ast.Name) and f.id == name
    )


def _const(node: ast.AST, value) -> bool:
    return isinstance(node, ast.Constant) and node.value == value


def _col(node: ast.AST, name: str) -> bool:
    return _call(node, "col") and _const(node.args[0], name)


def _mul(node: ast.AST) -> bool:
    return isinstance(node, ast.BinOp) and isinstance(node.op, ast.Mult)


SPARK_RULES = {
    # F.floor(<x> * 100)
    "cents": (
        lambda n: _call(n, "floor")
        and _mul(n.args[0])
        and _const(n.args[0].right, 100),
        ("sources/tables.py", "cents"),
    ),
    # F.col("l_extendedprice") * (1 - F.col("l_discount"))
    "net_revenue": (
        lambda n: _mul(n)
        and _col(n.left, "l_extendedprice")
        and isinstance(n.right, ast.BinOp)
        and isinstance(n.right.op, ast.Sub)
        and _const(n.right.left, 1)
        and _col(n.right.right, "l_discount"),
        ("operators/analytics.py", "_net_revenue"),
    ),
    # F.regexp_replace(F.lower(…), r"\s+", " ")
    "normalized_text": (
        lambda n: _call(n, "regexp_replace")
        and _call(n.args[0], "lower")
        and _const(n.args[1], r"\s+")
        and _const(n.args[2], " "),
        ("functions/text.py", "normalized_text"),
    ),
}


# rules that only look like one above; no pattern or shape may match
SQL_LOOKALIKES = [
    "round(value * 100)",  # q_events_rollup_cascade
    "CAST(floor(l_quantity * 10) AS BIGINT)",
    "CAST(floor(n_chars / 100) * 100 AS BIGINT)",
    "CAST(floor( * 1000000 + 0.5)",  # similarity's rounded cosine
]
SPARK_LOOKALIKES = [
    'F.round(F.col("value") * 100)',
    'F.floor(F.col("l_quantity") * 10)',
    'F.floor(F.col("n_chars") / 100) * 100',
    "F.floor(cos * 1000000 + 0.5)",
    'F.col("l_extendedprice") * F.col("l_discount")',
    r'F.regexp_replace(F.lower(F.col("text")), r"\s", "")',
]


def _owner(stmt: ast.stmt) -> str:
    if isinstance(stmt, (ast.FunctionDef, ast.ClassDef)):
        return stmt.name
    if isinstance(stmt, ast.Assign) and isinstance(stmt.targets[0], ast.Name):
        return stmt.targets[0].id
    return f"<line {stmt.lineno}>"


def _modules():
    """(module path relative to the package, top-level owner, AST) for
    every top-level statement of every module."""
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        for stmt in ast.parse(path.read_text()).body:
            yield rel, _owner(stmt), stmt


def _docstrings(stmt: ast.stmt) -> set[int]:
    return {
        id(n.body[0].value)
        for n in ast.walk(stmt)
        if isinstance(n, (ast.FunctionDef, ast.ClassDef))
        and n.body
        and isinstance(n.body[0], ast.Expr)
        and isinstance(n.body[0].value, ast.Constant)
    }


def _strings():
    """(module, owner, lineno, text) for every string constant and
    f-string; an f-string's text is its literal parts, in order."""
    for rel, owner, stmt in _modules():
        nodes = list(ast.walk(stmt))
        skip = _docstrings(stmt) | {
            id(v)
            for n in nodes
            if isinstance(n, ast.JoinedStr)
            for v in n.values
        }
        for n in nodes:
            if isinstance(n, ast.JoinedStr):
                text = "".join(
                    v.value for v in n.values if isinstance(v, ast.Constant)
                )
            elif (
                isinstance(n, ast.Constant)
                and isinstance(n.value, str)
                and id(n) not in skip
            ):
                text = n.value
            else:
                continue
            yield rel, owner, n.lineno, text


def _check(rule, owner, found):
    owned, offenders = 0, []
    for where, lineno, hits in found:
        if where == owner:
            owned += hits
        else:
            offenders.append(f"{where[0]}:{lineno} ({where[1]}) ×{hits}")
    assert not offenders, (
        f"{rule} spelled outside {owner}:\n" + "\n".join(offenders)
    )
    assert owned, f"{owner} no longer spells {rule}"


@pytest.mark.parametrize("rule", sorted(SQL_RULES))
def test_sql_rule_spelled_once(rule):
    pattern, owner = SQL_RULES[rule]
    found = [
        ((rel, where), lineno, len(pattern.findall(text)))
        for rel, where, lineno, text in _strings()
        if pattern.search(text)
    ]
    _check(rule, owner, found)


@pytest.mark.parametrize("rule", sorted(SPARK_RULES))
def test_spark_rule_spelled_once(rule):
    matches, owner = SPARK_RULES[rule]
    found = [
        ((rel, where), n.lineno, 1)
        for rel, where, stmt in _modules()
        for n in ast.walk(stmt)
        if _shape(matches, n)
    ]
    _check(rule, owner, found)


def _shape(matches, node: ast.AST) -> bool:
    # a shape test may index args the node lacks: that is no match
    try:
        return bool(matches(node))
    except (IndexError, AttributeError):
        return False


@pytest.mark.parametrize("text", SQL_LOOKALIKES)
def test_sql_lookalike_matches_no_rule(text):
    assert not [rule for rule, (p, _) in SQL_RULES.items() if p.search(text)]


@pytest.mark.parametrize("text", SPARK_LOOKALIKES)
def test_spark_lookalike_matches_no_rule(text):
    nodes = list(ast.walk(ast.parse(text, mode="eval")))
    assert not [
        rule
        for rule, (matches, _) in SPARK_RULES.items()
        if any(_shape(matches, n) for n in nodes)
    ]
