"""Source audit: every DuckDB vector rule of operators/similarity.py is
spelled in one fragment — the float cosine in `_sql_cos`, the md5
centroid sample in `_cents_sql`, the (ccos desc, cid asc) cell
assignment in `_assign_sql` — so the oracles cannot drift apart."""

import ast
import pathlib
import re

import pytest

SRC = (
    pathlib.Path(__file__).resolve().parent.parent
    / "ocr_intern_spark"
    / "operators"
    / "similarity.py"
)

# rule → (pattern, the one top-level definition allowed to spell it)
RULES = {
    "float_cosine_norm": (
        re.compile(re.escape("sqrt(list_sum(list_transform(")),
        "_sql_cos",
    ),
    "md5_centroid_sample": (
        re.compile(re.escape("md5(CAST(vec_id AS VARCHAR))")),
        "_cents_sql",
    ),
    "assignment_order": (
        re.compile(r"ORDER BY (\w+\.)?ccos DESC, (\w+\.)?cid ASC"),
        "_assign_sql",
    ),
}


def _owner(stmt: ast.stmt) -> str:
    if isinstance(stmt, (ast.FunctionDef, ast.ClassDef)):
        return stmt.name
    if isinstance(stmt, ast.Assign) and isinstance(stmt.targets[0], ast.Name):
        return stmt.targets[0].id
    return f"<line {stmt.lineno}>"


def _strings():
    """(owner, lineno, text) for every string constant and f-string in
    the module; an f-string's text is its literal parts, in order."""
    tree = ast.parse(SRC.read_text())
    for stmt in tree.body:
        nodes = list(ast.walk(stmt))
        in_fstring = {
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
                and id(n) not in in_fstring
            ):
                text = n.value
            else:
                continue
            yield _owner(stmt), n.lineno, text


@pytest.mark.parametrize("rule", sorted(RULES))
def test_vector_rule_spelled_once(rule):
    pattern, owner = RULES[rule]
    owned, offenders = 0, []
    for where, lineno, text in _strings():
        hits = len(pattern.findall(text))
        if not hits:
            continue
        if where == owner:
            owned += hits
        else:
            offenders.append(f"similarity.py:{lineno} ({where}) ×{hits}")
    assert not offenders, (
        f"{rule} spelled outside {owner}:\n" + "\n".join(offenders)
    )
    assert owned, f"{owner} no longer spells {rule}"
