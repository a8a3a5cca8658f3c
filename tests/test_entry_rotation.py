"""Driver-contract registration guards: the correctness driver checks
only the FIRST 50 queries() entries per round, so ordering is load-
bearing. queries() derives the order from the committed
CORRECTNESS_r<N>.json rows; these tests pin what that order must give
the window, and that every oracle_sql entry belongs to a registered
query and binds to driver-comparable types."""

import importlib.util
import json
import re
from pathlib import Path

import duckdb

from tests.test_plan_gate import SF_DIR

_REPO = Path(__file__).resolve().parents[1]
_WINDOW = 50


def _entry():
    spec = importlib.util.spec_from_file_location(
        "entry", _REPO / "__spark_entry__.py"
    )
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)
    return m


def _prior_rows() -> dict[str, tuple[int, bool]]:
    """{name: (round, green)} of each name's latest driver row. The
    round is parsed as an int, so CORRECTNESS_r10.json sorts after r09."""
    latest: dict[str, tuple[int, bool]] = {}
    rounds = {}
    for path in _REPO.glob("CORRECTNESS_r*.json"):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", path.name)
        if m:
            rounds[int(m.group(1))] = json.loads(path.read_text())
    for rnd in sorted(rounds):
        for name, row in rounds[rnd].items():
            latest[name] = (rnd, all(
                row[k] is True
                for k in ("rows_match", "schema_match", "hash_match")
            ))
    return latest


def _pending(m, latest) -> set[str]:
    return {
        n for n, rnd in m._CHANGED.items()
        if latest.get(n, (0, True))[0] < rnd
    }


def test_window_leads_with_span_gate():
    assert list(_entry().queries())[0] == "extract_span_regression"


def test_reds_and_pending_changes_sit_in_window():
    m = _entry()
    window = set(list(m.queries())[:_WINDOW])
    latest = _prior_rows()
    reds = {n for n, (_rnd, green) in latest.items() if not green}
    missing = sorted((reds | _pending(m, latest)) - window)
    assert not missing, f"red or changed names outside the window: {missing}"


def test_no_green_slot_while_never_checked_name_waits():
    m = _entry()
    names = list(m.queries())
    latest = _prior_rows()
    waiting = [n for n in names[_WINDOW:] if n not in latest]
    if not waiting:
        return
    pending = _pending(m, latest)
    rechecked = [
        n for n in names[1:_WINDOW]
        if n in latest and latest[n][1] and n not in pending
    ]
    assert not rechecked, (
        f"window slots on green unchanged names {rechecked} while "
        f"never-checked names wait: {waiting}"
    )


def _deferred(m) -> list[str]:
    """Never-checked names the window cannot fit this round."""
    latest = _prior_rows()
    return [n for n in list(m.queries())[_WINDOW:] if n not in latest]


def test_unchecked_names_fit_in_driver_window_or_are_deferred():
    """A name the driver has never checked either sits in the window
    or is deferred: it misses the window and still carries a DuckDB
    oracle (locally verified with the driver's own compare,
    tools/check_oracle.py)."""
    m = _entry()
    oracles = set(m.oracle_sql())
    undeclared = [n for n in _deferred(m) if n not in oracles]
    assert not undeclared, (
        f"never-driver-checked queries past slot 50 with no oracle: "
        f"{undeclared}"
    )


def test_deferred_names_each_have_alternative_verification(spark):
    """Each deferred name's oracle is the driver's alternative check, so
    it must bind over the sf0.001 tables and give the same column names
    as the Spark query (the driver's schema_match). Only the plans are
    analysed; no rows are fetched."""
    m = _entry()
    qs, oracles = m.queries(), m.oracle_sql()
    con = duckdb.connect()
    for path in Path(SF_DIR).glob("*.parquet"):
        con.execute(f"CREATE VIEW {path.stem} AS SELECT * FROM '{path}'")
    bad = {}
    for n in _deferred(m):
        scols = sorted(c.lower() for c in qs[n](spark, SF_DIR).columns)
        dcols = sorted(c.lower() for c in con.sql(oracles[n]).columns)
        spark.catalog.clearCache()
        if scols != dcols:
            bad[n] = (scols, dcols)
    assert not bad, f"deferred names whose oracle schema differs: {bad}"


def _row(green: bool) -> dict:
    return {k: green for k in ("rows_match", "schema_match", "hash_match")}


def test_changed_entry_goes_inert_once_its_round_has_a_row(monkeypatch):
    m = _entry()
    names = ["a", "b", "c", "d", m._GATE]
    monkeypatch.setattr(m, "_CHANGED", {"c": 7})
    rows = {
        5: {n: _row(True) for n in ("a", "b", "c", m._GATE)},
        6: {"a": _row(True)},
    }
    monkeypatch.setattr(m, "_driver_rows", lambda: rows)
    # gate, pending change, never checked, then oldest latest row first
    assert m._window_order(names) == [m._GATE, "c", "d", "b", "a"]
    rows[7] = {"c": _row(True), "a": _row(False)}
    assert m._window_order(names) == [m._GATE, "a", "d", "b", "c"]


def test_driver_rows_parse_round_as_int(tmp_path, monkeypatch):
    m = _entry()
    (tmp_path / "CORRECTNESS_r09.json").write_text(
        json.dumps({"a": _row(False)})
    )
    (tmp_path / "CORRECTNESS_r10.json").write_text(
        json.dumps({"a": _row(True), "b": _row(True)})
    )
    monkeypatch.setattr(m, "_ROWS_DIR", tmp_path)
    assert sorted(m._driver_rows()) == [9, 10]
    # r10's green row for "a" is the latest, so "a" is not red
    assert m._window_order(["b", "a"]) == ["b", "a"]


def test_oracle_columns_never_bind_as_hugeint():
    """DuckDB sums integers to HUGEINT, which the driver's frame
    rendering turns into float64/decimal128 while Spark returns long:
    a hash red with equal values. Bind every oracle (no rows fetched)
    and require an explicit BIGINT cast instead."""
    con = duckdb.connect()
    for path in Path(SF_DIR).glob("*.parquet"):
        con.execute(f"CREATE VIEW {path.stem} AS SELECT * FROM '{path}'")
    bad = {}
    for name, sql in _entry().oracle_sql().items():
        rel = con.sql(sql)
        cols = [c for c, t in zip(rel.columns, rel.types) if str(t) == "HUGEINT"]
        if cols:
            bad[name] = cols
    assert not bad, f"oracle columns binding as HUGEINT: {bad}"


def test_golden_backed_entries_keep_oracles():
    """VERDICT r3 next-round #3 (carried): the formerly rows-only
    entries keep their materialized-golden oracle SQL. They earned
    hash rows in CORRECTNESS_r04 and have rotated out of the window."""
    m = _entry()
    oracles = m.oracle_sql()
    for n in (
        "extract_full_pipeline", "extract_doc_confidence",
        "extract_template_fields", "extract_template_fields_auto",
        "export_fanout",
    ):
        assert n in oracles, f"{n} has no oracle SQL"
        assert "tests/goldens" in oracles[n]


def test_oracle_sql_keys_subset_of_queries():
    m = _entry()
    assert set(m.oracle_sql()) <= set(m.queries())
