"""Local replica of the driver's DuckDB-oracle correctness gate.

Runs every queries()[name] on Spark and the matching oracle_sql()[name]
on DuckDB over the same parquet dir, compares row count, column names,
and an order-insensitive value hash. A name that queries() does not
know is an error (exit 1), not a skip. Usage:

    python tools/check_oracle.py [sf_dir] [name ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
from pathlib import Path

import duckdb

REPO = str(Path(__file__).resolve().parents[1])
sys.path.insert(0, REPO)

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings".split()
)


def norm_cell(v) -> str:
    import decimal

    if v is None:
        return "∅"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, (float, decimal.Decimal)):
        return f"{float(v):.9g}"
    return str(v)


def frame_hash(cols: list[str], rows: list[tuple]) -> tuple[int, str]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x1f".join(norm_cell(r[i]) for i in order) for r in rows
    )
    h = hashlib.md5("\n".join(lines).encode()).hexdigest()
    return len(rows), h


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from pyspark.sql import SparkSession

    qs = entrymod.queries()
    unknown = sorted(only - set(qs))
    if unknown:
        print(f"unknown query names: {', '.join(unknown)}")
        sys.exit(1)

    # the Python workers import the package too: pin them to this tree
    os.environ["PYTHONPATH"] = os.pathsep.join(
        filter(None, [REPO, os.environ.get("PYTHONPATH")])
    )
    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "16")
        .config("spark.ui.enabled", "false")
        # no [Stage n:>…] bars: a 2>&1 log keeps one result per line
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {e}")
            failures.append(name)
            continue
        finally:
            # each query persists its own fresh lineage; in a
            # 256-query sweep the dead caches otherwise accumulate
            # (MEMORY_AND_DISK grows monotonically). Safe point: the
            # frame was just collected (or failed).
            spark.catalog.clearCache()
        if name not in oracles:
            print(f"rows  {name}: {len(srows)} rows (no oracle)")
            continue
        try:
            res = con.sql(oracles[name])
            dcols = [c.lower() for c in res.columns]
            drows = res.fetchall()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {e}")
            failures.append(name)
            continue
        sn, sh = frame_hash([c.lower() for c in scols], srows)
        dn, dh = frame_hash(dcols, drows)
        schema_ok = sorted(c.lower() for c in scols) == sorted(dcols)
        status = "OK  " if (sn == dn and sh == dh and schema_ok) else "FAIL"
        print(f"{status}  {name}: spark {sn} rows / duckdb {dn} rows; "
              f"hash {'=' if sh == dh else '≠'}; schema {'=' if schema_ok else '≠'}")
        if status == "FAIL":
            failures.append(name)
            if not schema_ok:
                print(f"      spark cols: {sorted(scols)}")
                print(f"      duck cols:  {sorted(dcols)}")
            elif sn == dn:
                sset = {tuple(norm_cell(v) for v in r) for r in srows}
                dset = {tuple(norm_cell(v) for v in r) for r in drows}
                so = sorted(sset - dset)[:3]
                do = sorted(dset - sset)[:3]
                print(f"      spark-only: {so}")
                print(f"      duck-only:  {do}")
    spark.stop()
    print(f"\n{'ALL OK' if not failures else 'FAILURES: ' + ', '.join(failures)}")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
