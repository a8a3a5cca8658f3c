"""Build a k-fold replicated perf dataset from an existing sf dir.

The driver's round-end MEASUREMENT may escalate to sf1.0 (driver-
generated, not shipped), where several headline queries leave the
sf0.1 regime (e.g. the shingle inverted index's pair-candidate count
grows ~quadratically with corpus size because the shingle vocabulary
is nearly fixed). To optimize for that regime locally, this tool
replicates every sf0.1 table k times with consistent key offsets:

* fact/entity keys (doc_id, o_orderkey, c_custkey, ...) are offset by
  copy * (max_key + 1), keeping FK joins valid and key universes 10x;
  doc_id's stride is rounded up to a multiple of 5 so each copy keeps
  the source's doc_id % 5 population (gopher repetition doubles the
  text of doc_id % 5 == 0 docs; other queries branch on it too);
* dimension tables region/nation are kept as-is (TPC-H style);
* text/payload columns are left identical across copies — shingle
  document frequency then grows ~k-fold per shingle, matching the
  fixed-vocabulary growth law measured on the real sf0.01 -> sf0.1
  pair (distinct shingles 14.5k -> 27.2k while rows grew 10x).

PERF MEASUREMENT ONLY — never used by bench.py or any query, and the
output lives under /tmp, outside the repo.

Usage: python tools/make_perf_sf.py [k] [src_dir] [dst_dir]
"""

from __future__ import annotations

import os
import sys

import duckdb

# table -> columns to offset by copy * (table_max + 1) of the named
# base table's key (so FKs stay aligned with their parents)
OFFSETS: dict[str, list[tuple[str, str, str]]] = {
    # (column, parent_table, parent_key)
    "customer": [("c_custkey", "customer", "c_custkey")],
    "supplier": [("s_suppkey", "supplier", "s_suppkey")],
    "part": [("p_partkey", "part", "p_partkey")],
    "orders": [
        ("o_orderkey", "orders", "o_orderkey"),
        ("o_custkey", "customer", "c_custkey"),
    ],
    "lineitem": [
        ("l_orderkey", "orders", "o_orderkey"),
        ("l_partkey", "part", "p_partkey"),
        ("l_suppkey", "supplier", "s_suppkey"),
    ],
    "events": [
        ("event_id", "events", "event_id"),
        ("user_id", "events", "user_id"),
    ],
    "documents": [("doc_id", "documents", "doc_id")],
    "embeddings": [("vec_id", "embeddings", "vec_id")],
}
COPY_AS_IS = ["region", "nation"]


def main() -> None:
    k = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    src = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    dst = sys.argv[3] if len(sys.argv) > 3 else f"/tmp/perf_sf_x{k}"
    os.makedirs(dst, exist_ok=True)
    con = duckdb.connect()

    maxes: dict[tuple[str, str], int] = {}
    for t, cols in OFFSETS.items():
        for _c, pt, pk in cols:
            if (pt, pk) not in maxes:
                maxes[(pt, pk)] = con.execute(
                    f"SELECT max({pk}) FROM '{src}/{pt}.parquet'"
                ).fetchone()[0]

    for t in COPY_AS_IS:
        con.execute(
            f"COPY (SELECT * FROM '{src}/{t}.parquet') TO "
            f"'{dst}/{t}.parquet' (FORMAT parquet)"
        )
        print(t, "copied")

    for t, cols in OFFSETS.items():
        offcols = {c: maxes[(pt, pk)] + 1 for c, pt, pk in cols}
        if "doc_id" in offcols:  # round up to a multiple of 5 (docstring)
            offcols["doc_id"] += -offcols["doc_id"] % 5
        names = [
            r[0]
            for r in con.execute(
                f"DESCRIBE SELECT * FROM '{src}/{t}.parquet'"
            ).fetchall()
        ]
        sel = ", ".join(
            f"({c} + copy * {offcols[c]})::BIGINT AS {c}" if c in offcols else c
            for c in names
        )
        con.execute(
            f"COPY (SELECT {sel} FROM '{src}/{t}.parquet' "
            f"CROSS JOIN (SELECT unnest(range({k})) AS copy) "
            f"ORDER BY copy) TO '{dst}/{t}.parquet' (FORMAT parquet)"
        )
        n = con.execute(f"SELECT count(*) FROM '{dst}/{t}.parquet'").fetchone()[0]
        print(t, n, "rows")


if __name__ == "__main__":
    main()
