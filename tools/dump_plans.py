"""Export every registered query's plan and oracle text, for a diff.

For every non-stream name, writes the normalized pre-AQE physical plan
(`sparkPlan()`, built but never executed) to `<out_dir>/<name>.plan`;
a stream callable runs real micro-batches to build its frame, so it
gets none. For every name with an oracle, writes its `oracle_sql()`
string to `<out_dir>/<name>.sql`.

Normalization strips what differs between two builds of one plan:
expression ids (`#123L`), `plan_id=`, `QueryStage n`, codegen stage
ids `*(n)`, lambda variable counters and RDD ids. Both files show the
tree's own path, where the goldens are read from, as `<repo>`. Two
exported trees then compare with

    python tools/dump_plans.py <sf_dir> <out_dir>
    diff -r <out_dir_a> <out_dir_b>
"""

from __future__ import annotations

import os
import re
import sys
from pathlib import Path

REPO = str(Path(__file__).resolve().parents[1])
sys.path.insert(0, REPO)

_NORMALIZE = [
    (re.compile(r"#\d+L?"), "#"),
    (re.compile(r"plan_id=\d+"), "plan_id=?"),
    (re.compile(r"QueryStage \d+"), "QueryStage ?"),
    (re.compile(r"\*\(\d+\)"), "*(?)"),
    (re.compile(r"(lambda \w+?)_\d+\b"), r"\1"),
    (re.compile(r"(namedlambdavariable\(\))_?\d+"), r"\1"),
    (re.compile(r"RDD\[\d+\]"), "RDD[?]"),
]


def normalize(plan: str) -> str:
    for pattern, repl in _NORMALIZE:
        plan = pattern.sub(repl, plan)
    return plan.replace(REPO, "<repo>")


def main() -> None:
    if len(sys.argv) != 3:
        sys.exit("usage: python tools/dump_plans.py <sf_dir> <out_dir>")
    sf_dir, out_dir = sys.argv[1], Path(sys.argv[2])
    out_dir.mkdir(parents=True, exist_ok=True)

    import __spark_entry__ as entrymod
    from pyspark.sql import SparkSession

    # the Python workers import the package too: pin them to this tree
    os.environ["PYTHONPATH"] = os.pathsep.join(
        filter(None, [REPO, os.environ.get("PYTHONPATH")])
    )
    spark = (
        SparkSession.builder.master("local[1]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    for name, sql in entrymod.oracle_sql().items():
        (out_dir / f"{name}.sql").write_text(sql.replace(REPO, "<repo>"))
    for name, fn in entrymod.queries().items():
        if name.startswith("stream_"):
            continue
        plan = fn(spark, sf_dir)._jdf.queryExecution().sparkPlan()
        (out_dir / f"{name}.plan").write_text(normalize(plan.toString()))
        spark.catalog.clearCache()
    spark.stop()


if __name__ == "__main__":
    main()
