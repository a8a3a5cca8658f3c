"""sources/tables.py: the spread rule, and the source audit that keeps
it (and the table path layout) in that one module."""

import pathlib
import re

from ocr_intern_spark.sources.tables import spread

REPO = pathlib.Path(__file__).resolve().parent.parent


def test_spread_widens_a_one_partition_frame(spark):
    df = spark.range(0, 100, 1, 1)
    assert df.rdd.getNumPartitions() == 1
    out = spread(df)
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    assert sorted(r.id for r in out.collect()) == list(range(100))


def test_spread_keeps_a_wide_frame_as_is(spark):
    p = spark.sparkContext.defaultParallelism
    df = spark.range(0, 100, 1, p)
    assert spread(df) is df
    wider = spark.range(0, 100, 1, p + 3)
    assert spread(wider) is wider


def test_spread_partitions_override_the_width(spark):
    df = spark.range(0, 100, 1, 1)
    assert spread(df, 3).rdd.getNumPartitions() == 3
    p = spark.sparkContext.defaultParallelism
    wide = spark.range(0, 100, 1, p)
    assert spread(wide, p + 2).rdd.getNumPartitions() == p + 2


def test_only_tables_module_builds_paths_or_holds_the_rule():
    files = sorted((REPO / "ocr_intern_spark").rglob("*.py"))
    files.append(REPO / "__spark_entry__.py")
    own = REPO / "ocr_intern_spark" / "sources" / "tables.py"
    assert own in files
    rule = re.compile(r"getNumPartitions\(\)\s*[<>]")
    offenders = []
    for f in files:
        if f == own:
            continue
        for i, line in enumerate(f.read_text().splitlines(), 1):
            if 'f"{sf_dir}/' in line or rule.search(line):
                offenders.append(f"{f.relative_to(REPO)}:{i}: {line.strip()}")
    assert not offenders, "\n".join(offenders)
