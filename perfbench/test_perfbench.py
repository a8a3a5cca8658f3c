"""Toy-size checks of the benchmark itself (not part of the package's
test suite; run with ``python -m pytest perfbench -q`` from the root)."""

from __future__ import annotations

import json
import math
import os
import shutil
import sys

import pytest
from pyspark import cloudpickle

from ocr_intern_spark.oracle.semantics import Token
from ocr_intern_spark.sources.corpus import stub_ocr_tokens
from perfbench import run

TOY = 0.05
with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def corrupt_recognizer(media_ref: str) -> list[Token]:
    """The reference recognizer plus, for about one ref in ten, one
    extra well-formed French word that survives every filter."""
    tokens = stub_ocr_tokens(media_ref)
    if media_ref.endswith("1"):
        tokens = [*tokens, Token("certificat", 90.0, 5000, 5000, 80, 14, "fra")]
    return tokens


# pytest imports this file under a name the Python workers cannot
# import, so ship its functions to them by value
cloudpickle.register_pickle_by_value(sys.modules[__name__])


@pytest.fixture(scope="module")
def bench(tmp_path_factory):
    from perfbench.tracing import HostSampler

    work = str(tmp_path_factory.mktemp("perfbench"))
    sampler = HostSampler()
    spark = run.session(work, sampler.record["nproc"])
    yield spark, sampler, work
    run.shutdown(spark)
    sampler.close()
    shutil.rmtree(work, ignore_errors=True)


def _measure(bench, workload, trace, **kw):
    spark, sampler, work = bench
    result, record = run.measure(spark, sampler, workload, 5, 0, trace,
                                 os.path.join(work, f"{workload}-{trace}"),
                                 scale=TOY, **kw)
    record["host"] = {"nproc": 1, "load1_start": 0.0, "load1_end": 0.0,
                      "other_busy_cores": 0.0}
    return result, record


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_every_metric_is_printed_with_its_unit(bench, workload, trace):
    result, record = _measure(bench, workload, bool(trace))
    lines = run.report_lines(workload, result, record)
    last = json.loads(lines[-1])
    assert set(last) == {"correct", "attempted", "failed", "metrics"}
    assert last["correct"] and last["failed"] == 0 and last["attempted"] >= 1
    declared = BENCH["per_layer" if trace else "end_to_end"]
    assert set(last["metrics"]) == {m["name"] for m in declared}
    printed = {
        line.split(" = ")[0].split(" ", 1)[1]: line.rsplit(" ", 1)[1]
        for line in lines[:-1] if " = " in line
    }
    for m in declared:
        got = last["metrics"][m["name"]]
        assert got["unit"] == printed[m["name"]] == m["unit"], m["name"]
        assert isinstance(got["value"], float) and math.isfinite(got["value"])
    if not trace:
        assert record["detail"]["span_match_pct"] == 100.0
        assert record["detail"]["failed_frac"] == 0.0


def test_a_corrupted_span_is_caught(bench):
    result, record = _measure(bench, "store_resume", False,
                              recognize=corrupt_recognizer)
    assert record["detail"]["span_match_pct"] < 100.0
    assert record["detail"]["failed_frac"] > 0.0
    assert not result["correct"] and result["failed"] > 0
