"""Tests of the benchmark's tracer.

    python3 -m pytest perfbench/test_tracer.py -q

The py4j build counter must repeat exactly, or `plans.py4j_calls_build`
cannot back a claim. With `SPARK_GRAFT_TEST_SF_DIR` pointing at the
sf0.01 test tables, the counter must also reproduce the per-build counts
the ROADMAP records for them; a difference is reported, never tuned away.
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import gen  # noqa: E402
from tracer import Py4jCounter, split_query  # noqa: E402

RECORDED_SF001 = {
    "q58_corpus_prep_summary": 402,
    "q103_product_profit": 340,
    "q93_waiting_supplier": 272,
    "q110_span_dedup": 188,
}


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from data_warehouse_nhom8_spark.session import get_spark

    wh = tmp_path_factory.mktemp("wh")
    # the default local[$SPARK_GRAFT_CPUS] master: at least one builder's
    # call count depends on the session's parallelism (q110 builds in 187
    # calls on local[2], 188 on local[4])
    s = get_spark("perfbench-tests", extra_conf={"spark.sql.warehouse.dir": str(wh)})
    yield s


def _build_counts(spark, data_dir: str, names) -> dict[str, int]:
    from data_warehouse_nhom8_spark.plans import QUERIES

    counter = Py4jCounter(spark)
    try:
        out = {}
        for name in names:
            QUERIES[name](spark, data_dir)  # first build fills the session memos
            counts = []
            for _ in range(2):
                c0 = counter.calls
                QUERIES[name](spark, data_dir)
                counts.append(counter.calls - c0)
            assert counts[0] == counts[1], f"{name}: build counts {counts} differ"
            out[name] = counts[0]
        return out
    finally:
        counter.remove()


def test_build_counts_repeat(spark, tmp_path):
    data = str(tmp_path / "sf")
    gen.write_tables(data, 0.001, 7)
    counts = _build_counts(spark, data, RECORDED_SF001)
    assert all(n > 0 for n in counts.values())


def test_build_counts_match_recorded_sf001(spark):
    sf_dir = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "")
    if os.path.basename(sf_dir.rstrip("/")) != "sf0.01":
        pytest.skip("SPARK_GRAFT_TEST_SF_DIR does not name the sf0.01 test tables")
    assert _build_counts(spark, sf_dir, RECORDED_SF001) == RECORDED_SF001


def test_split_query_sums_to_wall():
    # build 0..1 s with analysis inside it; optimization, planning and a
    # job after it; a second job overlapping the first
    phases = {"analysis": (200, 400), "optimization": (1100, 1300),
              "planning": (1250, 1500)}
    jobs = [(1600, 2500), (2400, 2600)]
    split = split_query(0.0, 1.0, 3.0, phases, jobs)
    assert split["exec"] == pytest.approx(1.0)
    assert split["catalyst.analysis"] == pytest.approx(0.2)
    assert split["catalyst.planning"] == pytest.approx(0.2)
    assert split["plans"] == pytest.approx(0.8)
    assert sum(split.values()) == pytest.approx(3.0)
