"""The check stage validates each item once: check ids are assigned on the
item keys, and the validation (MapInPandas) runs downstream of the range
sort. Under the sort, its boundary sample would run every validation a
second time."""

from __future__ import annotations

import pytest

from kingfisher_process_spark.operators.check import check_collection
from kingfisher_process_spark.pipeline import process_collection
from kingfisher_process_spark.store import Store
from tests.test_pipeline_e2e import RELEASES, release_package, write


def _subtrees(plan: str, marker: str) -> list[list[str]]:
    """Lines under each node whose line contains ``marker`` (deeper
    indentation, up to the next line at the node's own depth or above)."""
    lines = plan.splitlines()

    def depth(line: str) -> int:
        return len(line) - len(line.lstrip(" :+-"))

    out = []
    for i, line in enumerate(lines):
        if marker in line:
            below = []
            for deeper in lines[i + 1:]:
                if depth(deeper) <= depth(line):
                    break
                below.append(deeper)
            out.append(below)
    return out


@pytest.mark.usefixtures("spark_stages")
def test_check_validates_downstream_of_the_id_sort(spark, tmp_path):
    store = Store(spark, str(tmp_path / "store"))
    path = write(tmp_path, "pkg.json", release_package(RELEASES))
    root = process_collection(spark, store, "check_plan", "2020-01-01 00:00:00",
                              [path])["collections"]["root"]
    plans = {}
    append = store.append

    def capture(table, df):
        plans[table] = df._jdf.queryExecution().executedPlan().toString()
        append(table, df)

    store.append = capture
    assert check_collection(store, root) == len(RELEASES)
    plan = plans["release_check"]
    assert "MapInPandas" in plan
    sorts = _subtrees(plan, "Exchange rangepartitioning")
    assert sorts, plan
    for below in sorts:
        assert not any("MapInPandas" in line for line in below), plan
