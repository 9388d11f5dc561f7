"""Plan pins for the OCDS compile: every grouped compile step runs as the
arrow group walk (MapInArrow) — no pandas group dispatch anywhere in a
compile plan — and phase A of the two-phase merge shuffles on
``(ocid, salt)``, so a hot OCID's batches are not confined to the one
task the salting window's ``ocid`` partitioning would give them."""

from __future__ import annotations

import json
import re

import pytest

from kingfisher_process_spark.operators import compile_record as crec
from kingfisher_process_spark.operators import compile_release as cr
from kingfisher_process_spark.operators import lifecycle
from kingfisher_process_spark.pipeline import process_collection
from kingfisher_process_spark.store import Store
from kingfisher_process_spark.util import canonical_json

# the subject is the Spark compile plan, which a test-sized collection
# reaches only with the driver-scale gate off
pytestmark = pytest.mark.usefixtures("spark_stages")

PANDAS_NODES = ("FlatMapGroupsInPandas", "MapInPandas")
# one formatted-plan tree line: "<indent>[* ]Name ... (id)"
TREE_LINE = re.compile(r"^([ :+\-|]*)(?:\* )?(\w+)[^(\n]*\((\d+)\)")


def formatted(spark, df) -> str:
    return spark._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


def node_names(plan: str) -> list[str]:
    return re.findall(r"^\(\d+\) (\S+)", plan, re.M)


def node_details(plan: str) -> dict[str, tuple[str, str]]:
    """node id → (name, detail text) from the formatted plan's details."""
    parts = re.split(r"^\((\d+)\) ", plan, flags=re.M)
    return {parts[i]: (parts[i + 1].split()[0], parts[i + 1])
            for i in range(1, len(parts) - 1, 2)}


def phase_a_exchanges(plan: str) -> list[tuple[str, str]]:
    """For every phase-A group node (a Python group step whose input
    carries ``salt`` but no ``partial``), the first Exchange or Window
    beneath it in the plan tree, as (name, detail)."""
    details = node_details(plan)
    tree = [m for m in (TREE_LINE.match(line)
                        for line in plan.split("\n\n(1) ")[0].splitlines())
            if m]
    found = []
    for i, m in enumerate(tree):
        name, detail = details[m.group(3)]
        inputs = detail.split("\n")[1]
        if name not in ("MapInArrow", *PANDAS_NODES) or \
                "salt#" not in inputs or "partial#" in inputs:
            continue
        depth = len(m.group(1))
        for sub in tree[i + 1:]:
            if len(sub.group(1)) <= depth:
                break
            sub_name, sub_detail = details[sub.group(3)]
            if sub_name in ("Exchange", "Window"):
                found.append((sub_name, sub_detail))
                break
    return found


@pytest.fixture()
def captured(monkeypatch):
    """Record the formatted plan of every frame handed to
    persist_compiled, from either compile module."""
    plans: list[str] = []

    def capture(orig):
        def wrapper(store, collection_id, compiled):
            plans.append(formatted(compiled.sparkSession, compiled))
            return orig(store, collection_id, compiled)
        return wrapper

    monkeypatch.setattr(cr, "persist_compiled", capture(cr.persist_compiled))
    monkeypatch.setattr(crec, "persist_compiled", capture(crec.persist_compiled))
    return plans


def test_auto_compile_with_hot_ocid_runs_on_the_arrow_walk(spark, tmp_path,
                                                           captured):
    releases = [{"ocid": "ocds-hot", "id": str(i), "date": f"2020-01-{i + 1:02d}",
                 "awards": [{"id": "a", "v": i}]} for i in range(9)]
    releases += [{"ocid": f"ocds-cold-{i}", "id": "c", "date": "2020-02-01"}
                 for i in range(3)]
    path = tmp_path / "pkg.json"
    path.write_text(canonical_json({"uri": "http://x", "publisher": {"name": "p"},
                                    "releases": releases}))
    store = Store(spark, str(tmp_path / "store"))
    r = process_collection(spark, store, "plan", "2020-01-01 00:00:00",
                           [str(path)])
    comp = lifecycle.create_collections(
        store, "planc", "2020-01-01 00:00:00")["root"]
    out = cr.compile_collection(store, r["collections"]["root"], comp,
                                two_phase="auto", batch=3)
    assert out["compiled"] == 4
    (plan,) = captured
    names = node_names(plan)
    assert not set(names) & set(PANDAS_NODES), names
    # cold walk + phase A + phase B
    assert names.count("MapInArrow") >= 3, names
    # phase A: the exchange right under it hashes on (ocid, salt) — a
    # Window there instead means the batches reuse the window's ocid
    # partitioning and every batch of the hot OCID runs in one task
    below = phase_a_exchanges(plan)
    assert below, plan
    for name, detail in below:
        assert name == "Exchange", detail
        assert re.search(r"hashpartitioning\(ocid#\d+, salt#\d+", detail), detail


def test_incomposable_fallback_runs_on_the_arrow_walk(spark):
    # a null inside an id-less array entry makes the partial
    # incomposable, so every OCID takes the single-phase fallback
    rows = [(f"ocds-bad-{i}", "2020-01-01", json.dumps(
        {"ocid": f"ocds-bad-{i}", "id": "r", "date": "2020-01-01",
         "awards": [{"v": None}]}), None) for i in range(3)]
    inputs = spark.createDataFrame(
        rows, "ocid string, release_date string, data string, package_data string")
    compiled = cr.two_phase_compiled(inputs, batch=2)
    plan = formatted(spark, compiled)
    assert "Join type: LeftSemi" in plan, plan  # the fallback branch
    names = node_names(plan)
    assert not set(names) & set(PANDAS_NODES), names
    items = compiled.where(compiled.row_kind == "item").select("ocid").collect()
    assert sorted(r["ocid"] for r in items) == [f"ocds-bad-{i}" for i in range(3)]
    cr.drain_unowned_phase_a()


def test_record_compile_runs_on_the_arrow_walk(spark, tmp_path, captured):
    records = [{"ocid": f"ocds-r-{i}", "releases": [
        {"ocid": f"ocds-r-{i}", "id": "1", "date": "2020-01-01"}]}
        for i in range(3)]
    path = tmp_path / "rec.json"
    path.write_text(canonical_json({"uri": "http://x", "publisher": {"name": "p"},
                                    "records": records}))
    store = Store(spark, str(tmp_path / "store"))
    r = process_collection(spark, store, "rplan", "2020-01-01 00:00:00",
                           [str(path)], compile_=True)
    assert r["compile"]["compiled"] == 3
    (plan,) = captured
    names = node_names(plan)
    assert not set(names) & set(PANDAS_NODES), names
    assert names.count("MapInArrow") == 1, names
