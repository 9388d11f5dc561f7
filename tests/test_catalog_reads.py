"""Catalog reads run on the driver: status polls, notes, lifecycle gates
and finish start no Spark job, and what they return equals the Spark read
they replace (store.METADATA_TABLES)."""

from __future__ import annotations

import ast
import contextlib
import json
import uuid
from operator import itemgetter
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from kingfisher_process_spark import api
from kingfisher_process_spark.http_api import make_app
from kingfisher_process_spark.operators import lifecycle
from kingfisher_process_spark.pipeline import load_pending, open_collection
from kingfisher_process_spark.store import METADATA_TABLES, Store
from tests.test_http_api import call
from tests.test_pipeline_e2e import RELEASES, release_package, write

PKG = Path(__file__).resolve().parents[1] / "kingfisher_process_spark"
GROUP_KEY = "spark.jobGroup.id"


@contextlib.contextmanager
def spark_jobs(spark):
    """Yields a list that holds, after the block, the number of Spark jobs
    the block started (its own job group, read from the status tracker
    once the listener bus has drained)."""
    sc = spark.sparkContext
    group = f"catalog-pin-{uuid.uuid4().hex}"
    outer = sc.getLocalProperty(GROUP_KEY)
    sc.setLocalProperty(GROUP_KEY, group)
    out: list[int] = []
    try:
        yield out
    finally:
        sc.setLocalProperty(GROUP_KEY, outer)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    out.append(len(sc.statusTracker().getJobIdsForGroup(group)))


def test_package_code_never_reads_catalog_tables_through_spark():
    """``store.read("<catalog table>")`` starts a Spark job for what is a
    driver-scale read; package code uses ``read_rows`` instead."""
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            if (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "read" and node.args
                    and isinstance(node.args[0], ast.Constant)
                    and node.args[0].value in METADATA_TABLES):
                offenders.append(f"{path.relative_to(PKG.parent)}:{node.lineno}")
    assert not offenders, offenders


@pytest.fixture(scope="module")
def family(spark, tmp_path_factory):
    """An open collection with upgrade + compile + check, loaded over two
    waves and closed over HTTP — the Kingfisher Collect flow."""
    tmp = tmp_path_factory.mktemp("catalog")
    store = Store(spark, str(tmp / "store"))
    p1 = write(tmp, "w1.json", release_package(RELEASES[:2]))
    p2 = write(tmp, "w2.json", release_package([RELEASES[2]]))
    ids = open_collection(spark, store, "catalog_pin", "2020-01-01 00:00:00", [p1],
                          upgrade=True, compile_=True, check=True)["collections"]
    with spark_jobs(spark) as add_jobs:
        api.add_files(store, ids["root"], [p2])
    wave2 = load_pending(spark, store, ids["root"])
    lifecycle.add_note(store, ids["upgraded"], "WARNING", "child note")
    app = make_app(store)
    status, _ = call(app, "POST", f"/api/collections/{ids['root']}/close/",
                     {"reason": "finished"})
    assert status == 202 and wave2["rows"] == 1
    return store, app, ids, add_jobs[0]


def test_add_files_runs_no_spark_job(family):
    assert family[3] == 0


def test_polls_and_finish_run_no_spark_job(spark, family):
    store, app, ids, _ = family
    root, comp = ids["root"], ids["compiled"]
    for path in (f"/api/collections/{root}/tree/", f"/api/collections/{root}/notes/"):
        with spark_jobs(spark) as jobs:
            status, body = call(app, "GET", path)
        assert status == 200 and body
        assert jobs == [0], path
    with spark_jobs(spark) as jobs:
        status_doc = api.collection_status(store, root)
    assert jobs == [0]
    assert status_doc["collection_files"] == 2 and status_doc["processing_steps"] == 0
    assert status_doc["compiled_collection"]["id"] == comp
    with spark_jobs(spark) as jobs:
        lifecycle.finish_collections(store, list(ids.values()))
    assert jobs == [0]
    # the compiled-release aggregate streams through pyarrow on the driver
    with spark_jobs(spark) as jobs:
        status, meta = call(app, "GET", f"/api/collections/{comp}/metadata/")
    assert status == 200 and meta["license"] == "CC-BY"
    assert jobs == [0]


def test_notes_equal_the_spark_read(spark, family):
    store, app, ids, _ = family
    root = ids["root"]
    lifecycle.add_note(store, root, "INFO", "stats", data=json.dumps({"files": 2}))
    # a Spark-written note beside the pyarrow-written ones
    nid = store.next_id("collection_note")
    store.append("collection_note", spark.createDataFrame(
        [(nid, root, "spark note", None, "INFO")],
        "id long, collection_id long, note string, data string, code string",
    ).withColumn("stored_at", F.current_timestamp()))
    want = [r.asDict() for r in store.read("collection_note")
            .where(F.col("collection_id") == root).orderBy("id").collect()]
    got = api.notes(store, root)
    assert len(want) >= 3
    assert got == want
    assert [r["stored_at"] for r in got] == [r["stored_at"] for r in want]

    # the HTTP route reads the family's notes in one call: root first, then
    # each child, ids ascending within each
    def decoded(data):
        try:
            return json.loads(data)
        except (TypeError, ValueError):
            return data

    family_ids = [c["id"] for c in api.tree(store, root)]
    assert family_ids[0] == root
    want_http = {lv: [[r["note"], decoded(r["data"])]
                      for cid in family_ids for r in api.notes(store, cid)
                      if r["code"] == lv]
                 for lv in ("INFO", "WARNING", "ERROR")}
    assert call(app, "GET", f"/api/collections/{root}/notes/") == (200, want_http)
    assert want_http["WARNING"] == [["child note", None]]


def test_footer_counts_equal_spark_counts(spark, family):
    """Two load waves (the loads' own row counts never covered both), and
    a partition holding a Spark-written and a pyarrow-written file."""
    store, _, ids, _ = family
    finished = lifecycle.finish_collections(store, list(ids.values()))

    def spark_count(table, cid):
        return store.read(table).where(F.col("collection_id") == cid).count()

    for cid in ids.values():
        assert finished[cid] == {
            "cached_releases_count": spark_count("release", cid),
            "cached_records_count": spark_count("record", cid),
            "cached_compiled_releases_count": spark_count("compiled_release", cid),
        }
    assert finished[ids["root"]]["cached_releases_count"] == 3
    assert finished[ids["upgraded"]]["cached_releases_count"] == 3
    assert finished[ids["compiled"]]["cached_compiled_releases_count"] == 2

    cid = 9_999
    row = {"id": 1, "collection_id": cid, "collection_file_id": 1, "ocid": "o-1",
           "release_date": "2020-01-01", "data_id": 1}
    store.append("compiled_release", spark.createDataFrame(
        [dict(row, id=i, ocid=f"o-{i}") for i in range(1, 4)]))
    store.append_rows("compiled_release", [dict(row, id=10, ocid="o-10")])
    part = Path(store.path("compiled_release")) / f"collection_id={cid}"
    names = [f.name for f in part.iterdir() if not f.name.startswith(("_", "."))]
    assert any(n.endswith(".snappy.parquet") for n in names)   # Spark's writer
    assert any(not n.endswith(".snappy.parquet") for n in names)  # pyarrow's
    assert store.count_rows("compiled_release", cid) \
        == spark_count("compiled_release", cid) == 4
    assert store.count_rows("compiled_release", cid + 1) == 0


def test_read_rows_collection_filter(spark, family):
    store = family[0]
    every = store.read_rows("collection_file")
    some = sorted({r["collection_id"] for r in every})[:2]
    got = store.read_rows("collection_file", collection_ids=some)
    want = [r for r in every if r["collection_id"] in some]
    assert 0 < len(want) < len(every)
    key = itemgetter("id")
    assert sorted(got, key=key) == sorted(want, key=key)
    assert sorted(got, key=key) == sorted(
        (r.asDict() for r in store.read("collection_file")
         .where(F.col("collection_id").isin(some)).collect()), key=key)
    assert store.read_rows("collection_file", ["filename"], collection_ids=[]) == []
    with pytest.raises(ValueError, match="not partitioned"):
        store.read_rows("collection", collection_ids=some)
