"""Driver-scale compile and check: a collection at or under the stage gates
(``store.DRIVER_COMPILE_MAX``, ``store.DRIVER_CHECK_MAX``, both read
against the partition's footer row count) is compiled and checked on the
driver, and the rows it stores are the rows the Spark path stores: the
same ids, payloads, notes and ``cove_output``. The ``spark_stages``
fixture (conftest.py) forces the Spark path for the comparison."""

from __future__ import annotations

import json
from datetime import datetime, timezone

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from kingfisher_process_spark import pipeline
from kingfisher_process_spark import store as store_mod
from kingfisher_process_spark.operators import check as check_mod
from kingfisher_process_spark.operators import compile_release as cr
from kingfisher_process_spark.operators import lifecycle
from kingfisher_process_spark.pipeline import (
    close_and_process, open_collection, process_collection)
from kingfisher_process_spark.store import Store
from tests.test_catalog_reads import spark_jobs
from tests.test_pipeline_e2e import RELEASES, release_package, write

EXT_URL = "https://example.com/wholelist/extension.json"
EXT_SCHEMA = {"properties": {"awards": {"wholeListMerge": True},
                             "extra": {"type": "string"}}}
NO_SCHEMA_URL = "https://example.com/unfetched/extension.json"


def _rel(ocid, rid, date, **fields):
    return {"ocid": ocid, "id": rid, "date": date, **fields}


# ocds-n-1: a repeated date and a duplicate award id (two WARNING notes);
# ocds-n-2: a release without a date (an ERROR note and no item); the
# package declares an extension with no schema (an ExtensionWarning per OCID)
NOTE_PKGS = [release_package([
    _rel("ocds-n-1", "1", "2020-01-01T00:00:00Z", awards=[{"id": "a", "v": 1}]),
    _rel("ocds-n-1", "2", "2020-01-01T00:00:00Z",
         awards=[{"id": "a", "v": 2}, {"id": "a", "v": 3}]),
    {"ocid": "ocds-n-2", "id": "3"},
    _rel("ocds-n-2", "4", "2020-03-01T00:00:00Z"),
    _rel("ocds-n-3", "5", "2020-04-01T00:00:00Z", tender={"id": "t"}),
], extensions=[NO_SCHEMA_URL])]
# ocds-hot has 9 releases: with batch=3 the Spark side merges it two-phase
HOT_PKGS = [release_package(
    [_rel("ocds-hot", str(i), f"2020-01-{i + 1:02d}T00:00:00Z",
          tender={"id": "t", "round": i}, awards=[{"id": f"a{i % 2}", "v": i}])
     for i in range(9)]
    + [_rel(f"ocds-cold-{i}", "c", "2020-02-01T00:00:00Z") for i in range(3)])]
# the extension covers only some of ocds-e-1's releases; ocds-e-2 has none
EXT_PKGS = [
    release_package([_rel("ocds-e-1", "1", "2020-01-01T00:00:00Z",
                          awards=[{"id": "a"}], extra="x")],
                    extensions=[EXT_URL]),
    release_package([_rel("ocds-e-1", "2", "2020-02-01T00:00:00Z",
                          awards=[{"id": "b"}]),
                     _rel("ocds-e-2", "3", "2020-02-01T00:00:00Z",
                          awards=[{"id": "a"}, {"id": "b"}], extra="y")]),
]
CASES = {
    "notes": (NOTE_PKGS, {}, None),
    "hot_ocid": (HOT_PKGS, {"two_phase": "auto", "batch": 3}, None),
    "extensions": (EXT_PKGS, {}, {EXT_URL: EXT_SCHEMA}),
}


def _load(spark, tmp_path, name, pkgs):
    """A fresh store holding ``pkgs`` as one loaded collection, plus an
    empty collection to compile into: (store, parent_id, compiled_id)."""
    paths = [write(tmp_path, f"{name}-{i}.json", p) for i, p in enumerate(pkgs)]
    store = Store(spark, str(tmp_path / name))
    parent = process_collection(spark, store, name, "2020-01-01 00:00:00",
                                paths)["collections"]["root"]
    comp = lifecycle.create_collections(store, name + "c", "2020-01-01 00:00:00")["root"]
    return store, parent, comp


def _table(store, table, collection_id=None):
    rows = store.read_rows(table, collection_ids=(
        None if collection_id is None else [collection_id]))
    for r in rows:
        r.pop("stored_at", None)
    return sorted(rows, key=lambda r: r["id"])


def _stored(store, comp):
    return {t: _table(store, t, comp)
            for t in ("compiled_release", "collection_file", "collection_note")} | {
        "data": _table(store, "data")}


@pytest.mark.parametrize("case", sorted(CASES))
def test_driver_compile_stores_the_spark_rows(spark, tmp_path, request, case):
    """The driver compile, then a re-run; the same in a second store on the
    Spark path. Both stores hold the same rows after each. The re-run
    compiles nothing and duplicates no compiled release; an OCID that
    compiled to notes only is retried, on both paths alike."""
    pkgs, spark_kwargs, schemas = CASES[case]

    def compile_twice(store, parent, comp, **kwargs):
        first = cr.compile_collection(store, parent, comp,
                                      extension_schemas=schemas, **kwargs)
        rows = _stored(store, comp)
        again = cr.compile_collection(store, parent, comp,
                                      extension_schemas=schemas, **kwargs)
        after = _stored(store, comp)
        assert again["compiled"] == 0
        assert {t: after[t] for t in after if t != "collection_note"} == \
            {t: rows[t] for t in rows if t != "collection_note"}
        return (first, again), (rows, after)

    store_d, parent, comp = _load(spark, tmp_path, "driver", pkgs)
    got_d, (rows, after_d) = compile_twice(store_d, parent, comp)
    request.getfixturevalue("spark_stages")
    store_s, parent_s, comp_s = _load(spark, tmp_path, "spark", pkgs)
    assert (parent_s, comp_s) == (parent, comp)
    got_s, (rows_s, after_s) = compile_twice(store_s, parent, comp, **spark_kwargs)
    assert got_d == got_s and got_d[0]["compiled"] > 0
    assert rows == rows_s and after_d == after_s
    if case == "notes":
        assert got_d[0] == {"compiled": 2, "notes": 6}
        assert {n["code"] for n in rows["collection_note"]} == {"WARNING", "ERROR"}
    if case == "extensions":
        docs = {r["ocid"]: json.loads(next(d["data"] for d in rows["data"]
                                           if d["id"] == r["data_id"]))
                for r in rows["compiled_release"]}
        assert [a["id"] for a in docs["ocds-e-1"]["awards"]] == ["b"]  # wholeListMerge
        assert [a["id"] for a in docs["ocds-e-2"]["awards"]] == ["a", "b"]


def test_driver_compile_skips_a_cancelled_collection(spark, tmp_path, request):
    store, parent, comp = _load(spark, tmp_path, "cancel", HOT_PKGS)
    lifecycle.delete_collection(store, comp)
    with spark_jobs(spark) as jobs:
        out = cr.compile_collection(store, parent, comp)
    assert out == {"compiled": 0, "notes": 0, "cancelled": True} and jobs == [0]
    request.getfixturevalue("spark_stages")
    assert cr.compile_collection(store, parent, comp) == out
    assert store.count_rows("compiled_release", comp) == 0


RECORD_PKG = {
    "uri": "http://example.com/rec", "version": "1.1",
    "publishedDate": "2020-03-01T00:00:00Z", "publisher": {"name": "example"},
    "extensions": [EXT_URL, NO_SCHEMA_URL],
    "records": [
        {"ocid": "ocds-r-1", "releases": [
            {"url": "http://example.com/r1", "date": "2020-01-01T00:00:00Z"}],
         "compiledRelease": _rel("ocds-r-1", "1", "2020-01-01T00:00:00Z",
                                 extra="x", tag=["tender"])},
        {"ocid": "ocds-r-2", "releases": [], "unknown": 1},
    ],
}


@pytest.mark.parametrize("kind", ["release", "record"])
def test_driver_check_stores_the_spark_rows(spark, tmp_path, request, kind):
    if kind == "release":
        pkgs = [release_package(RELEASES, extensions=[EXT_URL]),
                release_package([_rel("ocds-x-9", "9", "2020-01-01T00:00:00Z",
                                      extra=1, tender={"id": 5})])]
    else:
        pkgs = [RECORD_PKG]
    schemas = {EXT_URL: EXT_SCHEMA}
    table = f"{kind}_check"
    store_d, parent, _ = _load(spark, tmp_path, "driver", pkgs)
    n = check_mod.check_collection(store_d, parent, kind, extension_schemas=schemas)
    rows = _table(store_d, table)
    assert n == len(rows) > 0
    # a re-run checks nothing, on either path
    assert check_mod.check_collection(store_d, parent, kind,
                                      extension_schemas=schemas) == 0
    assert _table(store_d, table) == rows

    request.getfixturevalue("spark_stages")
    store_s, _, _ = _load(spark, tmp_path, "spark", pkgs)
    assert check_mod.check_collection(store_s, parent, kind,
                                      extension_schemas=schemas) == n
    assert _table(store_s, table) == rows
    assert check_mod.check_collection(store_s, parent, kind,
                                      extension_schemas=schemas) == 0
    assert _table(store_s, table) == rows
    outputs = [json.loads(r["cove_output"]) for r in rows]
    assert any(o["extensions"]["is_extended_schema"] for o in outputs)
    assert any(o["validation_errors"] for o in outputs)


def _spy(monkeypatch, module, name):
    calls = []
    orig = getattr(module, name)

    def wrapper(*args, **kwargs):
        calls.append(name)
        return orig(*args, **kwargs)

    monkeypatch.setattr(module, name, wrapper)
    return calls


@pytest.mark.parametrize("gate", ["rows", "bytes"])
def test_stages_fall_back_to_spark_past_a_gate(spark, tmp_path, monkeypatch, gate):
    store_d, parent, comp = _load(spark, tmp_path, "driver", HOT_PKGS)
    assert cr.compile_collection(store_d, parent, comp)["compiled"] == 4
    n_checked = check_mod.check_collection(store_d, parent)
    want = _stored(store_d, comp), _table(store_d, "release_check")

    store_s, _, _ = _load(spark, tmp_path, "spark", HOT_PKGS)
    if gate == "rows":
        monkeypatch.setattr(store_mod, "DRIVER_COMPILE_MAX",
                            store_s.count_rows("release", parent) - 1)
        monkeypatch.setattr(store_mod, "DRIVER_CHECK_MAX",
                            store_s.count_rows("release", parent) - 1)
    else:
        # under the release payloads, at or over the compiled ones, so the
        # compile persist (gated on compiled bytes) still writes from the
        # driver and the ids stay comparable
        def payload_bytes(table, col):
            ids = {r["data_id"] for r in store_d.read_rows(table, ["data_id"],
                                                           collection_ids=[col])}
            return sum(len(r["data"]) for r in store_d.read_rows("data")
                       if r["id"] in ids)

        compiled_bytes = payload_bytes("compiled_release", comp)
        assert compiled_bytes < payload_bytes("release", parent)
        monkeypatch.setattr(store_mod, "DRIVER_APPEND_MAX_BYTES", compiled_bytes)
    persisted = _spy(monkeypatch, cr, "persist_compiled")
    validated = _spy(monkeypatch, check_mod, "_validated")
    assert cr.compile_collection(store_s, parent, comp)["compiled"] == 4
    assert check_mod.check_collection(store_s, parent) == n_checked
    assert persisted and validated  # both stages ran their Spark path
    assert (_stored(store_s, comp), _table(store_s, "release_check")) == want


def test_payload_gate_counts_the_id_range_a_recrawl_scans(
        spark, tmp_path, monkeypatch):
    """A re-crawl: the third collection re-publishes the first one's
    releases and adds one. Payload dedup gives it the first collection's
    data ids and one id past the second collection's large payloads, so
    the scan bounded by its ids' min/max reads those too. The byte gate
    counts them: at the collection's own payload bytes both stages take
    their Spark path, and store the rows the driver path stores."""
    big = release_package([_rel(f"ocds-big-{i}", "b", "2020-02-01T00:00:00Z",
                                description="x" * 5000) for i in range(20)])
    recrawl = release_package(HOT_PKGS[0]["releases"]
                              + [_rel("ocds-new", "n", "2020-03-01T00:00:00Z")])

    def load(name):
        store = Store(spark, str(tmp_path / name))
        roots = [process_collection(
            spark, store, f"{name}{k}", "2020-01-01 00:00:00",
            [write(tmp_path, f"{name}-{k}.json", pkg)])["collections"]["root"]
            for k, pkg in enumerate((HOT_PKGS[0], big, recrawl))]
        comp = lifecycle.create_collections(store, name + "c", "2020-01-01 00:00:00")["root"]
        return store, roots, comp

    def data_ids(store, collection_id):
        return {r["data_id"] for r in store.read_rows(
            "release", ["data_id"], collection_ids=[collection_id])}

    store_d, (_, big_root, parent), comp = load("driver")
    ids, big_ids = data_ids(store_d, parent), data_ids(store_d, big_root)
    assert min(ids) < min(big_ids) and max(big_ids) < max(ids)
    matched = sum(len(r["data"]) for r in store_d.read_rows("data") if r["id"] in ids)
    assert store_d.payloads_by_id("data", ids, matched) is None
    got = store_d.payloads_by_id("data", ids, 1 << 30)
    assert set(got) == ids and sum(map(len, got.values())) == matched
    assert cr.compile_collection(store_d, parent, comp)["compiled"] == 5
    n_checked = check_mod.check_collection(store_d, parent)
    want = _stored(store_d, comp), _table(store_d, "release_check")

    store_s, _, _ = load("spark")
    monkeypatch.setattr(store_mod, "DRIVER_APPEND_MAX_BYTES", matched)
    persisted = _spy(monkeypatch, cr, "persist_compiled")
    validated = _spy(monkeypatch, check_mod, "_validated")
    assert cr.compile_collection(store_s, parent, comp)["compiled"] == 5
    assert check_mod.check_collection(store_s, parent) == n_checked
    assert persisted and validated
    assert (_stored(store_s, comp), _table(store_s, "release_check")) == want


def test_close_runs_no_spark_job_to_check_and_at_most_two_to_compile(
        spark, tmp_path, monkeypatch):
    """Fails at a Spark-only close: there the check ran 14 jobs and the
    compile 17 on a collection of this size."""
    jobs: dict[str, int] = {}

    def counted(name, fn):
        def wrapper(*args, **kwargs):
            with spark_jobs(spark) as n:
                out = fn(*args, **kwargs)
            jobs[name] = n[0]
            return out
        return wrapper

    monkeypatch.setattr(pipeline, "compile_collection",
                        counted("compile", pipeline.compile_collection))
    monkeypatch.setattr(pipeline, "check_collection",
                        counted("check", pipeline.check_collection))
    store = Store(spark, str(tmp_path / "store"))
    paths = [write(tmp_path, "w1.json", release_package(RELEASES)),
             write(tmp_path, "w2.json", HOT_PKGS[0])]
    ids = open_collection(spark, store, "pins", "2020-01-01 00:00:00", paths,
                          upgrade=True, compile_=True, check=True)["collections"]
    out = close_and_process(spark, store, ids["root"])
    assert out["compile"]["compiled"] == 6 and out["check"] == 15
    assert jobs["check"] == 0
    assert jobs["compile"] <= 2


def test_driver_files_keep_statistics_for_ids_only(spark, tmp_path):
    store, parent, _ = _load(spark, tmp_path, "stats", HOT_PKGS)
    check_mod.check_collection(store, parent)
    for table, payload in (("data", "data"), ("release_check", "cove_output")):
        files = [f for f in (tmp_path / "stats" / table).iterdir()
                 if not f.name.startswith(("_", "."))]
        assert files
        for f in files:
            meta = pq.ParquetFile(f).metadata
            names = meta.schema.names
            for g in range(meta.num_row_groups):
                group = meta.row_group(g)
                assert group.column(names.index(payload)).statistics is None \
                    or not group.column(names.index(payload)).statistics.has_min_max
                assert group.column(names.index("id")).statistics.has_min_max
    # Spark reads the driver-written files
    assert store.read("release_check").count() == store.count_rows("release", parent)


def test_driver_metadata_aggregate_equals_spark(spark, tmp_path):
    """Rows outside the date filter (too early, in the future, empty, null)
    carry the largest OCIDs, so the filter shows in every output field. The
    oracle is the Spark aggregate the endpoint ran before it read on the
    driver."""
    store = Store(spark, str(tmp_path / "store"))
    cid = 7
    rows = [("ocds-3aaaaaaaa-1", "2020-05-01T00:00:00Z"),
            ("ocds-2aaaaaaaa-2", "2019-01-01"),
            ("ocds-9aaaaaaaa-3", None),
            ("ocds-8aaaaaaaa-4", "1960-01-01"),
            ("ocds-7aaaaaaaa-5", "9999-12-31"),
            ("ocds-6aaaaaaaa-6", ""),
            (None, "2021-01-01T00:00:00Z"),
            ("ocds-1aaaaaaaa-7", "2020-07-01")]
    store.append_rows("compiled_release", [
        {"id": i, "collection_id": cid, "collection_file_id": i,
         "ocid": ocid, "release_date": d, "data_id": i}
        for i, (ocid, d) in enumerate(rows, 1)])
    # another collection's partition is not read
    store.append_rows("compiled_release", [
        {"id": 100, "collection_id": cid + 1, "collection_file_id": 100,
         "ocid": "ocds-zzzzzzzzzz", "release_date": "2000-01-01", "data_id": 1}])

    def spark_aggregate(collection_id):
        today = datetime.now(tz=timezone.utc).date().isoformat()
        return store.read("compiled_release").where(
            (F.col("collection_id") == collection_id)
            & (F.col("release_date") > "1970-01-01")
            & (F.col("release_date") <= today + "~")
        ).agg(
            F.substring(F.max("ocid"), 1, 11).alias("ocid_prefix"),
            F.min("release_date").alias("published_from"),
            F.max("release_date").alias("published_to"),
        ).collect()[0].asDict()

    with spark_jobs(spark) as jobs:
        driver = lifecycle.collection_metadata(store, cid)
        empty = lifecycle.collection_metadata(store, cid + 5)
    assert jobs == [0]
    assert driver == spark_aggregate(cid) == {
        "ocid_prefix": "ocds-3aaaaa", "published_from": "2019-01-01",
        "published_to": "2021-01-01T00:00:00Z"}
    assert empty == spark_aggregate(cid + 5) == {
        "ocid_prefix": None, "published_from": None, "published_to": None}
