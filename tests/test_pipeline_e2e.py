"""End-to-end pipeline tests: load → upgrade → compile → check → finish
over synthetic OCDS fixtures (shapes from FIXTURES.md §1, mirroring the
reference's test strategy of ingest-cardinality + golden-compile checks,
tests/processors/test_process_file.py:113-179)."""

from __future__ import annotations

import json
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from kingfisher_process_spark.operators import lifecycle
from kingfisher_process_spark.pipeline import process_collection
from kingfisher_process_spark.sources import detect
from kingfisher_process_spark.store import Store
from kingfisher_process_spark.util import canonical_json

RELEASES = [
    {"ocid": "ocds-x-1", "id": "1", "date": "2020-01-01T00:00:00Z",
     "tender": {"id": "t1", "status": "planned",
                "value": {"amount": Decimal("100.10"), "currency": "EUR"}}},
    {"ocid": "ocds-x-1", "id": "2", "date": "2020-02-01T00:00:00Z",
     "tender": {"id": "t1", "status": "complete"},
     "awards": [{"id": "a1", "status": "active",
                 "value": {"amount": Decimal("55.50"), "currency": "EUR"}}]},
    {"ocid": "ocds-x-2", "id": "3", "date": "2020-01-15T00:00:00Z",
     "buyer": {"name": "Town Hall", "identifier": {"id": 7}},
     "awards": [{"id": "a2", "status": "active",
                 "value": {"amount": 10, "currency": "USD"}}]},
]


def release_package(releases, **extra):
    return {
        "uri": "http://example.com/pkg", "version": "1.1",
        "publishedDate": "2020-03-01T00:00:00Z",
        "publisher": {"name": "example"},
        "license": "CC-BY", **extra,
        "releases": releases,
    }


@pytest.fixture
def store(spark, tmp_path):
    return Store(spark, str(tmp_path / "store"))


def write(tmp_path, name, obj_or_text):
    p = tmp_path / name
    # canonical_json keeps Decimal literals ('100.10') in the fixture file
    text = obj_or_text if isinstance(obj_or_text, str) else canonical_json(obj_or_text)
    p.write_text(text)
    return str(p)


def test_release_package_end_to_end(spark, store, tmp_path):
    path = write(tmp_path, "pkg.json", release_package(RELEASES))
    result = process_collection(
        spark, store, "test_source", "2020-03-01 00:00:00", [path],
        upgrade=True, compile_=True, check=True,
    )
    assert result["data_type"] == {"format": "release package",
                                   "concatenated": False, "array": False}
    assert result["load"]["rows"] == 3
    assert result["upgrade"]["rows"] == 3
    assert result["compile"]["compiled"] == 2
    assert result["check"] == 3

    ids = result["collections"]
    # dedup: same payloads in root and upgraded collections → upgraded
    # releases dedup against root only where unchanged (ocds-x-1 releases
    # unchanged by upgrade; ocds-x-2 gains parties)
    releases = store.read("release")
    assert releases.where(F.col("collection_id") == ids["root"]).count() == 3

    crs = store.read("compiled_release").where(F.col("collection_id") == ids["compiled"])
    rows = {r["ocid"]: r for r in crs.collect()}
    assert set(rows) == {"ocds-x-1", "ocds-x-2"}
    assert rows["ocds-x-1"]["release_date"] == "2020-02-01T00:00:00Z"

    # merged payload: decimal fidelity + last-wins + id merge
    data = store.read("data")
    merged = json.loads(
        data.where(F.col("id") == rows["ocds-x-1"]["data_id"]).collect()[0]["data"]
    )
    assert merged["tender"]["status"] == "complete"
    assert merged["tender"]["value"] == {"amount": 100.10, "currency": "EUR"}
    assert merged["tag"] == ["compiled"]
    raw = data.where(F.col("id") == rows["ocds-x-1"]["data_id"]).collect()[0]["data"]
    assert '"amount":100.10' in raw  # Decimal survives the whole pipeline

    # upgraded collection: buyer moved into parties
    upg_releases = store.read("release").where(
        (F.col("collection_id") == ids["upgraded"]) & (F.col("ocid") == "ocds-x-2"))
    d = upg_releases.join(data, upg_releases.data_id == data.id).collect()[0]["data"]
    updoc = json.loads(d)
    assert updoc["parties"][0]["roles"] == ["buyer"]

    # lifecycle: counts cached, completed
    colls = {r["id"]: r for r in store.read("collection").collect()}
    assert colls[ids["root"]]["cached_releases_count"] == 3
    assert colls[ids["compiled"]]["cached_compiled_releases_count"] == 2
    assert colls[ids["root"]]["completed_at"] is not None
    assert colls[ids["compiled"]]["transform_type"] == "compile-releases"
    assert colls[ids["compiled"]]["parent_id"] == ids["upgraded"]

    # checks stored 1:1
    assert store.read("release_check").count() == 3

    # tree endpoint: root → upgraded → compiled
    tree = lifecycle.collection_tree(store, ids["compiled"])
    assert [t["id"] for t in tree] == [ids["root"], ids["upgraded"], ids["compiled"]]

    # metadata endpoint
    meta = lifecycle.collection_metadata(store, ids["compiled"])
    assert meta["ocid_prefix"] == "ocds-x-2"[:11]
    assert meta["published_from"] == "2020-01-15T00:00:00Z"


def test_dedup_shared_payloads(spark, store, tmp_path):
    # identical release in two files → one data row (S8,
    # tests/test_util.py:40-70 semantics)
    p1 = write(tmp_path, "a.json", release_package([RELEASES[0]]))
    p2 = write(tmp_path, "b.json", release_package([RELEASES[0]]))
    result = process_collection(spark, store, "s", "2020-01-01 00:00:00", [p1, p2])
    assert result["load"]["rows"] == 2  # two envelope rows
    assert store.read("data").count() == 1  # one deduped payload
    assert store.read("package_data").count() == 1


def test_record_package_ladder(spark, store, tmp_path):
    records = [
        # dated releases → merged
        {"ocid": "ocds-r-1", "releases": [
            {"ocid": "ocds-r-1", "id": "1", "date": "2020-01-01", "tender": {"id": "t"}},
            {"ocid": "ocds-r-1", "id": "2", "date": "2020-01-02", "tender": {"status": "active"}},
        ]},
        # linked releases + compiledRelease → compiledRelease used
        {"ocid": "ocds-r-2",
         "releases": [{"url": "http://x/1", "date": "2020-01-01"}],
         "compiledRelease": {"ocid": "ocds-r-2", "id": "c", "date": "2020-01-01",
                             "tag": ["compiled"]}},
        # all undated, tagged compiled → first tagged used
        {"ocid": "ocds-r-3", "releases": [
            {"ocid": "ocds-r-3", "id": "9", "tag": ["compiled"]}]},
        # nothing usable → ERROR note
        {"ocid": "ocds-r-4", "releases": []},
    ]
    pkg = {"uri": "http://example.com/rec", "version": "1.1",
           "publisher": {"name": "ex"}, "records": records}
    path = write(tmp_path, "rec.json", pkg)
    result = process_collection(spark, store, "rsrc", "2020-01-01 00:00:00", [path],
                                compile_=True)
    assert result["data_type"]["format"] == "record package"
    assert result["load"]["rows"] == 4
    assert result["compile"]["compiled"] == 3

    ids = result["collections"]
    crs = {r["ocid"]: r for r in store.read("compiled_release")
           .where(F.col("collection_id") == ids["compiled"]).collect()}
    assert set(crs) == {"ocds-r-1", "ocds-r-2", "ocds-r-3"}

    notes = [r["note"] for r in store.read("collection_note").collect()]
    assert any("ocds-r-4 has 0 releases" in n for n in notes)
    assert any("Its compiledRelease was used." in n for n in notes)
    assert any("tagged 'compiled' was used." in n for n in notes)


def test_concatenated_compiled_releases(spark, store, tmp_path):
    text = (json.dumps({"ocid": "ocds-c-1", "tag": ["compiled"], "date": "2020-01-01"})
            + "\n" +
            json.dumps({"ocid": "ocds-c-2", "tag": ["compiled"], "date": "2020-01-02"}))
    path = write(tmp_path, "cr.json", text)
    result = process_collection(spark, store, "cc", "2020-01-01 00:00:00", [path])
    assert result["data_type"] == {"format": "compiled release",
                                   "concatenated": True, "array": False}
    assert result["load"]["rows"] == 2
    assert store.read("compiled_release").count() == 2


def test_array_of_record_packages(spark, store, tmp_path):
    # mirrors tests/fixtures/record_package.json (array of packages)
    pkgs = [
        {"uri": "http://example.com/r1", "publisher": {"name": "ex"},
         "records": [{"ocid": "ocds-a-1", "compiledRelease":
                      {"ocid": "ocds-a-1", "tag": ["compiled"]}}]},
        {"uri": "http://example.com/r2", "publisher": {"name": "ex2"},
         "records": [{"ocid": "ocds-a-2", "compiledRelease":
                      {"ocid": "ocds-a-2", "tag": ["compiled"]}}]},
    ]
    path = write(tmp_path, "arr.json", pkgs)
    result = process_collection(spark, store, "arr", "2020-01-01 00:00:00", [path])
    assert result["data_type"]["array"] is True
    assert result["load"]["rows"] == 2
    # only FIRST package's metadata kept (file_worker.py:273-275)
    assert store.read("package_data").count() == 1
    pkg = json.loads(store.read("package_data").collect()[0]["data"])
    assert pkg["uri"] == "http://example.com/r1"
    assert "records" not in pkg


def test_unsupported_and_empty_formats(spark, store, tmp_path):
    p_empty = write(tmp_path, "empty.json", {"uri": "x", "releases": []})
    r = process_collection(spark, store, "e1", "2020-01-01 00:00:00", [p_empty])
    assert "Empty format" in r["error"]

    p_versioned = write(tmp_path, "versioned.json", {"ocid": "ocds-1"})
    r = process_collection(spark, store, "e2", "2020-01-01 00:00:00", [p_versioned])
    assert "Unsupported format 'versioned release'" in r["error"]

    p_obj = write(tmp_path, "obj.json", {})
    r = process_collection(spark, store, "e3", "2020-01-01 00:00:00", [p_obj])
    assert "non-OCDS object" in r["error"]


def test_control_codes_and_ocidless(spark, store, tmp_path):
    # raw JSON text containing the literal  escape sequence
    text = (
        '{"uri":"http://x","publisher":{"name":"p"},"releases":['
        '{"ocid":"ocds-s-1","id":"1","date":"2020-01-01","title":"a\\u0000b"},'
        '{"id":"no-ocid","date":"2020-01-01"}]}'
    )
    path = write(tmp_path, "cc.json", text)
    result = process_collection(spark, store, "ccs", "2020-01-01 00:00:00", [path])
    # ocid-less release skipped from envelope (file_worker.py:346-348)
    assert result["load"]["rows"] == 1
    stored = store.read("data").collect()
    assert all("\\u0000" not in r["data"] for r in stored)


def test_delete_collection_partition_drop(spark, store, tmp_path):
    path = write(tmp_path, "pkg.json", release_package(RELEASES))
    r1 = process_collection(spark, store, "d1", "2020-01-01 00:00:00", [path])
    ids = r1["collections"]
    assert store.read("release").count() == 3
    lifecycle.delete_collection(store, ids["root"])
    assert store.read("release").where(F.col("collection_id") == ids["root"]).count() == 0
    colls = {r["id"]: r for r in store.read("collection").collect()}
    assert colls[ids["root"]]["deleted_at"] is not None
    # orphaned payloads removable
    removed = lifecycle.delete_orphan_data(store)
    assert removed == 3


def test_compile_rerun_is_idempotent(spark, store, tmp_path):
    """SURVEY §7 watchlist #5 / compiler.py:23-36: re-running the compile
    stage must not duplicate compiled releases — already-compiled OCIDs
    are filtered out by the left-anti join before merging."""
    from kingfisher_process_spark.operators.compile_release import compile_collection

    path = write(tmp_path, "pkg.json", release_package(RELEASES))
    result = process_collection(
        spark, store, "idem", "2020-01-01 00:00:00", [path], compile_=True)
    root = result["collections"]["root"]
    comp = result["collections"]["compiled"]
    assert result["compile"]["compiled"] == 2

    n_before = store.read("compiled_release").count()
    n_files_before = store.read("collection_file").count()
    rerun = compile_collection(store, root, comp)
    assert rerun["compiled"] == 0
    assert store.read("compiled_release").count() == n_before
    assert store.read("collection_file").count() == n_files_before
    # the compiled payloads are also unchanged (no duplicate data rows)
    crs = store.read("compiled_release").where(F.col("collection_id") == comp)
    assert crs.select("ocid").distinct().count() == crs.count() == 2


def test_compile_rerun_picks_up_new_ocids_only(spark, store, tmp_path):
    """Incremental compile: a second load into the parent collection adds
    one new OCID; the re-run compiles ONLY it (set difference semantics —
    processors/compiler.py:42-51 / U3)."""
    from kingfisher_process_spark.operators.compile_release import compile_collection
    from kingfisher_process_spark.operators import lifecycle
    from kingfisher_process_spark.sources import detect
    from kingfisher_process_spark.sources.loader import parse_files, store_items

    path = write(tmp_path, "pkg.json", release_package(RELEASES))
    result = process_collection(
        spark, store, "incr", "2020-01-01 00:00:00", [path], compile_=True)
    root = result["collections"]["root"]
    comp = result["collections"]["compiled"]
    assert result["compile"]["compiled"] == 2

    new_rel = {"ocid": "ocds-x-3", "id": "9", "date": "2021-01-01T00:00:00Z",
               "tender": {"id": "t9", "status": "active"}}
    p2 = write(tmp_path, "pkg2.json", release_package([new_rel]))
    data_type = detect.detect_format(p2).as_dict()
    pairs = lifecycle.create_collection_files(store, root, [p2])
    parsed = parse_files(spark, pairs, data_type)
    store_items(store, root, data_type["format"], parsed)

    rerun = compile_collection(store, root, comp)
    assert rerun["compiled"] == 1
    crs = store.read("compiled_release").where(F.col("collection_id") == comp)
    assert sorted(r["ocid"] for r in crs.select("ocid").collect()) == [
        "ocds-x-1", "ocds-x-2", "ocds-x-3"]


def test_envelope_ids_keep_insertion_order_with_gaps(spark, store, tmp_path):
    """Envelope ids = base + file_offset + item_index (map-side scheme):
    id order must equal (file order, position-in-file order) — the
    reference's insertion-order semantics that record compile's
    first-by-id pick depends on (record_compiler.py:58-75) — and an
    ocid-less item leaves a GAP, never a shifted id."""
    f1 = write(tmp_path, "f1.json", release_package([
        {"ocid": "ocds-g-b", "id": "b1", "date": "2020-01-01T00:00:00Z"},
        {"id": "skipped-no-ocid", "date": "2020-01-01T00:00:00Z"},
        {"ocid": "ocds-g-a", "id": "a1", "date": "2020-01-02T00:00:00Z"},
    ]))
    f2 = write(tmp_path, "f2.json", release_package([
        {"ocid": "ocds-g-c", "id": "c1", "date": "2020-01-03T00:00:00Z"},
    ]))
    result = process_collection(spark, store, "gaps", "2020-01-01 00:00:00",
                                [f1, f2])
    assert result["load"]["rows"] == 3
    rows = sorted(
        store.read("release")
        .where(F.col("collection_id") == result["collections"]["root"])
        .select("id", "release_id").collect(),
        key=lambda r: r["id"],
    )
    # ascending id order == file order then in-file order, gap at the
    # ocid-less slot (b1=1, [gap 2], a1=3, c1=4)
    assert [r["release_id"] for r in rows] == ["b1", "a1", "c1"]
    assert [r["id"] for r in rows] == [1, 3, 4]
    # the watermark advanced past the gap: the next collection's ids
    # cannot collide with anything allocated here
    assert store.next_id("release") == 5


def test_directory_walk_source(spark, store, tmp_path):
    """S1: pointing the pipeline at a DIRECTORY enumerates files
    recursively and skips dotfiles (reference process/util.py:30-38 via
    load.py:145-154)."""
    root = tmp_path / "input"
    (root / "nested").mkdir(parents=True)
    (root / "a.json").write_text(canonical_json(release_package([RELEASES[0]])))
    (root / "nested" / "b.json").write_text(
        canonical_json(release_package([RELEASES[1]])))
    # dotfile must be IGNORED — it is not even valid JSON
    (root / ".hidden.json").write_text("{not json")
    # hidden DIRECTORIES are pruned entirely (a .git tree must not be
    # enumerated, let alone ingested)
    (root / ".git" / "objects").mkdir(parents=True)
    (root / ".git" / "config").write_text("[core]")
    (root / ".git" / "objects" / "aa").write_text("binary-ish")

    result = process_collection(
        spark, store, "walk_source", "2020-01-01 00:00:00", [str(root)])
    assert "error" not in result, result
    files = [r["filename"] for r in store.read_rows("collection_file")
             if r["collection_id"] == result["collections"]["root"]]
    assert sorted(files) == [str(root / "a.json"), str(root / "nested" / "b.json")]
    assert result["load"]["rows"] == 2

    # add_files on an open collection walks directories the same way
    from kingfisher_process_spark import api
    ids = api.create_collection(store, "walk_add", "2020-01-02")
    more = tmp_path / "more"
    more.mkdir()
    (more / "c.json").write_text(canonical_json(release_package([RELEASES[2]])))
    (more / ".skipme").write_text("x")
    pairs = api.add_files(store, ids["root"], [str(more)])
    assert [p for _, p in pairs] == [str(more / "c.json")]

    # a missing path is an explicit error, not a silent skip
    with pytest.raises(FileNotFoundError):
        api.add_files(store, ids["root"], [str(tmp_path / "nope")])


def test_keep_open_flow_matches_one_shot(spark, store, tmp_path):
    """--keep-open parity (load.py:156-161 + collection_closed fan-out):
    open → load wave 1 → addfiles wave 2 → close runs the deferred
    compile and finishes; the compiled payloads are byte-identical to the
    one-shot process_collection over the same files."""
    from kingfisher_process_spark.pipeline import (
        close_and_process, open_collection, register_files)

    p1 = write(tmp_path, "w1.json", release_package(RELEASES[:2]))
    p2 = write(tmp_path, "w2.json", release_package([RELEASES[2]]))

    # one-shot reference run
    ref_store = Store(spark, str(tmp_path / "ref_store"))
    ref = process_collection(spark, ref_store, "oneshot", "2020-01-01 00:00:00",
                             [p1, p2], compile_=True)
    ref_data = {
        r["ocid"]: r["data"]
        for r in ref_store.read("compiled_release")
        .where(F.col("collection_id") == ref["collections"]["compiled"])
        .join(ref_store.read("data").select(F.col("id").alias("data_id"), "data"),
              "data_id").select("ocid", "data").collect()
    }

    # open flow: wave 1 at open, wave 2 while open, then close
    r = open_collection(spark, store, "openflow", "2020-01-01 00:00:00", [p1],
                        compile_=True)
    root = r["collections"]["root"]
    assert r["load"]["rows"] == 2 and r["load"]["files"] == 1

    # open collection: not yet closed/compiled
    colls = {c["id"]: c for c in store.read_rows("collection")}
    assert colls[root]["store_end_at"] is None
    assert store.read("compiled_release").count() == 0

    register_files(spark, store, root, [p2])
    out = close_and_process(spark, store, root)
    assert out["load"]["rows"] == 1          # only the pending wave loaded
    assert out["compile"]["compiled"] == 2

    comp_id = r["collections"]["compiled"]
    got = {
        row["ocid"]: row["data"]
        for row in store.read("compiled_release")
        .where(F.col("collection_id") == comp_id)
        .join(store.read("data").select(F.col("id").alias("data_id"), "data"),
              "data_id").select("ocid", "data").collect()
    }
    assert got == ref_data                   # byte-identical compiled output

    colls = {c["id"]: c for c in store.read_rows("collection")}
    assert colls[root]["store_end_at"] is not None
    assert colls[root]["completed_at"] is not None
    assert colls[root]["expected_files_count"] == 2
    assert colls[comp_id]["completed_at"] is not None
    # steps drained
    from kingfisher_process_spark.operators import lifecycle
    assert lifecycle.pending_load_steps(store, root) == []

    # re-close is rejected (closecollection on a closed collection errors)
    with pytest.raises(ValueError, match="already closed"):
        close_and_process(spark, store, root)


def test_keep_open_with_upgrade_and_check(spark, store, tmp_path):
    """Open flow with upgrade + check steps: pending loads mirror into the
    upgraded collection per wave, compile hangs off the upgraded child,
    and the deferred check runs at close."""
    from kingfisher_process_spark.pipeline import (
        close_and_process, open_collection, register_files)

    p1 = write(tmp_path, "w1.json", release_package([RELEASES[0]]))
    p2 = write(tmp_path, "w2.json", release_package([RELEASES[2]]))
    r = open_collection(spark, store, "openup", "2020-01-01 00:00:00", [p1],
                        upgrade=True, compile_=True, check=True)
    ids = r["collections"]
    assert set(ids) == {"root", "upgraded", "compiled"}
    assert r["load"]["upgrade"]["rows"] == 1

    register_files(spark, store, ids["root"], [p2])
    out = close_and_process(spark, store, ids["root"])
    assert out["load"]["rows"] == 1 and out["load"]["upgrade"]["rows"] == 1
    assert out["compile"]["compiled"] == 2
    assert out["check"] == 2                  # upgraded releases checked

    rel = store.read("release")
    assert rel.where(F.col("collection_id") == ids["root"]).count() == 2
    assert rel.where(F.col("collection_id") == ids["upgraded"]).count() == 2
    # upgraded payloads fed the compile (parties present on ocds-x-2)
    comp = (store.read("compiled_release")
            .where(F.col("collection_id") == ids["compiled"])
            .join(store.read("data").select(F.col("id").alias("data_id"), "data"),
                  "data_id"))
    doc = json.loads([r["data"] for r in comp.collect()
                      if '"parties"' in r["data"]][0])
    assert doc["parties"][0]["roles"] == ["buyer"]


def test_keep_open_upgrade_file_links_across_waves(spark, store, tmp_path):
    """Regression: upgraded-collection file links are keyed by FILENAME,
    not zip position — waves registered in reverse-lexicographic order
    must still link each upgraded row to its own file."""
    from kingfisher_process_spark.pipeline import (
        close_and_process, open_collection, register_files)

    pz = write(tmp_path, "z.json", release_package([RELEASES[0]]))
    pa = write(tmp_path, "a.json", release_package([RELEASES[2]]))
    r = open_collection(spark, store, "openz", "2020-01-01 00:00:00",
                        upgrade=True)
    root = r["collections"]["root"]
    register_files(spark, store, root, [pz])   # wave 1: z.json
    register_files(spark, store, root, [pa])   # wave 2: a.json
    close_and_process(spark, store, root)

    upg = r["collections"]["upgraded"]
    files = {r_["id"]: r_["filename"]
             for r_ in store.read_rows("collection_file")
             if r_["collection_id"] == upg}
    rel = (store.read("release").where(F.col("collection_id") == upg)
           .select("ocid", "collection_file_id").collect())
    by_ocid = {r_["ocid"]: files[r_["collection_file_id"]] for r_ in rel}
    assert by_ocid["ocds-x-1"].endswith("z.json")   # RELEASES[0] came in z
    assert by_ocid["ocds-x-2"].endswith("a.json")   # RELEASES[2] came in a


def test_api_add_files_load_at_http_close(spark, store, tmp_path):
    """Regression: files registered through api.add_files (the Collect
    integration path) must actually LOAD when the collection closes via
    the HTTP endpoint — one add-files semantics everywhere."""
    from kingfisher_process_spark import api
    from kingfisher_process_spark.http_api import make_app
    from tests.test_http_api import call

    ids = api.create_collection(store, "collect_flow", "2020-01-01",
                                compile_=True)
    p = write(tmp_path, "pkg.json", release_package(RELEASES))
    api.add_files(store, ids["root"], [p])

    app = make_app(store)
    status, _ = call(app, "POST", f"/api/collections/{ids['root']}/close/",
                     {"stats": {"kingfisher_process_expected_files_count": 1}})
    assert status == 202
    assert store.read("release").where(
        F.col("collection_id") == ids["root"]).count() == 3
    assert store.read("compiled_release").where(
        F.col("collection_id") == ids["compiled"]).count() == 2

    # cancelled collections reject registration and close (P8)
    ids2 = api.create_collection(store, "collect_gone", "2020-01-02")
    api.cancel_collection(store, ids2["root"])
    with pytest.raises(api.ApiError):
        api.add_files(store, ids2["root"], [p])


def test_one_shot_closes_the_upgraded_collection(spark, store, tmp_path):
    """The one-shot call closes the upgraded child as open → close does:
    ``store_end_at`` set and ``expected_files_count`` = files loaded."""
    from kingfisher_process_spark.pipeline import (
        close_and_process, open_collection)

    paths = [write(tmp_path, "u1.json", release_package([RELEASES[0]])),
             write(tmp_path, "u2.json", release_package([RELEASES[2]]))]
    one = process_collection(spark, store, "oneshot_up", "2020-01-01 00:00:00",
                             paths, upgrade=True)
    opened = open_collection(spark, store, "open_up", "2020-01-01 00:00:00",
                             paths, upgrade=True)
    close_and_process(spark, store, opened["collections"]["root"])

    colls = {c["id"]: c for c in store.read_rows("collection")}
    for ids in (one["collections"], opened["collections"]):
        upg = colls[ids["upgraded"]]
        assert upg["store_end_at"] is not None
        assert upg["expected_files_count"] == len(paths)
        assert upg["completed_at"] is not None


def test_compile_hint_only_when_the_close_drains_every_file(
        spark, store, tmp_path, monkeypatch):
    """``close_and_process`` passes the drain's releases-per-OCID bound
    to the compile only when that drain loaded every file: the one-shot
    call passes it, a close after an earlier wave passes None (the bound
    would miss the earlier wave's rows)."""
    from kingfisher_process_spark import pipeline

    hints = []
    real = pipeline.compile_collection

    def spy(*args, **kwargs):
        hints.append(kwargs.get("max_per_ocid"))
        return real(*args, **kwargs)

    monkeypatch.setattr(pipeline, "compile_collection", spy)
    p1 = write(tmp_path, "h1.json", release_package(RELEASES[:2]))
    p2 = write(tmp_path, "h2.json", release_package([RELEASES[2]]))

    one = pipeline.process_collection(
        spark, store, "hint_oneshot", "2020-01-01 00:00:00", [p1, p2],
        upgrade=True, compile_=True)
    assert one["upgrade"]["max_per_ocid"] == 2
    assert hints == [2]

    opened = pipeline.open_collection(
        spark, store, "hint_open", "2020-01-01 00:00:00", [p1], compile_=True)
    root = opened["collections"]["root"]
    pipeline.register_files(spark, store, root, [p2])
    out = pipeline.close_and_process(spark, store, root)
    assert out["load"]["files"] == 1 and out["compile"]["compiled"] == 2
    assert hints == [2, None]


def test_add_notes_appends_in_the_callers_order(store):
    """``lifecycle.add_notes`` gives consecutive ids in the given order,
    one naive-UTC ``stored_at`` per batch, and continues after the
    single-row ``add_note``."""
    from datetime import datetime, timezone

    lifecycle.add_note(store, 7, "INFO", "first")
    assert lifecycle.add_notes(store, 7, [("WARNING", "b", None),
                                          ("ERROR", "a", '{"k": 1}')]) == 2
    assert lifecycle.add_notes(store, 7, []) == 0
    rows = sorted(store.read_rows("collection_note"), key=lambda r: r["id"])
    assert [(r["code"], r["note"], r["data"]) for r in rows] == [
        ("INFO", "first", None), ("WARNING", "b", None), ("ERROR", "a", '{"k": 1}')]
    assert [r["id"] for r in rows] == [1, 2, 3]
    now = datetime.now(timezone.utc).replace(tzinfo=None)
    assert rows[1]["stored_at"] == rows[2]["stored_at"]
    assert all(r["stored_at"].tzinfo is None
               and abs((now - r["stored_at"]).total_seconds()) < 60 for r in rows)
