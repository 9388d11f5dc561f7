"""Golden-output tests for the OCDS merge engine, ported from the
reference's expected values (tests/processors/test_compiler.py:10-125).
The golden JSON is the oracle here, not DuckDB (SURVEY §2.12)."""

from __future__ import annotations

import json

import pytest

from kingfisher_process_spark.operators.merge import compile_releases


def test_merge_warning_golden():
    releases = [
        {
            "ocid": "ocds-213czf-1",
            "id": "1",
            "date": "2020-01-01T00:00:00Z",
            "parties": [
                {"id": "ORG-001", "name": "Acme Corp"},
                {"id": "ORG-001", "name": "Acme Inc."},
            ],
            "awards": [
                {"id": "1"},
                {"id": "1"},
            ],
        },
        {
            "ocid": "ocds-213czf-1",
            "id": "2",
            "date": "2020-01-01T00:00:00Z",
            "parties": [
                {"id": "ORG-002", "name": "Widget Factory"},
            ],
        },
    ]

    merged, notes = compile_releases("ocds-213czf-1", releases, set())

    assert merged == {
        "ocid": "ocds-213czf-1",
        "id": "ocds-213czf-1-2020-01-01T00:00:00Z",
        "date": "2020-01-01T00:00:00Z",
        "parties": [
            {"id": "ORG-001", "name": "Acme Inc."},
            {"id": "ORG-002", "name": "Widget Factory"},
        ],
        "awards": [{"id": "1"}],
        "tag": ["compiled"],
    }

    got = [(n.code, n.note, n.data) for n in notes]
    assert got == [
        (
            "WARNING",
            "Release at index 1 has the same date '2020-01-01T00:00:00Z' as the previous release",
            {"type": "RepeatedDateValueWarning", "date": "2020-01-01T00:00:00Z", "index": 1},
        ),
        (
            "WARNING",
            "Multiple objects have the `id` value 'ORG-001' in the `parties` array\n"
            "Multiple objects have the `id` value '1' in the `awards` array",
            {"type": "DuplicateIdValueWarning", "paths": {"parties": 1, "awards": 1}},
        ),
    ]


def test_merge_error_golden():
    merged, notes = compile_releases("ocds-213czf-1", ["invalid release"], set())
    assert merged is None
    got = [(n.code, n.note, n.data) for n in notes]
    assert got == [
        (
            "ERROR",
            "OCID ocds-213czf-1 can't be compiled",
            {"type": "NonObjectReleaseError", "message": "Release at index 0 must be an object", "index": 0},
        ),
    ]


def test_extension_warning():
    releases = [{"ocid": "ocds-213czf-1", "id": "1", "date": "2020-01-01T00:00:00Z"}]
    merged, notes = compile_releases(
        "ocds-213czf-1", releases,
        {"https://example.com/nonexistent_extension/master/"},
    )
    assert merged == {
        "date": "2020-01-01T00:00:00Z",
        "id": "ocds-213czf-1-2020-01-01T00:00:00Z",
        "ocid": "ocds-213czf-1",
        "tag": ["compiled"],
    }
    assert [n.data["type"] for n in notes] == ["ExtensionWarning"]


def test_null_deletes_and_whole_list_merge():
    releases = [
        {
            "ocid": "x", "id": "1", "date": "2000-01-01",
            "tender": {"status": "planned", "submissionMethod": ["electronicSubmission"]},
            "parties": [{"id": "P1", "roles": ["buyer"],
                         "additionalIdentifiers": [{"id": "a", "scheme": "s1"}]}],
        },
        {
            "ocid": "x", "id": "2", "date": "2000-01-02",
            "tender": {"status": None, "submissionMethod": ["written"]},
            "parties": [{"id": "P1", "roles": ["buyer", "supplier"],
                         "additionalIdentifiers": [{"id": "b"}]}],
        },
    ]
    merged, notes = compile_releases("x", releases, set())
    assert merged["tender"] == {"submissionMethod": ["written"]}  # null deleted status
    assert merged["parties"] == [
        {"id": "P1", "roles": ["buyer", "supplier"], "additionalIdentifiers": [{"id": "b"}]}
    ]  # wholeListMerge replaced both arrays
    assert notes == []


def test_date_errors():
    merged, notes = compile_releases("x", [{"ocid": "x", "id": "1"}], set())
    assert merged is None
    assert notes[0].data["type"] == "MissingDateKeyError"

    merged, notes = compile_releases("x", [{"ocid": "x", "id": "1", "date": None}], set())
    assert merged is None
    assert notes[0].data["type"] == "NullDateValueError"


def test_index_fallback_for_idless_objects():
    releases = [
        {"ocid": "x", "id": "1", "date": "2000-01-01",
         "awards": [{"title": "a"}, {"title": "b"}]},
        {"ocid": "x", "id": "2", "date": "2000-01-02",
         "awards": [{"title": "A"}]},
    ]
    merged, _ = compile_releases("x", releases, set())
    assert merged["awards"] == [{"title": "A"}, {"title": "b"}]


def test_notes_serializable():
    _, notes = compile_releases("x", ["bad"], set())
    for n in notes:
        code, text, data = n.as_tuple()
        assert json.loads(data)["type"] == "NonObjectReleaseError"


def test_versioned_release_golden():
    # Shapes from the public OCDS merging reference ('Versioned data'):
    # change-only history, plain array-item ids, wholeListMerge leaves,
    # omitted top-level id/date/tag, null recording no entry.
    from kingfisher_process_spark.operators.merge import create_versioned_release

    releases = [
        {
            "ocid": "ocds-213czf-1",
            "id": "1",
            "date": "2020-01-01T00:00:00Z",
            "tag": ["tender"],
            "initiationType": "tender",
            "tender": {"id": "t-1", "status": "active"},
            "parties": [{"id": "ORG-001", "name": "Acme Corp",
                         "roles": ["buyer"]}],
        },
        {
            "ocid": "ocds-213czf-1",
            "id": "2",
            "date": "2020-02-01T00:00:00Z",
            "tag": ["tenderUpdate"],
            "initiationType": "tender",  # unchanged -> no new entry
            "tender": {"id": "t-1", "status": "complete",
                       "submissionMethod": None},  # null -> no entry
            "parties": [{"id": "ORG-001", "name": "Acme Inc.",
                         "roles": ["buyer", "supplier"]}],
        },
    ]
    m1 = {"releaseID": "1", "releaseDate": "2020-01-01T00:00:00Z",
          "releaseTag": ["tender"]}
    m2 = {"releaseID": "2", "releaseDate": "2020-02-01T00:00:00Z",
          "releaseTag": ["tenderUpdate"]}

    assert create_versioned_release(releases) == {
        "ocid": "ocds-213czf-1",
        "initiationType": [{**m1, "value": "tender"}],
        "tender": {
            "id": [{**m1, "value": "t-1"}],  # object (non-array) id versions
            "status": [{**m1, "value": "active"}, {**m2, "value": "complete"}],
        },
        "parties": [{
            "id": "ORG-001",  # array-item merge key stays plain
            "name": [{**m1, "value": "Acme Corp"}, {**m2, "value": "Acme Inc."}],
            # parties.roles is wholeListMerge -> versions as one leaf
            "roles": [{**m1, "value": ["buyer"]},
                      {**m2, "value": ["buyer", "supplier"]}],
        }],
    }


# --- extension-patched merge rules (reference: processors/compiler.py:170-177
# builds a Merger from the extension-patched schema; process/util.py:172-183
# adds the lots -> submissionTerms dependency) ---

LOTS_URL = ("https://raw.githubusercontent.com/open-contracting-extensions/"
            "ocds_lots_extension/master/extension.json")
SUBMISSION_URL = ("https://raw.githubusercontent.com/open-contracting-extensions/"
                  "ocds_submissionTerms_extension/master/extension.json")

# Representative release-schema.json patch: adds tender.lots (array of
# Lot, referenced via a local definition) flagged wholeListMerge — the
# annotation shape extensions use to opt an array out of id-merging.
LOTS_PATCH = {
    "properties": {
        "tender": {
            "properties": {
                "lots": {
                    "type": "array",
                    "items": {"$ref": "#/definitions/Lot"},
                    "wholeListMerge": True,
                },
            },
        },
    },
    "definitions": {
        "Lot": {
            "type": "object",
            "properties": {
                "id": {"type": "string"},
                "title": {"type": "string"},
            },
        },
    },
}

LOTS_RELEASES = [
    {
        "ocid": "ocds-213czf-L", "id": "1", "date": "2020-01-01T00:00:00Z",
        "tender": {"lots": [{"id": "lot-1", "title": "North"},
                            {"id": "lot-2", "title": "South"}]},
    },
    {
        "ocid": "ocds-213czf-L", "id": "2", "date": "2020-02-01T00:00:00Z",
        "tender": {"lots": [{"id": "lot-2", "title": "South (revised)"}]},
    },
]


def test_extension_schema_changes_merge_behavior():
    """The SAME input merges differently once the extension's schema is
    supplied: base rules id-merge tender.lots (lot-1 survives), the
    extension's wholeListMerge replaces the array wholesale."""
    base_merged, base_notes = compile_releases(
        "ocds-213czf-L", [json.loads(json.dumps(r)) for r in LOTS_RELEASES],
        {LOTS_URL})
    assert base_merged["tender"]["lots"] == [
        {"id": "lot-1", "title": "North"},
        {"id": "lot-2", "title": "South (revised)"},
    ]
    # no schema supplied -> one warning per extension URL (incl. the
    # lots -> submissionTerms dependency closure)
    warn_urls = {n.note.split(":")[0] + ":" + n.note.split(":")[1]
                 for n in base_notes if n.data and n.data.get("type") == "ExtensionWarning"}
    assert len([n for n in base_notes
                if n.data and n.data.get("type") == "ExtensionWarning"]) == 2

    ext_merged, ext_notes = compile_releases(
        "ocds-213czf-L", [json.loads(json.dumps(r)) for r in LOTS_RELEASES],
        {LOTS_URL}, extension_schemas={LOTS_URL: LOTS_PATCH})
    assert ext_merged["tender"]["lots"] == [
        {"id": "lot-2", "title": "South (revised)"},
    ]
    # lots schema supplied, submissionTerms still missing -> ONE warning
    ext_warns = [n for n in ext_notes
                 if n.data and n.data.get("type") == "ExtensionWarning"]
    assert len(ext_warns) == 1
    assert SUBMISSION_URL in ext_warns[0].note


def test_extension_flag_removal():
    """A patch that nulls wholeListMerge on a base-flagged array switches
    it back to id-merging (json-merge-patch null = delete the flag)."""
    url = "https://example.com/extension.json"
    patch = {"properties": {"parties": {"items": {"properties": {
        "additionalIdentifiers": {"wholeListMerge": None}}}}}}
    releases = [
        {"ocid": "o-1", "id": "1", "date": "2020-01-01T00:00:00Z",
         "parties": [{"id": "P", "additionalIdentifiers": [
             {"id": "A", "scheme": "x"}]}]},
        {"ocid": "o-1", "id": "2", "date": "2020-02-01T00:00:00Z",
         "parties": [{"id": "P", "additionalIdentifiers": [
             {"id": "B", "scheme": "y"}]}]},
    ]
    base, _ = compile_releases("o-1", [json.loads(json.dumps(r)) for r in releases], set())
    assert base["parties"][0]["additionalIdentifiers"] == [{"id": "B", "scheme": "y"}]

    ext, _ = compile_releases("o-1", [json.loads(json.dumps(r)) for r in releases],
                              {url}, extension_schemas={url: patch})
    assert ext["parties"][0]["additionalIdentifiers"] == [
        {"id": "A", "scheme": "x"}, {"id": "B", "scheme": "y"}]


@pytest.mark.usefixtures("spark_stages")
def test_extension_schemas_in_spark_pipeline(tmp_path):
    """End-to-end through the distributed compile: extension_schemas passed
    to compile_collection alters the compiled payload, on both the
    single-phase and forced two-phase paths."""
    from pyspark.sql import functions as F

    from kingfisher_process_spark.operators import lifecycle
    from kingfisher_process_spark.operators.compile_release import compile_collection
    from kingfisher_process_spark.pipeline import process_collection
    from kingfisher_process_spark.session import get_spark
    from kingfisher_process_spark.store import Store
    from kingfisher_process_spark.util import canonical_json

    spark = get_spark()
    pkg = {"uri": "http://x", "publisher": {"name": "p"},
           "extensions": [LOTS_URL], "releases": LOTS_RELEASES}
    path = tmp_path / "pkg.json"
    path.write_text(canonical_json(pkg))

    def run(two_phase, schemas):
        tag = f"{two_phase}_{bool(schemas)}"
        store = Store(spark, str(tmp_path / f"store_{tag}"))
        r = process_collection(spark, store, f"ext_{tag}",
                               "2020-01-01 00:00:00", [str(path)])
        comp = lifecycle.create_collections(
            store, f"extc_{tag}", "2020-01-01 00:00:00")["root"]
        compile_collection(store, r["collections"]["root"], comp,
                           two_phase=two_phase, batch=1,
                           extension_schemas=schemas)
        crs = store.read("compiled_release").where(F.col("collection_id") == comp)
        data = store.read("data").select(F.col("id").alias("data_id"), "data")
        [row] = crs.join(data, "data_id").select("data").collect()
        return json.loads(row["data"])["tender"]["lots"]

    for two_phase in (False, True):
        assert len(run(two_phase, None)) == 2           # base rules: id-merge
        assert len(run(two_phase, {LOTS_URL: LOTS_PATCH})) == 1  # wholeListMerge


def test_rules_file_matches_schema_derivation():
    """The vendored rules file is derived from the vendored 1.1.5 release
    schema — this pins them together so neither can drift."""
    from kingfisher_process_spark.operators.merge import (
        derive_merge_rules, load_base_release_schema, load_rules)

    assert load_rules() == derive_merge_rules(load_base_release_schema())


def test_idless_object_array_is_whole_list_merge():
    """OCDS merge spec: an array of objects whose items schema declares no
    `id` is replaced wholesale. amendment.changes (deprecated 1.1 shape)
    is the base-schema case; an extension adding a new id-less array gets
    the same implicit rule through the patched-schema derivation."""
    from kingfisher_process_spark.operators.merge import load_rules

    assert "tender.amendments.changes" in load_rules()

    url = "https://example.com/idless.json"
    patch = {"properties": {"tender": {"properties": {"metrics": {
        "type": "array",
        "items": {"type": "object", "properties": {"value": {"type": "number"}}},
    }}}}}
    releases = [
        {"ocid": "o-2", "id": "1", "date": "2020-01-01T00:00:00Z",
         "tender": {"metrics": [{"value": 1}, {"value": 2}]}},
        {"ocid": "o-2", "id": "2", "date": "2020-02-01T00:00:00Z",
         "tender": {"metrics": [{"value": 9}]}},
    ]
    ext, _ = compile_releases("o-2", [json.loads(json.dumps(r)) for r in releases],
                              {url}, extension_schemas={url: patch})
    # patched schema: metrics has no id -> whole-list replace by release 2
    assert ext["tender"]["metrics"] == [{"value": 9}]


def test_extension_schema_applies_to_checks():
    """checker parity (checker.py:80-131): an extension-declared field
    stops producing additional/unknown-shape validation errors once its
    schema patches the validation schema."""
    from kingfisher_process_spark.operators.check import check_item

    url = "https://example.com/ext.json"
    patch = {"properties": {"tender": {"properties": {
        "submissionTerms": {"type": "object", "properties": {
            "electronicSubmissionPolicy": {"type": "string"}}}}}}}
    release = json.dumps({
        "ocid": "o-3", "id": "1", "date": "2020-01-01T00:00:00Z",
        "tag": ["tender"], "initiationType": "tender",
        "tender": {"id": "t", "submissionTerms": {"electronicSubmissionPolicy": 42}},
    })
    base = json.loads(check_item(release, False))
    ext = json.loads(check_item(release, False, extension_schemas={url: patch}))
    # base schema has no submissionTerms -> the type error is invisible;
    # the patched schema declares it a string and flags the integer
    paths = [e["path"] for e in ext["validation_errors"]]
    assert any("submissionTerms" in p for p in paths), ext
    base_paths = [e["path"] for e in base["validation_errors"]]
    assert not any("submissionTerms" in p for p in base_paths), base


def test_cove_output_golden_shape():
    """cove_output structural parity (checker.py:80-131): the stored dict
    is ``context_api_transform(common_checks_ocds(...))``-shaped with
    aggregates and additional checks disabled (checker.py:23-30) — exact
    top-level keys, ``{type, field, description, path}`` validation-error
    entries, ``{path, field, usage_count}`` additional-field entries, and
    ``{field, explanation, paths}`` deprecated-field entries."""
    from kingfisher_process_spark.operators.check import check_item

    release = json.dumps({
        "ocid": "ocds-kpc-golden", "id": "1",
        "date": "2020-01-01T00:00:00Z", "tag": "notanarray",
        "tender": {
            "id": "t1",
            "amendment": {"changes": [{"property": "value"}]},
            "bogusField": 7,
        },
    })
    out = json.loads(check_item(release, False))
    assert out == {
        "file_type": "json",
        "version_used": "1.1",
        "schema_url": "release-package-schema.json",
        "validation_errors": [
            {
                "type": "array",
                "field": "releases/tag",
                "description": "'notanarray' is not of type 'array'",
                "path": "releases/0/tag",
            },
            {
                "type": "required",
                "field": "releases",
                "description": "'initiationType' is a required property",
                "path": "releases/0",
            },
        ],
        "validation_errors_count": 2,
        "common_error_types": [],
        "extensions": {
            "extensions": [],
            "invalid_extension": {},
            "is_extended_schema": False,
            "extended_schema_url": None,
        },
        "deprecated_fields": [
            {
                "field": "changes",
                "explanation": [
                    "1.1",
                    out["deprecated_fields"][0]["explanation"][1],
                ],
                "paths": ["releases/tender/amendment"],
            },
        ],
        "additional_fields": [
            {"path": "releases/tender", "field": "bogusField", "usage_count": 1},
        ],
        "additional_checks": {},
    }
    # the pinned explanation text is the schema's own description
    assert "amendment.description" in out["deprecated_fields"][0]["explanation"][1]


def test_extension_bundle_from_disk(tmp_path):
    """Offline extension-schema bundle (compiler.py:136-140 analogue): a
    local directory of pre-downloaded schemas drives the same rule flip as
    an in-memory extension_schemas dict — tender.lots goes wholeListMerge —
    and a missing bundle entry degrades to the fetch-failure WARNING."""
    from pyspark.sql import functions as F

    from kingfisher_process_spark.operators import lifecycle
    from kingfisher_process_spark.operators.compile_release import compile_collection
    from kingfisher_process_spark.operators.merge import load_extension_bundle
    from kingfisher_process_spark.pipeline import process_collection
    from kingfisher_process_spark.session import get_spark
    from kingfisher_process_spark.store import Store
    from kingfisher_process_spark.util import canonical_json

    bundle = tmp_path / "bundle"
    (bundle / "lots").mkdir(parents=True)
    (bundle / "lots" / "release-schema.json").write_text(json.dumps(LOTS_PATCH))
    (bundle / "index.json").write_text(json.dumps({
        LOTS_URL: "lots",                      # dir entry -> release-schema.json
        "https://example.com/gone.json": "missing/release-schema.json",
    }))
    schemas = load_extension_bundle(str(bundle))
    assert set(schemas) == {LOTS_URL}          # missing entry skipped, not fatal

    spark = get_spark()
    pkg = {"uri": "http://x", "publisher": {"name": "p"},
           "extensions": [LOTS_URL], "releases": LOTS_RELEASES}
    path = tmp_path / "pkg.json"
    path.write_text(canonical_json(pkg))
    store = Store(spark, str(tmp_path / "store"))
    # the pipeline accepts the bundle PATH directly
    r = process_collection(spark, store, "ext_bundle", "2020-01-01 00:00:00",
                           [str(path)], compile_=True,
                           extension_schemas=str(bundle))
    comp = r["collections"]["compiled"]
    crs = store.read("compiled_release").where(F.col("collection_id") == comp)
    data = store.read("data").select(F.col("id").alias("data_id"), "data")
    [row] = crs.join(data, "data_id").select("data").collect()
    lots = json.loads(row["data"])["tender"]["lots"]
    assert lots == [{"id": "lot-2", "title": "South (revised)"}]
    # submissionTerms dependency still unbundled -> its WARNING note remains
    notes = [n["note"] for n in store.read_rows("collection_note")
             if n["code"] == "WARNING"]
    assert any("submissionTerms" in n for n in notes), notes


def test_record_check_resolves_extension_refs():
    """Regression: deprecated/additional-field walk must resolve an
    extension patch's own $ref definitions inside a record's embedded
    releases (reached through the releases oneOf), and the validator/walk
    must apply only the PACKAGE-declared extension set when package
    metadata is supplied."""
    from kingfisher_process_spark.operators.check import check_item

    url = "https://example.com/lots.json"
    patch = {
        "properties": {"tender": {"properties": {"lots": {
            "type": "array", "items": {"$ref": "#/definitions/Lot"}}}}},
        "definitions": {"Lot": {"type": "object", "properties": {
            "id": {"type": "string"}}}},
    }
    rec = json.dumps({
        "ocid": "o", "releases": [{
            "ocid": "o", "id": "1", "date": "2020-01-01T00:00:00Z",
            "tag": ["tender"], "initiationType": "tender",
            "tender": {"id": "t", "lots": [{"id": "l1"}]}}],
    })
    pkg = {"uri": "u:", "version": "1.1", "publisher": {"name": "p"},
           "extensions": [url]}

    out = json.loads(check_item(rec, True, package_json=json.dumps(pkg),
                                extension_schemas={url: patch}))
    assert out["additional_fields"] == []          # Lot.id is declared
    assert out["extensions"]["extensions"] == [url]
    assert out["extensions"]["invalid_extension"] == {}
    assert out["extensions"]["is_extended_schema"] is True

    # package declares NOTHING -> the bundle must not patch the schema
    pkg2 = {"uri": "u:", "version": "1.1", "publisher": {"name": "p"}}
    out2 = json.loads(check_item(rec, True, package_json=json.dumps(pkg2),
                                 extension_schemas={url: patch}))
    assert out2["extensions"]["is_extended_schema"] is False
    assert {"path": "records/releases/tender", "field": "lots",
            "usage_count": 1} in out2["additional_fields"]

    # declared but NOT in the bundle -> flagged invalid (fetch-or-warn)
    out3 = json.loads(check_item(rec, True, package_json=json.dumps(pkg)))
    assert url in out3["extensions"]["invalid_extension"]


def test_versioned_release_schema_roundtrip():
    """The versioned-release VALIDATION schema is generated from the
    release schema + merge rules (make_versioned semantics); our own
    ``create_versioned_release`` output must validate clean against it,
    and a corrupted versioned value must be caught with the release
    schema's own type/enum constraints at the right path."""
    from kingfisher_process_spark.operators.check import check_item
    from kingfisher_process_spark.operators.merge import create_versioned_release

    releases = [
        {"ocid": "o", "id": "1", "date": "2020-01-01T00:00:00Z",
         "tag": ["tender"], "initiationType": "tender",
         "tender": {"id": "t", "status": "planned",
                    "items": [{"id": "i1", "description": "north"}]}},
        {"ocid": "o", "id": "2", "date": "2020-02-01T00:00:00Z",
         "tag": ["tenderUpdate"], "tender": {"id": "t", "status": "active"}},
    ]
    ver = create_versioned_release([json.loads(json.dumps(r)) for r in releases])
    rec = {"ocid": "o",
           "releases": [{"url": "http://x#1", "date": "2020-01-01T00:00:00Z",
                          "tag": ["tender"]}],
           "versionedRelease": ver}
    out = json.loads(check_item(json.dumps(rec), True))
    assert out["validation_errors_count"] == 0
    assert out["additional_fields"] == []   # versioned fields are declared

    bad = json.loads(json.dumps(rec))
    bad["versionedRelease"]["tender"]["status"][0]["value"] = 123
    out2 = json.loads(check_item(json.dumps(bad), True))
    kinds = {(e["type"], e["path"]) for e in out2["validation_errors"]}
    assert ("string", "records/0/versionedRelease/tender/status/0/value") in kinds
    assert ("enum", "records/0/versionedRelease/tender/status/0/value") in kinds


def test_versioned_schema_extension_refs_and_empty_arrays():
    """Regressions: (1) an extension wholeListMerge array whose items are
    a $ref must not leave a dangling pointer in the generated versioned
    schema (jsonschema PointerToNowhere crash); (2) an empty
    identifier-merge array round-trips through create_versioned_release
    as a LEAF entry and must still validate / not flag additional
    fields."""
    from kingfisher_process_spark.operators.check import check_item
    from kingfisher_process_spark.operators.merge import (
        create_versioned_release, rules_with_extensions)

    url = "https://example.com/fees.json"
    patch = {
        "properties": {"tender": {"properties": {"fees": {
            "type": "array", "wholeListMerge": True,
            "items": {"$ref": "#/definitions/Fee"}}}}},
        "definitions": {"Fee": {"type": "object", "properties": {
            "amount": {"type": "number"}}}},
    }
    releases = [
        {"ocid": "o", "id": "1", "date": "2020-01-01T00:00:00Z",
         "tag": ["tender"], "initiationType": "tender",
         "tender": {"id": "t", "fees": [{"amount": 5}],
                    "milestones": []}},   # empty id-merge array -> leaf
    ]
    ver = create_versioned_release(
        [json.loads(json.dumps(r)) for r in releases],
        rules_with_extensions({url: patch}))
    rec = {"ocid": "o",
           "releases": [{"url": "http://x#1", "date": "2020-01-01T00:00:00Z",
                          "tag": ["tender"]}],
           "versionedRelease": ver}
    pkg = {"uri": "u:", "version": "1.1", "publisher": {"name": "p"},
           "extensions": [url]}
    out = json.loads(check_item(json.dumps(rec), True,
                                package_json=json.dumps(pkg),
                                extension_schemas={url: patch}))
    # no crash, no false additional fields from either shape
    assert out["additional_fields"] == []
    assert out["validation_errors_count"] == 0
    # the extension's Fee type constraint is live inside the versioned value
    bad = json.loads(json.dumps(rec))
    bad["versionedRelease"]["tender"]["fees"][0]["value"] = [{"amount": "x"}]
    out2 = json.loads(check_item(json.dumps(bad), True,
                                 package_json=json.dumps(pkg),
                                 extension_schemas={url: patch}))
    assert any(e["type"] == "number" for e in out2["validation_errors"]), out2
