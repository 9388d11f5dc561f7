"""Structural check stage (M2) — JSON Schema validation per release/record
(reference: checker.py:80-131, which re-packages each item into a 1-item
package and runs libcoveocds ``common_checks_ocds`` with aggregates and
additional checks disabled, checker.py:23-30).

This engine validates each payload against the vendored OCDS 1.1.5
release/record package schemas (resources/*.json.gz) using ``jsonschema``
(draft-4, the draft OCDS uses). Extension schema patching is skipped (no
network — same degradation as compile). The output ``cove_output`` mirrors
the reference's essential shape: ``validation_errors`` with json-path +
message.

Two paths, chosen by the collection's footer row count alone
(``store.DRIVER_CHECK_MAX``). At or under the gate, ``check_item`` runs on
the driver over pyarrow-read payloads and the rows are appended with
``append_rows``: no Spark job. Above it the check runs inside
``mapInPandas`` — the validator compiles once per executor batch
iterator, then streams Arrow batches. Each item is validated once: check
ids are assigned on the item keys first, and validation runs downstream of
that sort. Both paths store the same ids and ``cove_output``.
"""

from __future__ import annotations

import gzip
import importlib.resources
import json
from decimal import Decimal

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kingfisher_process_spark import store as store_mod
from kingfisher_process_spark.store import Store, with_sequential_ids

CHECKED_SCHEMA = T.StructType([
    T.StructField("id", T.LongType()),
    T.StructField("item_id", T.LongType()),
    T.StructField("cove_output", T.StringType()),
])


def _load_schema(record_pkg: bool,
                 extension_schemas: dict[str, dict] | None = None) -> dict:
    from kingfisher_process_spark.operators.merge import json_merge_patch

    name = "record_package_schema_1_1_5.json.gz" if record_pkg else "release_package_schema_1_1_5.json.gz"
    ref = importlib.resources.files("kingfisher_process_spark") / "resources" / name
    with gzip.open(ref.open("rb")) as f:
        schema = json.load(f)
    # inline the release-schema $ref so validation is self-contained;
    # extension patches apply to the RELEASE schema before inlining — the
    # reference patches SchemaOCDS the same way (checker.py:80-131) so an
    # extension-declared field stops flagging additional-property errors
    rel_ref = importlib.resources.files("kingfisher_process_spark") / "resources/release_schema_1_1_5.json.gz"
    with gzip.open(rel_ref.open("rb")) as f:
        release_schema = json.load(f)
    for url in sorted(extension_schemas or {}):
        release_schema = json_merge_patch(release_schema, extension_schemas[url])
    items_key = "records" if record_pkg else "releases"
    if items_key in schema.get("properties", {}):
        items = schema["properties"][items_key]
        if record_pkg:
            # the record definition $refs the release schema for embedded
            # releases/compiledRelease — inline the (extension-patched)
            # release schema so those validate for real; versionedRelease
            # gets the schema GENERATED from the same patched release
            # schema + merge rules (the upstream generated file is not
            # vendored; deriving keeps it in lockstep)
            from kingfisher_process_spark.operators.merge import derive_merge_rules

            ver_schema = versioned_release_schema(
                release_schema, derive_merge_rules(release_schema))

            def _inline(node):
                if isinstance(node, dict):
                    ref = node.get("$ref", "")
                    if ref.endswith("/release-schema.json"):
                        return release_schema
                    if ref.endswith("versioned-release-validation-schema.json"):
                        return ver_schema
                    return {k: _inline(v) for k, v in node.items()}
                if isinstance(node, list):
                    return [_inline(v) for v in node]
                return node

            schema["definitions"]["record"] = _inline(schema["definitions"]["record"])
        else:
            items["items"] = release_schema
    return schema


def versioned_release_schema(release_schema: dict, rules: dict) -> dict:
    """Generate the versioned-release VALIDATION schema from the release
    schema — the public OCDS standard's make_versioned transformation,
    mirroring this engine's data-side ``merge.create_versioned_release``
    field-for-field: every field's history is an array of {releaseID,
    releaseDate, releaseTag, value} entries; plain objects recurse;
    identifier-merged arrays keep item ``id`` plain and version the other
    item fields; ``omitWhenMerged`` fields (id/date/tag) become per-entry
    provenance and vanish from the tree; ``ocid`` stays plain. The
    upstream generated versioned-release-validation-schema.json is not
    vendored; deriving it from the (extension-patched) release schema
    keeps the two in lockstep with the merge rules."""
    def deep_resolve(node, depth: int = 0):
        """Embedded value subschemas must be self-contained: the generated
        schema is spliced into the record-package document, whose root
        has no release definitions, so any surviving local $ref would
        dangle (jsonschema PointerToNowhere). The base 1.1.5 schema is
        fully dereferenced; extension patches are the ones that carry
        refs."""
        if depth > 12 or not isinstance(node, (dict, list)):
            return node if not isinstance(node, list) else node
        if isinstance(node, list):
            return [deep_resolve(v, depth + 1) for v in node]
        node = _resolve_ref(node, release_schema)
        return {k: deep_resolve(v, depth + 1)
                for k, v in node.items() if k != "$ref"}

    def ver_leaf(node: dict) -> dict:
        return {"type": "array", "items": {
            "type": "object",
            "properties": {
                "releaseID": {"type": ["string", "integer", "null"]},
                "releaseDate": {"type": ["string", "null"]},
                "releaseTag": {"type": ["array", "null"],
                               "items": {"type": "string"}},
                "value": {k: v for k, v in deep_resolve(node).items()
                          if k not in ("deprecated",)},
            },
        }}

    def types_of(node: dict):
        t = node.get("type")
        return [t] if isinstance(t, str) else (t or [])

    def transform(node: dict, rule_path: tuple, in_array_item: bool) -> dict:
        node = _resolve_ref(node, release_schema)
        out: dict = {"type": "object", "properties": {}}
        for k, sub in node.get("properties", {}).items():
            rp = rule_path + (k,)
            flags = rules.get(".".join(rp), frozenset())
            if "omitWhenMerged" in flags:
                continue
            sub_r = _resolve_ref(sub, release_schema)
            if k == "id" and in_array_item and "versionId" not in flags:
                out["properties"]["id"] = sub_r
                continue
            if not rule_path and k == "ocid":
                out["properties"]["ocid"] = sub_r
                continue
            items = _resolve_ref(sub_r.get("items"), release_schema) \
                if isinstance(sub_r.get("items"), dict) else {}
            if "object" in types_of(sub_r) or ("properties" in sub_r
                                               and "array" not in types_of(sub_r)):
                out["properties"][k] = transform(sub_r, rp, False)
            elif "array" in types_of(sub_r) and "properties" in items \
                    and "wholeListMerge" not in flags:
                # anyOf: create_versioned_release id-merges a list only
                # when it is non-empty and all-dict (merge.py _ver_object);
                # empty / mixed lists version as ONE leaf — both data
                # shapes must validate (and the field walk's branches()
                # treats anyOf alternatives as declared fields)
                out["properties"][k] = {"anyOf": [
                    {"type": "array", "items": transform(items, rp, True)},
                    ver_leaf(sub_r),
                ]}
            else:
                out["properties"][k] = ver_leaf(sub_r)
        return out

    return transform(release_schema, (), False)


_VALIDATOR_CACHE: dict[tuple, object] = {}
_SCHEMA_CACHE: dict[tuple, dict] = {}


def _schema_cached(record_pkg: bool,
                   extension_schemas: dict[str, dict] | None = None) -> dict:
    key = (record_pkg, _ext_key(extension_schemas))
    s = _SCHEMA_CACHE.get(key)
    if s is None:
        s = _SCHEMA_CACHE[key] = _load_schema(record_pkg, extension_schemas)
    return s


def _ext_key(extension_schemas: dict[str, dict] | None) -> tuple:
    import hashlib

    return tuple(sorted(
        (u, hashlib.md5(json.dumps(s, sort_keys=True).encode()).hexdigest())
        for u, s in (extension_schemas or {}).items()))


def _validator(record_pkg: bool,
               extension_schemas: dict[str, dict] | None = None):
    import jsonschema

    key = (record_pkg, _ext_key(extension_schemas))
    v = _VALIDATOR_CACHE.get(key)
    if v is None:
        schema = _schema_cached(record_pkg, extension_schemas)
        cls = jsonschema.validators.validator_for(schema, default=jsonschema.Draft4Validator)
        v = cls(schema)
        _VALIDATOR_CACHE[key] = v
    return v


def _cove_error(e) -> dict:
    """One validation-error entry in lib-cove-ocds's API shape: the
    reference stores ``context_api_transform(common_checks_ocds(...))``
    (checker.py:110-123), whose entries are
    ``{"type": message_type, "field": path_no_number, "description":
    message, "path": path}`` (lib-cove-ocds ``lib/api.py``). message_type
    follows libcove's convention: the failing JSON-Schema keyword, except
    ``type`` errors report the expected type name."""
    validator = e.validator
    if validator == "type":
        expected = e.validator_value
        message_type = expected[0] if isinstance(expected, list) else expected
    else:
        message_type = validator
    return {
        "type": message_type,
        "field": "/".join(str(p) for p in e.absolute_path
                          if not isinstance(p, int)),
        "description": e.message[:500],
        "path": "/".join(str(p) for p in e.absolute_path),
    }


def _resolve_ref(node, root):
    """Follow local ``$ref`` chains against the enclosing schema scope."""
    seen = 0
    while isinstance(node, dict) and "$ref" in node and seen < 10:
        ref = node["$ref"]
        if not ref.startswith("#/"):
            return {}
        tgt = root
        for part in ref[2:].split("/"):
            tgt = tgt.get(part) if isinstance(tgt, dict) else None
        if not isinstance(tgt, dict):
            return {}
        node = tgt
        seen += 1
    return node if isinstance(node, dict) else {}


def _field_walk(package: dict, pkg_schema: dict):
    """Schema walk computing cove's two field-level check surfaces
    (libcove ``get_additional_fields_data`` / ``get_json_data_deprecated_fields``
    semantics, api-transformed per lib-cove-ocds ``lib/api.py``):

    - additional fields: data keys absent from the schema, reported at the
      shallowest additional node only (descendants of an additional field
      are not re-reported), path without array indices, usage-counted.
    - deprecated fields: present data keys whose schema node carries the
      OCDS ``deprecated`` annotation; grouped by field with all paths.
    """
    from collections import Counter

    add_counts: Counter = Counter()
    deprecated: dict[str, dict] = {}

    def branches(schema, root):
        """(schema, root) + every oneOf/anyOf/allOf alternative, $refs
        resolved — a data key is 'additional' only if NO branch declares
        it (cove treats combinator alternatives as part of the schema).
        Each branch carries ITS OWN resolution root: an embedded schema
        document (own id + definitions — the inlined release schema)
        becomes the $ref scope for its subtree, even when reached through
        a combinator alternative."""
        schema = _resolve_ref(schema, root)
        if "definitions" in schema and schema is not root:
            root = schema
        out = [(schema, root)]
        for kw in ("oneOf", "anyOf", "allOf"):
            for b in schema.get(kw, []):
                out.extend(branches(b, root))
        return out

    def walk(data, alts, path):
        """``alts``: list of (schema_node, resolution_root) candidates
        for this data node."""
        expanded = []
        for s, r in alts:
            expanded.extend(branches(s, r))
        if isinstance(data, dict):
            props: dict[str, list] = {}
            for s, r in expanded:
                for k, node in s.get("properties", {}).items():
                    props.setdefault(k, []).append((node, r))
            for k, v in data.items():
                if k in props:
                    node = _resolve_ref(*props[k][0])
                    dep = node.get("deprecated")
                    if isinstance(dep, dict):
                        entry = deprecated.setdefault(k, {
                            "explanation": [dep.get("deprecatedVersion"),
                                            dep.get("description")],
                            "paths": [],
                        })
                        entry["paths"].append(path or "$")
                    walk(v, props[k], f"{path}/{k}" if path else k)
                else:
                    add_counts[(path, k)] += 1
        elif isinstance(data, list):
            item_alts = [(s["items"], r) for s, r in expanded if "items" in s]
            for v in data:
                walk(v, item_alts, path)

    walk(package, [(pkg_schema, pkg_schema)], "")
    additional = [
        {"path": p, "field": f, "usage_count": c}
        for (p, f), c in sorted(add_counts.items())
    ]
    deprecated_out = [
        {"field": k, **v} for k, v in sorted(deprecated.items())
    ]
    return additional, deprecated_out


def check_item(item_json: str, record_pkg: bool, package_json: str | None = None,
               extension_schemas: dict[str, dict] | None = None) -> str:
    """Validate one release/record, re-packaged into a 1-item package
    (checker.py:106-110). Returns the cove_output JSON string in the
    reference's stored shape: ``context_api_transform`` output with
    aggregates and additional checks disabled (checker.py:23-30), so the
    top-level keys are the check surfaces that config leaves on —
    validation errors, extensions, deprecated/additional fields — each
    present (empty when clean), never omitted."""
    item = json.loads(item_json, parse_float=Decimal)
    package = json.loads(package_json, parse_float=Decimal) if package_json else {}
    items_key = "records" if record_pkg else "releases"
    package = {k: v for k, v in package.items() if k not in ("records", "releases")}
    package.setdefault("uri", "placeholder:")
    package.setdefault("version", "1.1")
    package.setdefault("publishedDate", "9999-01-01T00:00:00Z")
    package.setdefault("publisher", {"name": "placeholder"})
    package[items_key] = [item]

    declared = [u for u in (package.get("extensions") or [])
                if isinstance(u, str)]
    # the reference builds the schema from each PACKAGE's declared
    # extension set (checker.py:107 _get_schema(items_key,
    # get_extensions(package))): with package metadata present, only
    # declared extensions patch the schema; without it (direct
    # check_item calls) the caller-supplied set is explicit intent.
    if package_json is not None and extension_schemas:
        applied = {u: s for u, s in extension_schemas.items() if u in declared}
    else:
        applied = extension_schemas or {}

    validator = _validator(record_pkg, applied or None)
    errors = []
    for e in validator.iter_errors(_jsonable(package)):
        errors.append(_cove_error(e))
        if len(errors) >= 100:
            break
    additional, deprecated_out = _field_walk(
        _jsonable(package), _schema_cached(record_pkg, applied or None))
    return json.dumps({
        "file_type": "json",
        "version_used": str(package.get("version", "1.1")),
        "schema_url": ("record-package-schema.json" if record_pkg
                       else "release-package-schema.json"),
        "validation_errors": errors,
        "validation_errors_count": len(errors),
        # constant [] in the reference's stored output: libcove copies
        # lib_cove_config['common_error_types'], which LibCoveOCDSConfig
        # sets to [] (checker.py:23-30 config)
        "common_error_types": [],
        "extensions": {
            "extensions": declared,
            "invalid_extension": {
                u: "fetching not allowed (offline engine)"
                for u in declared if u not in (extension_schemas or {})
            },
            "is_extended_schema": bool(applied),
            "extended_schema_url": None,
        },
        "deprecated_fields": deprecated_out,
        "additional_fields": additional,
        "additional_checks": {},
    })


def _jsonable(obj):
    """Decimal → float for jsonschema's number checks (validation only;
    stored payloads keep Decimal fidelity)."""
    if isinstance(obj, Decimal):
        return float(obj)
    if isinstance(obj, dict):
        return {k: _jsonable(v) for k, v in obj.items()}
    if isinstance(obj, list):
        return [_jsonable(v) for v in obj]
    return obj


def _validated(store: Store, keyed: DataFrame, record_pkg: bool,
               extension_schemas: dict[str, dict] | None) -> DataFrame:
    """(id, item_id, cove_output) for rows that already carry their check
    ``id``: join each item's payload and package, then validate it — once,
    downstream of the id assignment. (Validating before the ids would run
    every check twice: the range sort's boundary sample re-evaluates its
    input.) Package metadata rides along so each item is checked against
    ITS package's declared extension set (checker.py:104-107 repackages
    item.package_data.data); package_data is deduplicated and small — the
    join is broadcast-shaped."""
    pkg = store.read("package_data").select(
        F.col("id").alias("package_data_id"), F.col("data").alias("pkg"))
    payload = (
        keyed.join(store.read("data").select(F.col("id").alias("data_id"), "data"),
                   "data_id")
        .join(F.broadcast(pkg), "package_data_id", "left")
        .select("id", "item_id", "data", "pkg")
    )

    def gen(batches):
        for pdf in batches:
            out = [check_item(d, record_pkg,
                              package_json=p if isinstance(p, str) else None,
                              extension_schemas=extension_schemas)
                   for d, p in zip(pdf["data"], pdf["pkg"])]
            yield pd.DataFrame({"id": pdf["id"], "item_id": pdf["item_id"],
                                "cove_output": out})

    return payload.mapInPandas(gen, CHECKED_SCHEMA)


_CHECK_TABLES = {
    "release": ("release", "release_check", "release_id"),
    "record": ("record", "record_check", "record_id"),
}


def _check_collection_driver(store: Store, collection_id: int, kind: str,
                             extension_schemas: dict[str, dict] | None,
                             ) -> int | None:
    """``check_collection`` without a Spark job: the items, their existing
    checks and their payloads are pyarrow reads, ``check_item`` runs per
    item in item-id order, and the rows are appended with ``append_rows``
    under the ids the Spark path's range sort gives. None when the
    payload scan passes ``DRIVER_APPEND_MAX_BYTES`` (``payloads_by_id``):
    the caller then checks on Spark."""
    table, check_table, fk = _CHECK_TABLES[kind]
    items = store.read_rows(table, ["id", "data_id", "package_data_id"],
                            collection_ids=[collection_id])
    done = store.present_ids(check_table, fk, (r["id"] for r in items))
    todo = sorted((r for r in items if r["id"] not in done), key=lambda r: r["id"])
    datas = store.payloads_by_id(
        "data", (r["data_id"] for r in todo), store_mod.DRIVER_APPEND_MAX_BYTES)
    pkgs = store.payloads_by_id(
        "package_data", (r["package_data_id"] for r in todo),
        store_mod.DRIVER_APPEND_MAX_BYTES)
    if datas is None or pkgs is None:
        return None
    base = store.next_id(check_table)
    # an item without a payload keeps its id slot, as under the Spark
    # path's inner join on data
    store.append_rows(check_table, [
        {"id": base + i, fk: r["id"],
         "cove_output": check_item(datas[r["data_id"]], kind == "record",
                                   package_json=pkgs.get(r["package_data_id"]),
                                   extension_schemas=extension_schemas)}
        for i, r in enumerate(todo) if r["data_id"] in datas
    ])
    store.advance_next_id(check_table, base + len(todo))
    return len(todo)


def check_collection(store: Store, collection_id: int, kind: str = "release",
                     extension_schemas: dict[str, dict] | None = None) -> int:
    """Check all unchecked releases/records of a collection (left-anti join
    against existing checks — addchecks.py:35-44 shape). Returns row count.

    A driver-scale collection — at most ``store.DRIVER_CHECK_MAX`` items by
    its footer count, payload scan within ``DRIVER_APPEND_MAX_BYTES`` — is
    checked on the driver (``_check_collection_driver``); larger ones run
    the Spark path below."""
    from kingfisher_process_spark.operators import lifecycle

    if lifecycle.collection_cancelled(store, collection_id):
        return 0
    table, check_table, fk = _CHECK_TABLES[kind]
    if store.count_rows(table, collection_id) <= store_mod.DRIVER_CHECK_MAX:
        n = _check_collection_driver(store, collection_id, kind, extension_schemas)
        if n is not None:
            return n
    items = store.read(table).where(F.col("collection_id") == collection_id)
    existing = store.read(check_table).select(F.col(fk).alias("id"))
    todo = (items.join(existing, "id", "left_anti")
            .select(F.col("id").alias("item_id"), "data_id", "package_data_id"))
    base = store.next_id(check_table)
    keyed, n, pinned = with_sequential_ids(todo, base, order_by=["item_id"])
    if n:
        checked = _validated(store, keyed, kind == "record", extension_schemas)
        store.append(check_table, checked.select(
            "id", F.col("item_id").alias(fk), "cove_output"))
    store.advance_next_id(check_table, base + n)
    pinned.unpersist()
    return n


def incremental_check_collection(store: Store, collection_id: int,
                                 prior_collection_id: int,
                                 kind: str = "release",
                                 extension_schemas: dict[str, dict] | None = None,
                                 ) -> dict:
    """Check ``collection_id`` reusing a PRIOR collection's results for
    every item whose (data_id, package_data_id) pair was already
    checked — the check-stage sibling of incremental_recompile.

    Why this is sound: check output is a pure function of the payload,
    its package metadata, and ``extension_schemas`` (which the caller
    must hold fixed between the two runs — same contract as rerunning
    the reference checker with the same library version), and payloads
    are content-deduplicated store-wide, so equal ids ⇒ equal bytes ⇒
    equal cove_output. On a re-crawl where most releases are unchanged,
    the expensive JSON-schema validation runs only over the NEW
    payloads; reuse is one hash join against the prior collection's
    (keys → cove_output) map. Returns {"checked": fresh, "reused": n}.
    """
    from kingfisher_process_spark.operators import lifecycle

    if lifecycle.collection_cancelled(store, collection_id):
        return {"checked": 0, "reused": 0}
    table, check_table, fk = _CHECK_TABLES[kind]
    items = store.read(table).where(F.col("collection_id") == collection_id)
    existing = store.read(check_table).select(F.col(fk).alias("id"))
    todo = items.join(existing, "id", "left_anti")

    prior_items = (store.read(table)
                   .where(F.col("collection_id") == prior_collection_id)
                   .select(F.col("id").alias(fk), F.col("data_id").alias("p_did"),
                           F.col("package_data_id").alias("p_pid")))
    prior_map = (
        store.read(check_table).join(prior_items, fk)
        .groupBy("p_did", "p_pid")
        # results for equal keys are identical by purity; min_by pins a
        # deterministic representative anyway
        .agg(F.min_by("cove_output", F.col(fk)).alias("prior_output"))
    )
    # one row per (p_did, p_pid) key, so the left join keeps one row per
    # item: reused items carry the prior output, fresh ones a null
    key = ((F.col("data_id") == F.col("p_did"))
           & F.col("package_data_id").eqNullSafe(F.col("p_pid")))
    resolved = (todo.join(prior_map, key, "left")
                .select(F.col("id").alias("item_id"), "data_id", "package_data_id",
                        "prior_output",
                        F.col("p_did").isNotNull().alias("was_reused")))
    base = store.next_id(check_table)
    keyed, n, pinned = with_sequential_ids(resolved, base, order_by=["item_id"])
    # the reused count comes off the cached ranked keys — no second scan
    n_reused = pinned.where(F.col("was_reused")).count() if n else 0
    if n:
        reused = (keyed.where(F.col("was_reused"))
                  .select("id", "item_id", F.col("prior_output").alias("cove_output")))
        fresh = _validated(store, keyed.where(~F.col("was_reused")),
                           kind == "record", extension_schemas)
        store.append(check_table, reused.unionByName(fresh).select(
            "id", F.col("item_id").alias(fk), "cove_output"))
    store.advance_next_id(check_table, base + n)
    pinned.unpersist()
    return {"checked": n - n_reused, "reused": n_reused}
