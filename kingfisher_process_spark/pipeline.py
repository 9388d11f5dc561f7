"""End-to-end collection processing — the engine's main entry point.

The reference choreographs load → upgrade → compile → check → finish
through six RabbitMQ worker hops (SURVEY §3.1). Here the same pipeline is
one synchronous Spark stage DAG: each hop becomes a DataFrame job over the
parquet store, and the process-manager machinery (steps, optimistic locks,
requeues — compiler.py:128-181, finisher.py:74-176) reduces to function
call order.

One stage sequence serves every entry point. ``register_files`` records
each file with a LOAD step, ``load_pending`` drains those steps (parse,
store, upgrade mirroring) and ``close_and_process`` closes the collection,
drains what is left, compiles, checks and finishes. The one-shot
``process_collection`` is register + close, as the reference's ``load``
command is (load.py:145-161); ``open_collection`` and the Collect/HTTP
waves reach the same two functions later.
"""

from __future__ import annotations

import json
from decimal import Decimal

import pandas as pd
from pyspark.sql import SparkSession

from kingfisher_process_spark.operators import lifecycle
from kingfisher_process_spark.operators.check import check_collection
from kingfisher_process_spark.operators.compile_record import compile_records
from kingfisher_process_spark.operators.compile_release import compile_collection
from kingfisher_process_spark.operators.upgrade import upgrade_10_11
from kingfisher_process_spark.sources import detect
from kingfisher_process_spark.sources.loader import PARSED_SCHEMA, parse_files, store_items
from kingfisher_process_spark.store import Store
from kingfisher_process_spark.util import canonical_json, md5_hex, walk_files


def _upgrade_parsed(parsed, cfid_map: dict[int, int]):
    """Map the parsed-items DataFrame through the 1.0→1.1 upgrade
    (file_worker.py:330-335); upgrade warnings become WARNING note rows
    (returned as data, not logged — SURVEY §7 watchlist #4)."""
    cols = [f.name for f in PARSED_SCHEMA.fields]

    def gen(batches):
        for pdf in batches:
            rows = []
            for r in pdf.to_dict("records"):
                if r["row_kind"] != "item":
                    continue
                cfid = cfid_map.get(r["collection_file_id"])
                doc = json.loads(r["data"], parse_float=Decimal)
                upgraded, warns = upgrade_10_11(doc)
                cj = canonical_json(upgraded)
                out = dict(r)
                out.update(collection_file_id=cfid, data=cj, hash_md5=md5_hex(cj))
                rows.append(out)
                for wtext in warns:
                    rows.append({
                        "collection_file_id": cfid, "row_kind": "note",
                        "item_index": None, "ocid": None, "release_id": None,
                        "release_date": None, "data": None, "hash_md5": None,
                        "package_data": None, "package_hash": None,
                        "note_code": "WARNING", "note": wtext,
                    })
            yield pd.DataFrame(rows, columns=cols)

    return parsed.mapInPandas(gen, PARSED_SCHEMA)


def process_collection(
    spark: SparkSession,
    store: Store,
    source_id: str,
    data_version: str,
    paths: list[str],
    *,
    upgrade: bool = False,
    compile_: bool = False,
    check: bool = False,
    sample: bool = False,
    note: str | None = None,
    extension_schemas: dict[str, dict] | str | None = None,
) -> dict:
    """Load files into a new collection and run the requested transforms:
    register every file with its LOAD step, then close the collection —
    the reference's ``load`` command (load.py:145-161), with the workers'
    drain → compile → check → finish run synchronously by
    ``close_and_process``.

    ``extension_schemas`` may be a pre-built {url: release-schema-patch}
    dict or a PATH to an offline extension bundle directory
    (merge.load_extension_bundle) — the no-network analogue of the
    reference's compile-time extension fetch (compiler.py:136-140).

    Returns {"collections": {...}, "data_type": {...}, counts per stage}.
    """
    ids = lifecycle.create_collections(
        store, source_id, data_version,
        sample=sample, upgrade=upgrade, compile_=compile_, check=check, note=note,
    )
    result: dict = {"collections": ids}

    try:
        # S1 directory-walk source: paths may mix files and directories;
        # directories enumerate recursively, skipping dotfiles
        # (reference process/util.py:30-38 via commands/load.py:145-154)
        paths = walk_files(paths)
        if not paths:
            raise detect.EmptyFormatError("no input files found")
        data_type = detect.detect_format(paths[0]).as_dict()
    except ValueError as e:
        # invalid/truncated JSON → ERROR note, collection aborted
        # (file_worker.py:172-175 IncompleteJSONError path)
        msg = f"Source {source_id} yields invalid JSON: {e}"
        lifecycle.add_note(store, ids["root"], "ERROR", msg)
        result["error"] = msg
        return result
    except (detect.FormatError, FileNotFoundError) as e:
        lifecycle.add_note(store, ids["root"], "ERROR", str(e))
        result["error"] = str(e)
        return result
    result["data_type"] = data_type
    lifecycle._update_collection(store, ids["root"], data_type=json.dumps(data_type))

    register_files(spark, store, ids["root"], paths)
    out = close_and_process(spark, store, ids["root"],
                            expected_files_count=len(paths),
                            extension_schemas=extension_schemas)
    out.pop("finish")
    if "upgrade" in out["load"]:
        out["upgrade"] = out["load"].pop("upgrade")
    result.update(out)
    return result


def open_collection(spark: SparkSession, store: Store, source_id: str,
                    data_version: str, paths: list[str] | None = None, *,
                    sample: bool = False, upgrade: bool = False,
                    compile_: bool = False, check: bool = False,
                    note: str | None = None,
                    extension_bundle: str | None = None) -> dict:
    """The --keep-open / Collect-integration path (load.py:156-161
    "unless --keep-open"; api_loader): create the collections, register +
    load any initial files, and leave the collection OPEN — more files
    can arrive via ``register_files``/``api.add_files`` +
    ``load_pending``, and ``close_and_process`` later runs the deferred
    compile/check and finishes (the reference's collection_closed →
    compiler/finisher choreography, synchronously).

    ``extension_bundle``: offline schema bundle PATH, recorded in the
    collection's ``options`` so the deferred compile at close uses it
    without the closer having to re-supply it.

    Detection/parse errors on the initial files record an ERROR note and
    return {"error": ...} like the one-shot path (file_worker.py:172-175).
    """
    ids = lifecycle.create_collections(
        store, source_id, data_version,
        sample=sample, upgrade=upgrade, compile_=compile_, check=check,
        note=note)
    if extension_bundle:
        lifecycle._update_collection(
            store, ids["root"],
            options=json.dumps({"extension_bundle": extension_bundle}))
    result: dict = {"collections": ids}
    if paths:
        try:
            register_files(spark, store, ids["root"], paths)
            result["load"] = load_pending(spark, store, ids["root"])
        except ValueError as e:
            msg = f"Source {source_id} yields invalid JSON: {e}"
            lifecycle.add_note(store, ids["root"], "ERROR", msg)
            result["error"] = msg
        except (detect.FormatError, FileNotFoundError) as e:
            lifecycle.add_note(store, ids["root"], "ERROR", str(e))
            result["error"] = str(e)
    return result


def register_files(spark: SparkSession, store: Store, root_id: int,
                   paths: list[str],
                   urls: dict[str, str] | None = None) -> list[tuple[int, str]]:
    """Register files in an open collection WITH their LOAD steps; the
    first registration detects + pins the collection's data_type
    (file_worker.py:216-242 set_data_type runs once per collection)."""
    files = walk_files(paths)
    if not files:
        raise detect.EmptyFormatError("no input files found")
    coll = [r for r in store.read_rows("collection") if r["id"] == root_id][0]
    if coll["store_end_at"] is not None:
        raise ValueError(f"Collection {root_id} is closed; cannot add files")
    if coll["deleted_at"] is not None:
        raise ValueError(f"Collection {root_id} is deleted; cannot add files")
    if coll["data_type"] is None:
        # best-effort early detection (set_data_type runs once per
        # collection, file_worker.py:216-242); an undetectable file is
        # registered anyway and the error surfaces at load time, like the
        # reference's processing-time abort
        try:
            data_type = detect.detect_format(files[0]).as_dict()
            lifecycle._update_collection(store, root_id,
                                         data_type=json.dumps(data_type))
        except (ValueError, detect.FormatError):
            pass
    pairs = lifecycle.create_collection_files(store, root_id, files, urls=urls)
    lifecycle.create_load_steps(store, root_id, pairs)
    return pairs


def _family(store: Store, root_id: int) -> dict:
    """root + derived children rows, keyed by role."""
    rows = store.read_rows("collection")
    by_parent: dict[int, list[dict]] = {}
    for r in rows:
        by_parent.setdefault(r["parent_id"], []).append(r)
    root = next(r for r in rows if r["id"] == root_id)
    out = {"root": root}
    for child in by_parent.get(root_id, []):
        if child["transform_type"] == lifecycle.TRANSFORM_UPGRADE:
            out["upgraded"] = child
        elif child["transform_type"] == lifecycle.TRANSFORM_COMPILE:
            out["compiled"] = child
    if "upgraded" in out:
        for child in by_parent.get(out["upgraded"]["id"], []):
            if child["transform_type"] == lifecycle.TRANSFORM_COMPILE:
                out["compiled"] = child
    return out


def load_pending(spark: SparkSession, store: Store, root_id: int) -> dict:
    """Drain the root collection's LOAD steps: parse + store exactly the
    files whose steps are pending (idempotent across calls — a drained
    file has no step and is never re-loaded), mirroring the rows into the
    upgraded collection when that step is requested."""
    steps = lifecycle.pending_load_steps(store, root_id)
    if not steps:
        return {"rows": 0, "notes": 0, "files": 0}
    fam = _family(store, root_id)
    cf_all = {r["id"]: r["filename"]
              for r in store.read_rows("collection_file", ["id", "filename"],
                                       collection_ids=[root_id])}
    if fam["root"]["data_type"] is None:
        # registration couldn't detect (bad first file): the error
        # surfaces here, reference-style (file_worker abort + ERROR note)
        first = cf_all[steps[0]["collection_file_id"]]
        try:
            data_type = detect.detect_format(first).as_dict()
        except (ValueError, detect.FormatError) as e:
            lifecycle.add_note(store, root_id, "ERROR", str(e))
            return {"rows": 0, "notes": 1, "files": 0, "error": str(e)}
        lifecycle._update_collection(store, root_id,
                                     data_type=json.dumps(data_type))
        fam = _family(store, root_id)
    data_type = json.loads(fam["root"]["data_type"])
    fmt = data_type["format"]
    pairs = [(s["collection_file_id"], cf_all[s["collection_file_id"]])
             for s in steps]

    parsed = parse_files(spark, pairs, data_type).cache()
    result = store_items(store, root_id, fmt, parsed)
    result["files"] = len(pairs)
    if "upgraded" in fam:
        upg_id = fam["upgraded"]["id"]
        if fam["upgraded"]["data_type"] is None:
            lifecycle._update_collection(store, upg_id,
                                         data_type=json.dumps(data_type))
        upg_pairs = lifecycle.create_collection_files(
            store, upg_id, [p for _, p in pairs])
        # map by FILENAME, not position: `pairs` follows step order while
        # create_collection_files returns sorted order — a positional zip
        # would cross-link files registered across multiple waves
        upg_by_path = {p: uc for uc, p in upg_pairs}
        cfid_map = {rc: upg_by_path[p] for rc, p in pairs}
        result["upgrade"] = store_items(
            store, upg_id, fmt, _upgrade_parsed(parsed, cfid_map))
    parsed.unpersist()
    lifecycle.delete_steps(store, [s["id"] for s in steps])
    return result


def close_and_process(spark: SparkSession, store: Store, root_id: int, *,
                      expected_files_count: int | None = None,
                      extension_schemas: dict[str, dict] | str | None = None,
                      ) -> dict:
    """Close an open collection and run its deferred steps — the
    synchronous equivalent of the reference's collection_closed message
    fan-out (views.py:111-147 → compiler.py:128-181 compilable →
    finisher.py:116-176 completable): drain pending LOAD steps, compile
    and/or check per the collection's stored ``steps``, then finish the
    whole family. Idempotent stage writes make a re-close harmless."""
    already = next(r for r in store.read_rows("collection")
                   if r["id"] == root_id)
    if extension_schemas is None and already["options"]:
        # the bundle recorded at open time (open_collection) drives the
        # deferred compile unless the closer supplies an explicit set
        try:
            extension_schemas = (json.loads(already["options"])
                                 .get("extension_bundle"))
        except ValueError:
            pass
    if isinstance(extension_schemas, str):
        from kingfisher_process_spark.operators.merge import load_extension_bundle

        extension_schemas = load_extension_bundle(extension_schemas)
    if already["store_end_at"] is not None:
        raise ValueError(f"Collection {root_id} is already closed")
    if already["deleted_at"] is not None:
        # P8 soft-delete: every stage no-ops on cancelled collections
        # (file_worker.py:86-88 and friends) — close included
        raise ValueError(f"Collection {root_id} is deleted; cannot close")
    result: dict = {"load": load_pending(spark, store, root_id)}
    fam = _family(store, root_id)
    root = fam["root"]
    steps = root["steps"] or []
    n_files = len(store.read_rows("collection_file", ["id"],
                                  collection_ids=[root_id]))
    lifecycle.close_collection(
        store, root_id,
        expected_files_count=(n_files if expected_files_count is None
                              else expected_files_count))
    if "upgraded" in fam:
        lifecycle.close_collection(store, fam["upgraded"]["id"],
                                   expected_files_count=n_files)

    compile_parent = fam.get("upgraded", root)["id"]
    data_type = json.loads(root["data_type"]) if root["data_type"] else None
    if "compile" in steps and "compiled" in fam and data_type:
        comp_id = fam["compiled"]["id"]
        fmt = data_type["format"]
        if fmt == detect.RELEASE_PACKAGE:
            # a drain that loaded every file has bounded releases-per-ocid
            # for the compile parent (loader.store_items' stats job), which
            # lets "auto" skip its skew-detection job; after earlier waves
            # that bound misses their rows
            load = result["load"]
            hint = ((load.get("upgrade") or load).get("max_per_ocid")
                    if load["files"] == n_files else None)
            result["compile"] = compile_collection(
                store, compile_parent, comp_id, max_per_ocid=hint,
                extension_schemas=extension_schemas)
        elif fmt == detect.RECORD_PACKAGE:
            result["compile"] = compile_records(store, compile_parent, comp_id)
        else:
            # compiled-release inputs are already compiled (reference
            # compilable() never fires for this format)
            lifecycle.add_note(store, comp_id, "INFO",
                               "Collection is already compiled; compile step skipped")
    if "check" in steps and data_type:
        kind = ("record" if data_type["format"] == detect.RECORD_PACKAGE
                else "release")
        result["check"] = check_collection(store, compile_parent, kind,
                                           extension_schemas=extension_schemas)
    family_ids = [fam[k]["id"] for k in ("root", "upgraded", "compiled")
                  if k in fam]
    result["finish"] = lifecycle.finish_collections(store, family_ids)
    return result
