"""API parity layer — the reference's REST surface (process/views.py:65-331)
as library functions over the Store. Each function mirrors one endpoint's
semantics and validation; the HTTP layer is out of scope (any thin WSGI
wrapper can call these).

Endpoints → functions:
- POST /api/collections/           → create_collection  (views.py:81-109)
- POST /api/collections/{id}/close → close_collection   (views.py:111-147)
- DELETE /api/collections/{id}/    → destroy_collection (views.py:149-155)
- GET  .../metadata                → metadata           (views.py:157-234)
- GET  .../notes                   → notes              (views.py:236-281)
- GET  .../tree                    → tree               (views.py:283-331)

CLI-only commands with no REST endpoint:
- collectionstatus → collection_status (collectionstatus.py:55-118)
- cancelcollection → cancel_collection (cancelcollection.py:11-26)

Catalog reads (the collection lookup, notes, status counts, tree) are
driver-side ``Store.read_rows`` calls, so every endpoint here runs no
Spark job except the work it exists for: ``metadata``'s compiled-release
aggregate, and the load/compile/check/wipe that ``add_files``/``close``/
``destroy`` trigger.
"""

from __future__ import annotations

import re

from kingfisher_process_spark.operators import lifecycle
from kingfisher_process_spark.store import Store

# source_id validator (process/models.py:47-50)
SOURCE_ID_RE = re.compile(r"^([a-z]+_)*[a-z]+$")
# data_version format accepted by the loader CLI (load.py docs)
DATA_VERSION_RE = re.compile(r"^\d{4}-\d{2}-\d{2}( \d{2}:\d{2}:\d{2})?$")


class ApiError(ValueError):
    """Validation failure — maps to HTTP 400 in a web wrapper."""


def create_collection(store: Store, source_id: str, data_version: str, *,
                      sample: bool = False, upgrade: bool = False,
                      compile_: bool = False, check: bool = False,
                      note: str | None = None) -> dict[str, int]:
    """Create a collection (+derived children per requested steps).
    Returns {"root": id, "upgraded": id?, "compiled": id?}."""
    if not SOURCE_ID_RE.match(source_id or ""):
        raise ApiError(
            f"source_id {source_id!r} is invalid: letters and underscores only")
    if not DATA_VERSION_RE.match(data_version or ""):
        raise ApiError(
            f"data_version {data_version!r} is invalid: YYYY-MM-DD[ HH:MM:SS]")
    return lifecycle.create_collections(
        store, source_id, data_version, sample=sample,
        upgrade=upgrade, compile_=compile_, check=check, note=note)


def _find(rows: list[dict], collection_id: int) -> dict:
    for r in rows:
        if r["id"] == collection_id:
            return r
    raise ApiError(f"Collection {collection_id} not found")


def _get_collection(store: Store, collection_id: int) -> dict:
    """The collection's catalog row — a driver-side read, no Spark job."""
    return _find(store.read_rows("collection"), collection_id)


def add_files(store: Store, collection_id: int, paths: list[str],
              urls: dict[str, str] | None = None) -> list[tuple[int, str]]:
    """Register new input files in an OPEN collection (addfiles.py:22-26:
    closed collections reject new files). ``paths`` may mix files and
    directories; directories enumerate recursively, skipping dotfiles
    (S1 — reference process/util.py:30-38). ``urls`` optionally maps a
    path to the source URL Kingfisher Collect downloaded it from — the
    api_loader metadata (api_loader.py:28-49, loader.py:23-39)."""
    from kingfisher_process_spark.pipeline import register_files

    coll = _get_collection(store, collection_id)
    if coll["store_end_at"] is not None:
        raise ApiError(f"Collection {collection_id} is closed; cannot add files")
    if coll["deleted_at"] is not None:
        raise ApiError(f"Collection {collection_id} is deleted")
    # register_files (not bare create_collection_files): files must carry
    # LOAD steps and pin data_type so a later close_and_process actually
    # loads them — the two add-files entry points share ONE semantics
    return register_files(store.spark, store, collection_id, paths, urls=urls)


def close_collection(store: Store, collection_id: int,
                     expected_files_count: int | None = None) -> dict:
    """store_end_at + finish: cached counts, completed_at."""
    coll = _get_collection(store, collection_id)
    if coll["store_end_at"] is not None:
        raise ApiError(f"Collection {collection_id} is already closed")
    lifecycle.close_collection(store, collection_id,
                               expected_files_count=expected_files_count)
    return lifecycle.finish_collection(store, collection_id)


def destroy_collection(store: Store, collection_id: int) -> None:
    """Soft-delete + wipe rows (views.py:149-155 → wiper)."""
    _get_collection(store, collection_id)
    lifecycle.delete_collection(store, collection_id)


def metadata(store: Store, collection_id: int) -> dict:
    _get_collection(store, collection_id)
    return lifecycle.collection_metadata(store, collection_id)


def notes(store: Store, collection_id: int) -> list[dict]:
    """The collection's notes, sorted by id."""
    _get_collection(store, collection_id)
    return lifecycle.collection_notes(store, [collection_id])


def tree(store: Store, collection_id: int) -> list[dict]:
    return lifecycle.collection_tree(store, collection_id)


def _children(rows: list[dict], collection_id: int) -> dict[str, dict]:
    """transform_type → child collection row."""
    return {r["transform_type"]: r for r in rows
            if r["parent_id"] == collection_id}


def _format_phrase(data_type: dict | str | None) -> str | None:
    """The status command's human format line (collectionstatus.py:63-73):
    'release package' / 'a JSON array of release packages' /
    'concatenated JSON, starting with release package'."""
    import json as _json

    if not data_type:
        return None
    if isinstance(data_type, str):
        data_type = _json.loads(data_type)
    phrase = data_type["format"]
    if data_type.get("array"):
        phrase = f"a JSON array of {phrase}s"
    if data_type.get("concatenated"):
        phrase = f"concatenated JSON, starting with {phrase}"
    return phrase


def collection_status(store: Store, collection_id: int) -> dict:
    """The collectionstatus command (collectionstatus.py:55-118) as data:
    root-collection fields, per-collection file/step counts, the
    compilable/completable predicates, ERROR notes, and the compiled
    child's block when one exists. Every read is a driver-side catalog
    read pruned to the root and its compiled child — no Spark job."""
    from collections import Counter

    colls = store.read_rows("collection")
    coll = _find(colls, collection_id)
    if coll["parent_id"] is not None:
        raise ApiError(
            f"Collection {collection_id} is not a root collection. "
            f"Its parent is collection {coll['parent_id']}.")
    children = _children(colls, collection_id)
    upgraded = children.get(lifecycle.TRANSFORM_UPGRADE)
    compiled = (children.get(lifecycle.TRANSFORM_COMPILE)
                or (upgraded and _children(colls, upgraded["id"])
                    .get(lifecycle.TRANSFORM_COMPILE)))
    ids = [collection_id] + ([compiled["id"]] if compiled else [])

    files_by_coll = Counter(
        r["collection_id"] for r in store.read_rows(
            "collection_file", ["collection_id"], collection_ids=ids))
    steps_by_coll = Counter(
        r["collection_id"] for r in store.read_rows(
            "processing_step", ["collection_id"], collection_ids=ids))

    def block(c: dict) -> dict:
        n_files = files_by_coll.get(c["id"], 0)
        n_steps = steps_by_coll.get(c["id"], 0)
        return {
            "store_end_at": c["store_end_at"],
            "completed_at": c["completed_at"],
            "collection_files": n_files,
            "processing_steps": n_steps,
            # finisher.py:164-174: closed, no work left, file count as expected
            "completable": (c["store_end_at"] is not None and n_steps == 0
                            and (c["expected_files_count"] is None
                                 or c["expected_files_count"] == n_files)),
        }

    status = {
        "steps": coll["steps"] or [],
        "format": _format_phrase(coll["data_type"]),
        "expected_files_count": coll["expected_files_count"],
        **block(coll),
        # compiler.py:128-181: compile requested, files present, load drained
        "compilable": ("compile" in (coll["steps"] or [])
                       and files_by_coll.get(collection_id, 0) > 0
                       and steps_by_coll.get(collection_id, 0) == 0),
        "error_notes": [
            {"note": r["note"], "data": r["data"]}
            for r in store.read_rows("collection_note", ["note", "data", "code"],
                                     collection_ids=[collection_id])
            if r["code"] == "ERROR"
        ],
    }
    if compiled:
        status["compiled_collection"] = {
            "id": compiled["id"],
            "compilation_started": compiled["compilation_started"],
            "compilation_enqueued": compiled["compilation_enqueued"],
            **block(compiled),
        }
    return status


def cancel_collection(store: Store, collection_id: int) -> list[int]:
    """cancelcollection (cancelcollection.py:11-26): stamp deleted_at on
    the collection and its upgraded/compiled children so every later
    stage no-ops (the P8 soft-delete filter) — rows are NOT wiped
    (destroy_collection does that). Returns the cancelled ids."""
    rows = store.read_rows("collection")
    cancelled = [_find(rows, collection_id)["id"]]
    for child in _children(rows, collection_id).values():
        cancelled.append(child["id"])
        for grand in _children(rows, child["id"]).values():
            cancelled.append(grand["id"])
    now = lifecycle._now()
    for r in rows:
        if r["id"] in cancelled:
            r["deleted_at"] = now
    store.overwrite_rows("collection", rows)
    return cancelled
