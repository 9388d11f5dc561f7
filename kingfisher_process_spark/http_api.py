"""Thin HTTP layer over the API parity functions — the reference's REST
surface (process/views.py:65-331) as a dependency-free WSGI app. Response
shapes mirror the reference endpoint-for-endpoint:

- ``POST /api/collections/``            → ``{"collection_id", "upgraded_collection_id"?, "compiled_collection_id"?}`` (views.py:81-109)
- ``POST /api/collections/{id}/close/`` → 202; body ``{reason?, stats?}``, ``stats.kingfisher_process_expected_files_count`` sets the barrier (views.py:111-147)
- ``DELETE /api/collections/{id}/``     → 202, wipes the dataset (views.py:149-155)
- ``GET /api/collections/{id}/metadata/`` → compiled-collection metadata (views.py:157-234)
- ``GET /api/collections/{id}/notes/?level=…`` → ``{level: [[note, data], …]}`` (views.py:236-281)
- ``GET /api/collections/{id}/tree/``   → root + derived collection rows (views.py:283-331)

Errors map to the reference's statuses: validation → 400, missing id →
404. Catalog reads go through the driver-side store path, so GET tree and
GET notes run no Spark job and GET metadata runs only its compiled-release
aggregate (README "Catalog reads"). The app is a plain WSGI callable — run
it under any WSGI server (``serve()`` wraps stdlib ``wsgiref`` for local
use); tests drive it in-process with synthetic environs, no socket needed.
"""

from __future__ import annotations

import json
import re
from typing import Callable
from urllib.parse import parse_qs

from kingfisher_process_spark import api
from kingfisher_process_spark.operators import lifecycle
from kingfisher_process_spark.store import Store

LEVELS = ["INFO", "WARNING", "ERROR"]

_ROUTES: list[tuple[str, re.Pattern, str]] = [
    ("POST", re.compile(r"^/api/collections/?$"), "create"),
    ("POST", re.compile(r"^/api/collections/(?P<pk>\d+)/close/?$"), "close"),
    ("DELETE", re.compile(r"^/api/collections/(?P<pk>\d+)/?$"), "destroy"),
    ("GET", re.compile(r"^/api/collections/(?P<pk>\d+)/metadata/?$"), "metadata"),
    ("GET", re.compile(r"^/api/collections/(?P<pk>\d+)/notes/?$"), "notes"),
    ("GET", re.compile(r"^/api/collections/(?P<pk>\d+)/tree/?$"), "tree"),
]


class _HttpError(Exception):
    def __init__(self, status: int, message: str):
        self.status = status
        self.message = message


def _json_body(environ) -> dict:
    try:
        length = int(environ.get("CONTENT_LENGTH") or 0)
    except ValueError:
        length = 0
    raw = environ["wsgi.input"].read(length) if length else b""
    if not raw:
        return {}
    try:
        body = json.loads(raw)
    except ValueError as e:
        raise _HttpError(400, f"invalid JSON body: {e}") from e
    if not isinstance(body, dict):
        raise _HttpError(400, "JSON body must be an object")
    return body


def make_app(store: Store) -> Callable:
    """Build the WSGI app bound to one Store."""

    def handle(method: str, name: str, pk: int | None, body: dict,
               query: dict) -> tuple[int, object]:
        if name == "create":
            ids = api.create_collection(
                store, body.get("source_id"), body.get("data_version"),
                sample=bool(body.get("sample", False)),
                upgrade=bool(body.get("upgrade", False)),
                compile_=bool(body.get("compile", False)),
                check=bool(body.get("check", False)),
                note=body.get("note") or None)
            out = {"collection_id": ids["root"]}
            if "upgraded" in ids:
                out["upgraded_collection_id"] = ids["upgraded"]
            if "compiled" in ids:
                out["compiled_collection_id"] = ids["compiled"]
            return 200, out
        if name == "close":
            from kingfisher_process_spark.pipeline import close_and_process

            coll = api._get_collection(store, pk)
            if coll["store_end_at"] is not None:
                raise _HttpError(400, f"Collection {pk} is already closed")
            stats = body.get("stats") or {}
            expected = stats.get("kingfisher_process_expected_files_count")
            # the reference's close publishes collection_closed, which
            # fans out to compiler/checker/finisher (views.py:111-147);
            # synchronously that is: drain loads, run deferred steps,
            # finish the family
            close_and_process(store.spark, store, pk,
                              expected_files_count=expected)
            if body.get("reason"):
                lifecycle.add_note(store, pk, "INFO",
                                   f"Spider close reason: {body['reason']}")
            if stats:
                lifecycle.add_note(store, pk, "INFO", "Spider stats",
                                   data=json.dumps(stats))
            return 202, None
        if name == "destroy":
            api.destroy_collection(store, pk)
            return 202, None
        if name == "metadata":
            coll = api._get_collection(store, pk)
            if coll["transform_type"] != lifecycle.TRANSFORM_COMPILE:
                raise _HttpError(400, "The collection must be a compiled collection")
            return 200, api.metadata(store, pk)
        if name == "notes":
            coll = api._get_collection(store, pk)
            if coll["transform_type"]:
                raise _HttpError(400, "The collection must be a root collection")
            # reference behavior (views.py:268): unknown level values are
            # silently filtered, not rejected — levels = [l for l in
            # LEVELS if l in requested]
            wanted = [lv for lv in LEVELS
                      if lv in set(query.get("level", LEVELS))]
            # the root's tree starts at the root; one catalog read covers
            # the whole family's notes
            family = [c["id"] for c in api.tree(store, pk)]
            notes: dict[str, list] = {lv: [] for lv in wanted}
            for r in lifecycle.collection_notes(store, family):
                if r["code"] in notes:
                    data = r["data"]
                    if isinstance(data, str):
                        try:
                            data = json.loads(data)
                        except ValueError:
                            pass
                    notes[r["code"]].append([r["note"], data])
            return 200, notes
        if name == "tree":
            rows = api.tree(store, pk)
            if not rows:
                raise _HttpError(404, f"Collection {pk} not found")
            return 200, [{k: (v.isoformat() if hasattr(v, "isoformat") else v)
                          for k, v in r.items()} for r in rows]
        raise _HttpError(404, "unknown route")  # pragma: no cover

    def app(environ, start_response):
        method = environ["REQUEST_METHOD"]
        path = environ.get("PATH_INFO", "")
        query = parse_qs(environ.get("QUERY_STRING", ""))
        try:
            for m, pat, name in _ROUTES:
                match = pat.match(path)
                if match and m == method:
                    pk = int(match.groupdict().get("pk") or 0) or None
                    body = _json_body(environ) if m in ("POST",) else {}
                    status, payload = handle(m, name, pk, body, query)
                    break
            else:
                raise _HttpError(404, f"no route for {method} {path}")
        except _HttpError as e:
            status, payload = e.status, {"error": e.message}
        except api.ApiError as e:
            code = 404 if "not found" in str(e) else 400
            status, payload = code, {"error": str(e)}
        reason = {200: "OK", 202: "Accepted", 400: "Bad Request",
                  404: "Not Found"}.get(status, "OK")
        out = b"" if payload is None else json.dumps(payload).encode()
        start_response(f"{status} {reason}",
                       [("Content-Type", "application/json"),
                        ("Content-Length", str(len(out)))])
        return [out]

    return app


def serve(store: Store, host: str = "127.0.0.1", port: int = 8000):
    """Run the app under stdlib wsgiref (local/dev use)."""
    from wsgiref.simple_server import make_server

    with make_server(host, port, make_app(store)) as httpd:
        httpd.serve_forever()
