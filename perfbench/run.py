"""OCDS collection benchmark: one closed-loop client against the engine.

    python3 perfbench/run.py --workload bulk --seed 1 --seconds 10 --trace 0

Run from the repository root. The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
with ``--trace 0``, the per-layer metrics of a traced run with
``--trace 1``. The exit code is non-zero when any correctness check fails.
See perfbench/README.md for the workloads, metrics and load model.

A run: pin the launch environment, start the Spark session, generate the
seeded inputs (twice, checking the bytes agree), run one warm-up pass,
then timed passes until ``--seconds`` have elapsed. Every pass uses a
fresh store directory that is removed afterwards; all scratch state lives
under ``.perfbench_work/`` in the current directory.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import io
import json
import os
import random
import shutil
import statistics
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
# the benchmark's own modules, then the engine from the checkout root
sys.path[:0] = [str(HERE), str(HERE.parent)]

import gen  # noqa: E402

DATA_VERSION = "2024-01-01 00:00:00"
DRIVER_MEM = "3g"
# the spans a client opens itself to group calls; every other span is a
# program layer
CLIENT_SPANS = ("pass", "poll", "dashboard", "wave")
TABLES = ("data", "package_data", "release", "compiled_release", "release_check",
          "collection", "collection_file", "collection_note", "processing_step")

# Analyst dashboard, modelled on docs/querying-data: five queries over the
# store's SQL views, for one compiled collection ({cid}).
_COMPILED = ("compiled_release c JOIN data d ON c.data_id = d.id "
             "WHERE c.collection_id = {cid}")
DASHBOARD = (
    ("top_buyers",
     "SELECT get_json_object(d.data, '$.buyer.name') AS buyer, count(*) AS n "
     f"FROM {_COMPILED} GROUP BY 1 ORDER BY n DESC, buyer LIMIT 10"),
    ("value_by_currency",
     "SELECT get_json_object(d.data, '$.tender.value.currency') AS currency, "
     "sum(CAST(get_json_object(d.data, '$.tender.value.amount') AS BIGINT)) "
     f"FROM {_COMPILED} GROUP BY 1 ORDER BY 1"),
    ("ocid_lookup",
     "SELECT c.ocid, get_json_object(d.data, '$.date'), "
     "CAST(get_json_object(d.data, '$.tender.value.amount') AS BIGINT), "
     "get_json_object(d.data, '$.tender.status') "
     f"FROM {_COMPILED} AND c.ocid IN ({{ocids}}) ORDER BY 1"),
    ("releases_by_year",
     "SELECT substr(release_date, 1, 4) AS year, count(*) FROM compiled_release "
     "WHERE collection_id = {cid} GROUP BY 1 ORDER BY 1"),
    ("count_per_collection",
     "SELECT collection_id, count(*) FROM (SELECT collection_id FROM release "
     "UNION ALL SELECT collection_id FROM compiled_release) GROUP BY 1 ORDER BY 1"),
)


# -- workloads --------------------------------------------------------------

class Workload:
    """Inputs + one pass of the closed-loop client for one workload."""

    name = ""

    def make_inputs(self, out_dir: str, seed: int) -> dict:
        raise NotImplementedError

    def run_pass(self, ctx: "Context", inputs: dict) -> dict:
        raise NotImplementedError


class Bulk(Workload):
    """One-shot ``process_collection(compile_=True)`` of a whole crawl, then
    a status poll and a dashboard refresh."""

    name = "bulk"

    def make_inputs(self, out_dir, seed):
        # above the store's 20k-row driver threshold, with hot OCIDs above
        # the two-phase merge batch (500 releases)
        return gen.release_packages(os.path.join(out_dir, "bulk"), seed, 20_400, 8,
                                    n_hot=2, hot_size=(520, 700), prefix="bulk")

    def run_pass(self, ctx, inp):
        store, client = ctx.fresh_store()
        out = {"samples": {"poll": [], "dashboard": [], "wave": []}}
        with ctx.tr.span("pass") as root:
            t0 = time.perf_counter()
            res = ctx.op(lambda: ctx.pipeline.process_collection(
                ctx.spark, store, "bench_bulk", DATA_VERSION, inp["paths"], compile_=True))
            out["seconds"] = time.perf_counter() - t0
            ids = res["collections"]
            dt, _ = client.poll(ids["root"], ids["compiled"])
            out["samples"]["poll"].append(dt)
            dt, answers = client.dashboard(ids["compiled"], inp["lookup"])
            out["samples"]["dashboard"].append(dt)
        out.update(root=root, releases=inp["n_releases"], input_bytes=inp["input_bytes"],
                   store=ctx.store_sizes(store))

        n_ocids = len(inp["last"])
        ctx.expect(res["load"]["rows"] == inp["n_releases"], "load stored every release",
                   res["load"], inp["n_releases"])
        ctx.expect(res["load"]["max_per_ocid"] == inp["max_per_ocid"],
                   "load bounded releases per OCID", res["load"], inp["max_per_ocid"])
        ctx.expect(res["compile"]["compiled"] == n_ocids, "compiled count = distinct OCIDs",
                   res["compile"], n_ocids)
        ctx.expect_compiled(store, ids["compiled"], inp)
        ctx.expect_dashboard(answers, inp, {ids["root"]: inp["n_releases"],
                                            ids["compiled"]: n_ocids})
        ctx.drop_store(store)
        return out


class Crawl(Workload):
    """The Kingfisher Collect integration for an OCDS 1.0 publisher, over
    HTTP (the WSGI app, in-process): create a collection asking for
    upgrade, compile and check; waves of release-package files, each
    followed by a status poll; close (deferred compile + check + finish);
    metadata; one dashboard refresh."""

    name = "crawl"
    waves = 1
    files_per_wave = 2

    def make_inputs(self, out_dir, seed):
        inp = gen.release_packages(os.path.join(out_dir, "crawl"), seed, 240,
                                   self.waves * self.files_per_wave, per_ocid_cap=8,
                                   ocds10=True, prefix="crawl")
        k = self.files_per_wave
        inp["waves"] = [inp["paths"][i:i + k] for i in range(0, len(inp["paths"]), k)]
        inp["per_wave"] = [sum(inp["per_file"][i:i + k])
                           for i in range(0, len(inp["paths"]), k)]
        return inp

    def run_pass(self, ctx, inp):
        store, client = ctx.fresh_store()
        out = {"samples": {"poll": [], "dashboard": [], "wave": []}}
        waves = []
        with ctx.tr.span("pass") as root:
            t0 = time.perf_counter()
            created = client.http("POST", "/api/collections/", {
                "source_id": "bench_crawl", "data_version": DATA_VERSION,
                "upgrade": True, "compile": True, "check": True})
            cid = created["collection_id"]
            upg, comp = created["upgraded_collection_id"], created["compiled_collection_id"]
            for paths in inp["waves"]:
                dt, res = client.wave(cid, paths)
                out["samples"]["wave"].append(dt)
                waves.append(res)
                dt, _ = client.poll(cid)
                out["samples"]["poll"].append(dt)
            client.http("POST", f"/api/collections/{cid}/close/", {
                "reason": "finished",
                "stats": {"kingfisher_process_expected_files_count": len(inp["paths"])}},
                ok=(202,))
            out["seconds"] = time.perf_counter() - t0
            meta = client.http("GET", f"/api/collections/{comp}/metadata/")
            dt, answers = client.dashboard(comp, inp["lookup"])
            out["samples"]["dashboard"].append(dt)
        out.update(root=root, releases=inp["n_releases"], input_bytes=inp["input_bytes"],
                   store=ctx.store_sizes(store))

        for res, n in zip(waves, inp["per_wave"]):
            ctx.expect(res["rows"] == n and res.get("upgrade", {}).get("rows") == n,
                       "wave stored and upgraded exactly its items", res, n)
        n, n_ocids = inp["n_releases"], len(inp["last"])
        ctx.expect(ctx.count_rows(store, "release_check") == n,
                   "release_check rows = releases checked", n)
        ctx.expect_compiled(store, comp, inp)
        ctx.expect_parties(store, upg)
        dates = [f["date"] for f in inp["last"].values()]
        ctx.expect(meta is not None and meta.get("published_from") == min(dates)
                   and meta.get("published_to") == max(dates)
                   and meta.get("ocid_prefix") == "ocds-crawl-",
                   "metadata matches the compiled releases", meta)
        ctx.expect_dashboard(answers, inp, {cid: n, upg: n, comp: n_ocids})
        ctx.drop_store(store)
        return out


WORKLOADS = {w.name: w for w in (Bulk(), Crawl())}


# -- the client ---------------------------------------------------------------

class NoTrace:
    """Stand-in tracer for untraced passes: spans cost one no-op context."""

    _null = contextlib.nullcontext()

    def span(self, name, **attrs):
        return self._null


class Client:
    """One caller: WSGI requests, API calls, polls and dashboard refreshes."""

    def __init__(self, ctx: "Context", store):
        self.ctx = ctx
        self.store = store
        self.app = ctx.http_api.make_app(store)

    def http(self, method: str, path: str, body=None, ok=(200,)):
        raw = json.dumps(body).encode() if body is not None else b""
        environ = {"REQUEST_METHOD": method, "PATH_INFO": path, "QUERY_STRING": "",
                   "CONTENT_LENGTH": str(len(raw)), "wsgi.input": io.BytesIO(raw)}
        status = []
        route = "create" if path.rstrip("/").endswith("collections") else \
            path.rstrip("/").rsplit("/", 1)[-1]

        def call():
            with self.ctx.tr.span(f"http_api.{route}"):
                chunks = self.app(environ, lambda s, h: status.append(int(s.split()[0])))
                text = b"".join(chunks).decode()
            if status[0] not in ok:
                raise RuntimeError(f"{method} {path} -> {status[0]}: {text}")
            return json.loads(text) if text else None

        return self.ctx.op(call)

    def poll(self, root: int, compiled: int | None = None) -> tuple[float, dict]:
        """One status poll: tree + notes (+ metadata of the compiled
        collection) + collection_status."""
        ctx = self.ctx
        with ctx.tr.span("poll"):
            t0 = time.perf_counter()
            self.http("GET", f"/api/collections/{root}/tree/")
            self.http("GET", f"/api/collections/{root}/notes/")
            if compiled is not None:
                self.http("GET", f"/api/collections/{compiled}/metadata/")
            status = ctx.op(lambda: ctx.api.collection_status(self.store, root))
            return time.perf_counter() - t0, status

    def dashboard(self, compiled: int, lookup: list[str]) -> tuple[float, dict]:
        """One refresh: register the store's views, run every query."""
        ctx = self.ctx
        ocids = ", ".join(f"'{o}'" for o in lookup)
        answers = {}
        with ctx.tr.span("dashboard"):
            t0 = time.perf_counter()
            ctx.op(lambda: self.store.register_views())
            for name, sql in DASHBOARD:
                text = sql.format(cid=compiled, ocids=ocids)
                with ctx.tr.span(f"sql.{name}"):
                    rows = ctx.op(lambda: ctx.spark.sql(text).collect())
                answers[name] = [list(r) for r in rows]
            return time.perf_counter() - t0, answers

    def wave(self, root: int, paths: list[str]) -> tuple[float, dict]:
        """One wave: register files, then drain their LOAD steps."""
        ctx = self.ctx
        with ctx.tr.span("wave"):
            t0 = time.perf_counter()
            ctx.op(lambda: ctx.api.add_files(self.store, root, paths))
            res = ctx.op(lambda: ctx.pipeline.load_pending(ctx.spark, self.store, root))
            return time.perf_counter() - t0, res


# -- run context ----------------------------------------------------------------

class CheckFailed(Exception):
    pass


class Context:
    def __init__(self, workload: Workload, seed: int, work: Path, trace: bool):
        self.workload = workload
        self.seed = seed
        self.work = work
        self.trace = trace
        self.tr = NoTrace()
        self.attempted = 0
        self.failed = 0
        self._stores = 0

    # operations and checks
    def op(self, fn):
        self.attempted += 1
        try:
            return fn()
        except Exception:
            self.failed += 1
            raise

    def expect(self, cond: bool, what: str, *detail) -> None:
        self.attempted += 1
        if not cond:
            self.failed += 1
            raise CheckFailed(f"check failed: {what}: {detail!r}"[:2000])

    def expect_dashboard(self, answers: dict, inputs: dict, counts: dict) -> None:
        want = gen.dashboard_expectations(inputs["last"], counts, inputs["lookup"])
        for name, _ in DASHBOARD:
            self.expect(answers.get(name) == want[name], f"dashboard {name}",
                        answers.get(name), want[name])

    def expect_compiled(self, store, compiled_id: int, inputs: dict) -> None:
        ocids = self.column(store, "compiled_release", "ocid", compiled_id)
        self.expect(len(ocids) == len(set(ocids)) == len(inputs["last"]),
                    "stored compiled releases = distinct OCIDs", len(ocids), len(inputs["last"]))

    def expect_parties(self, store, upgraded_id: int) -> None:
        """A seeded sample of upgraded releases: 1.0 organisations moved
        into ``parties``, references left behind."""
        data_ids = sorted(self.column(store, "release", "data_id", upgraded_id))
        sample = random.Random(self.seed).sample(data_ids, min(32, len(data_ids)))
        for doc in self.payloads(store, sample):
            roles = {r for p in doc.get("parties", ()) for r in p.get("roles", ())}
            self.expect({"buyer", "tenderer", "supplier"} <= roles
                        and set(doc["buyer"]) == {"id", "name"},
                        "upgraded release carries parties", doc.get("id"), sorted(roles))

    # stores
    def fresh_store(self):
        self._stores += 1
        path = self.work / "stores" / f"s{self._stores}"
        shutil.rmtree(path, ignore_errors=True)
        store = self.Store(self.spark, str(path))
        return store, Client(self, store)

    @staticmethod
    def drop_store(store) -> None:
        shutil.rmtree(store.base_dir, ignore_errors=True)

    @staticmethod
    def _parquet_files(path: str) -> list[str]:
        out = []
        for d, _, files in os.walk(path):
            out.extend(os.path.join(d, f) for f in files
                       if not f.startswith(("_", ".")) and f.endswith(".parquet"))
        return sorted(out)

    def count_rows(self, store, table: str) -> int:
        import pyarrow.parquet as pq

        return sum(pq.ParquetFile(f).metadata.num_rows
                   for f in self._parquet_files(store.path(table)))

    def column(self, store, table: str, col: str, collection_id: int) -> list:
        import pyarrow.parquet as pq

        part = os.path.join(store.path(table), f"collection_id={collection_id}")
        return [v for f in self._parquet_files(part)
                for v in pq.read_table(f, columns=[col]).column(col).to_pylist()]

    def payloads(self, store, data_ids: list[int]) -> list[dict]:
        import pyarrow.dataset as ds

        table = ds.dataset(store.path("data"), format="parquet").to_table(
            columns=["data"], filter=ds.field("id").isin(data_ids))
        return [json.loads(t) for t in table.column("data").to_pylist()]

    def store_sizes(self, store) -> dict:
        sizes = {}
        for t in TABLES:
            files = self._parquet_files(store.path(t))
            sizes[t] = (len(files), sum(os.path.getsize(f) for f in files))
        total = 0
        for d, _, files in os.walk(store.base_dir):
            total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
        sizes["total_bytes"] = total
        return sizes


# -- launch environment and session ------------------------------------------------

def pin_environment(work: Path) -> dict:
    """Pin what the engine reads from the environment at launch."""
    cpus = len(os.sched_getaffinity(0))
    root = str(HERE.parent)
    pins = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        # below host RAM: the engine's default (16g) exceeds small hosts
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        # Python workers import the engine from this checkout
        "PYTHONPATH": os.pathsep.join(
            [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]),
    }
    os.environ.update(pins)
    os.makedirs(pins["SPARK_LOCAL_DIRS"], exist_ok=True)
    return pins


def start_session(ctx: Context, cpus: int):
    from kingfisher_process_spark import api, http_api, pipeline
    from kingfisher_process_spark.operators import lifecycle
    from kingfisher_process_spark.session import get_spark
    from kingfisher_process_spark.store import Store

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(ctx.work / "warehouse"),
    }
    if ctx.trace:
        os.makedirs(ctx.work / "eventlog", exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": (ctx.work / "eventlog").as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    ctx.spark = get_spark("perfbench", cpus=cpus, extra_conf=conf)
    ctx.spark.sparkContext.setLogLevel("ERROR")
    ctx.api, ctx.http_api, ctx.pipeline = api, http_api, pipeline
    ctx.lifecycle, ctx.Store = lifecycle, Store


def stop_session(ctx: Context) -> None:
    spark = getattr(ctx, "spark", None)
    if spark is None:
        return
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            # the JVM exits when its stdin closes; wait for it
            proc.stdin.close()
            proc.wait(timeout=60)
    ctx.spark = None


def generate(ctx: Context) -> dict:
    """Inputs twice from the same seed; the bytes must agree."""
    digests, inputs = [], None
    for copy in ("a", "b"):
        out = ctx.work / "inputs" / copy
        inp = ctx.workload.make_inputs(str(out), ctx.seed)
        digests.append(_tree_digest(out))
        if inputs is None:
            inputs = inp
        else:
            shutil.rmtree(out)
    ctx.expect(digests[0] == digests[1], "same seed gives byte-identical inputs", digests)
    # the seeded sample of compiled releases the dashboard looks up
    keys = sorted(inputs["last"])
    lookup = random.Random(f"lookup:{ctx.seed}").sample(keys, min(8, len(keys)))
    inputs["lookup"] = sorted(set(lookup + inputs["hot"]))
    return inputs


def _tree_digest(path: Path) -> str:
    h = hashlib.sha256()
    for d, dirs, files in sorted(os.walk(path)):
        dirs.sort()
        for f in sorted(files):
            h.update(f.encode())
            with open(os.path.join(d, f), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


# -- tracing -------------------------------------------------------------------

def install_tracing(ctx: Context):
    """Wrap the engine's public functions (module / class attributes) for
    one traced pass. Returns the tracer; ``uninstall`` restores them."""
    from spans import Tracer

    tr = Tracer(ctx.spark)
    p, lc, api, Store = ctx.pipeline, ctx.lifecycle, ctx.api, ctx.Store

    for fn in ("process_collection", "load_pending", "close_and_process", "register_files"):
        tr.wrap(p, fn, f"pipeline.{fn}")
    tr.wrap(p, "parse_files", "sources.parse_files")

    upgraded = set()

    def upgrade_parsed(*args, _orig=p._upgrade_parsed):
        df = _orig(*args)
        upgraded.add(id(df))
        return df

    tr.patch(p, "_upgrade_parsed", upgrade_parsed)

    def store_items(store, collection_id, fmt, parsed, _orig=p.store_items):
        # the upgraded collection's store_items call is where the (lazy)
        # 1.0 -> 1.1 upgrade executes
        name = "operators.upgrade" if id(parsed) in upgraded else "sources.store_items"
        before = ctx.count_rows(store, "data")
        with tr.span(name) as s:
            res = _orig(store, collection_id, fmt, parsed)
        s.attrs.update(items=res["rows"], notes=res["notes"],
                       max_per_ocid=res["max_per_ocid"],
                       data_rows=ctx.count_rows(store, "data") - before)
        return res

    tr.patch(p, "store_items", store_items)

    def compiled(s, args, res):
        s.attrs.update(compiled=res.get("compiled", 0), notes=res.get("notes", 0))

    tr.wrap(p, "compile_collection", "operators.compile_release", compiled)
    tr.wrap(p, "check_collection", "operators.check",
            lambda s, args, n: s.attrs.update(rows=n))
    for fn in ("create_collections", "create_collection_files", "create_load_steps",
               "delete_steps", "close_collection", "finish_collections"):
        tr.wrap(lc, fn, f"operators.lifecycle.{fn}")
    for fn in ("read_rows", "overwrite_rows", "append_rows", "register_views"):
        tr.wrap(Store, fn, f"store.{fn}")
    for fn in ("collection_status", "add_files"):
        tr.wrap(api, fn, f"api.{fn}")
    return tr


# -- metrics ---------------------------------------------------------------------

def _median(values, default=0.0):
    return statistics.median(values) if values else default


def tail(samples: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest of p90/p75/p50 with at least ten
    samples beyond it; the maximum (percentile 100) when there are fewer
    than eleven samples."""
    s = sorted(samples)
    for pct in (90, 75, 50):
        k = int(len(s) * pct / 100)
        if len(s) - k - 1 >= 10:
            return s[k], float(pct)
    return (s[-1], 100.0) if s else (0.0, 100.0)


def end_to_end(ctx: Context, setup_s: float, passes: list[dict]) -> dict:
    def sample(kind):
        return _median([x for p in passes for x in p["samples"][kind]])

    values = {
        "setup_s": (setup_s, "s"),
        "releases_per_s": (_median([p["releases"] / p["seconds"] for p in passes]), "1/s"),
        "dashboard_p50_s": (sample("dashboard"), "s"),
        "poll_p50_s": (sample("poll"), "s"),
        "store_bytes_per_input_byte": (
            _median([p["store"]["total_bytes"] / p["input_bytes"] for p in passes]), "ratio"),
        "ok_ops_ratio": ((ctx.attempted - ctx.failed) / max(ctx.attempted, 1), "ratio"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in values.items()}


def pass_layers(p: dict) -> dict:
    """Per-layer numbers of one traced pass, from its span tree."""
    root = p["root"]
    spans = list(root.walk())

    def named(name):
        return [s for s in spans if s.name == name]

    def secs(name):
        return sum(s.seconds for s in named(name))

    def total(name, key):
        return sum(s.total(key) for s in named(name))

    def attr(name, key):
        return sum(s.attrs.get(key, 0) for s in named(name))

    m = {
        "pass.wall_s": root.seconds,
        "pass.layer_coverage": sum(s.self_seconds() for s in spans
                                   if s.name not in CLIENT_SPANS) / root.seconds,
    }
    pipe = [s for s in spans if s.name.startswith("pipeline.")]
    m["pipeline.self_s"] = sum(s.self_seconds() for s in pipe)
    for fn in ("process_collection", "load_pending", "close_and_process", "register_files"):
        m[f"pipeline.{fn}.self_s"] = sum(s.self_seconds() for s in named(f"pipeline.{fn}"))
    m["sources.parse_files.s"] = secs("sources.parse_files")
    si = "sources.store_items"
    m.update({f"{si}.s": secs(si), f"{si}.calls": len(named(si)),
              f"{si}.items": attr(si, "items"), f"{si}.jobs": total(si, "jobs"),
              f"{si}.tasks": total(si, "tasks")})
    loads = named(si) + named("operators.upgrade")
    m["sources.payload_dedup_ratio"] = (sum(s.attrs["data_rows"] for s in loads)
                                        / max(1, sum(s.attrs["items"] for s in loads)))
    m["sources.max_per_ocid"] = max([s.attrs["max_per_ocid"] for s in named(si)] or [0])
    up = "operators.upgrade"
    m.update({f"{up}.s": secs(up), f"{up}.items": attr(up, "items"),
              f"{up}.warnings": attr(up, "notes")})
    cr = "operators.compile_release"
    m.update({f"{cr}.s": secs(cr), f"{cr}.compiled": attr(cr, "compiled"),
              f"{cr}.jobs": total(cr, "jobs"), f"{cr}.tasks": total(cr, "tasks"),
              f"{cr}.shuffle_write_bytes": total(cr, "shuffle_write_bytes")})
    ck = "operators.check"
    m.update({f"{ck}.s": secs(ck), f"{ck}.rows": attr(ck, "rows"),
              f"{ck}.tasks": total(ck, "tasks"),
              f"{ck}.executor_run_s": total(ck, "executor_run_ms") / 1000})
    lc = [s for s in spans if s.name.startswith("operators.lifecycle.")]
    m.update({"operators.lifecycle.s": sum(s.seconds for s in lc),
              "operators.lifecycle.calls": len(lc),
              "operators.lifecycle.jobs": sum(s.total("jobs") for s in lc)})
    for fn in ("read_rows", "overwrite_rows", "append_rows"):
        m[f"store.{fn}.s"] = secs(f"store.{fn}")
        m[f"store.{fn}.calls"] = len(named(f"store.{fn}"))
    m["store.register_views.s"] = secs("store.register_views")
    for t in TABLES:
        m[f"store.files.{t}"], m[f"store.bytes.{t}"] = p["store"][t]
    for route in ("create", "close", "metadata", "notes", "tree"):
        m[f"http_api.{route}.s"] = secs(f"http_api.{route}")
    for fn in ("collection_status", "add_files"):
        m[f"api.{fn}.s"] = secs(f"api.{fn}")
    for name, _ in DASHBOARD:
        m[f"sql.{name}.s"] = secs(f"sql.{name}")
        m[f"sql.{name}.jobs"] = total(f"sql.{name}", "jobs")
    for key in ("jobs", "stages", "tasks", "failed_tasks", "shuffle_write_bytes", "spill_bytes"):
        m[f"spark.{key}"] = root.total(key)
    m["spark.executor_run_s"] = root.total("executor_run_ms") / 1000
    m["spark.gc_s"] = root.total("gc_ms") / 1000
    return m


def per_layer(session: dict, passes: list[dict]) -> dict:
    traced = [p for p in passes if p.get("traced")]
    plain = [p for p in passes if not p.get("traced")]
    layers = [pass_layers(p) for p in traced]
    m = {k: _median([x[k] for x in layers]) for k in layers[0]}
    m.update(session)
    rps_t = _median([p["releases"] / p["seconds"] for p in traced])
    rps_u = _median([p["releases"] / p["seconds"] for p in plain])
    m.update({"trace.releases_per_s_traced": rps_t, "trace.releases_per_s_untraced": rps_u,
              "trace.overhead_ratio": rps_u / rps_t if rps_t else 0.0})
    for kind in ("poll", "dashboard", "wave"):
        samples = [x for p in passes for x in p["samples"][kind]]
        value, pct = tail(samples)
        m.update({f"{kind}.samples": len(samples), f"{kind}.p50_s": _median(samples),
                  f"{kind}.tail_s": value, f"{kind}.tail_pct": pct})
    units = {}
    for k in m:
        if k.endswith("_s") or k.endswith(".s"):
            units[k] = "s"
        elif k.endswith("bytes") or k.startswith("store.bytes."):
            units[k] = "bytes"
        elif k.endswith(("ratio", "coverage")):
            units[k] = "ratio"
        elif k.endswith("per_s_traced") or k.endswith("per_s_untraced"):
            units[k] = "1/s"
        elif k.endswith("_pct"):
            units[k] = "%"
        else:
            units[k] = "count"
    return {k: {"value": v, "unit": units[k]} for k, v in sorted(m.items())}


# -- main -------------------------------------------------------------------------

def run(args) -> tuple[Context, dict]:
    workload = WORKLOADS[args.workload]
    work = Path.cwd() / ".perfbench_work" / f"{workload.name}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    ctx = Context(workload, args.seed, work, bool(args.trace))
    pins = pin_environment(work)
    session: dict = {}
    try:
        try:
            t0 = time.perf_counter()
            start_session(ctx, int(pins["SPARK_GRAFT_CPUS"]))
            session["session.start_s"] = time.perf_counter() - t0

            t1 = time.perf_counter()
            inputs = generate(ctx)
            session["session.gen_s"] = time.perf_counter() - t1

            t2 = time.perf_counter()
            workload.run_pass(ctx, inputs)
            session["session.warmup_s"] = time.perf_counter() - t2
            setup_s = time.perf_counter() - t0

            passes, tracer = [], None
            t_measure = time.perf_counter()
            while True:
                # a traced run alternates traced and untraced passes, so
                # the tracing overhead is measured in the same process; the
                # traced pass comes first, at the position an untraced run
                # times, so its layers explain the end-to-end numbers
                traced = ctx.trace and len(passes) % 2 == 0
                if traced:
                    tracer = ctx.tr = install_tracing(ctx)
                try:
                    p = workload.run_pass(ctx, inputs)
                finally:
                    if traced:
                        tracer.uninstall()
                        ctx.tr = NoTrace()
                p["traced"] = traced
                passes.append(p)
                done = time.perf_counter() - t_measure >= args.seconds
                if done and (not ctx.trace or len(passes) >= 2):
                    break
        finally:
            stop_session(ctx)
        if ctx.trace:
            tracer.attach_event_log(str(work / "eventlog"))
            tracer.write(str(Path.cwd() / ".perfbench_out"
                             / f"spans-{workload.name}-{args.seed}.jsonl"))
            metrics = per_layer(session, passes)
        else:
            metrics = end_to_end(ctx, setup_s, passes)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            work.parent.rmdir()  # only when no other run is using it
    return ctx, metrics


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    try:
        ctx, metrics = run(args)
    except CheckFailed as e:
        print(e, file=sys.stderr)
        return 1
    # any failed operation or check raises, so a finished run is correct
    print(json.dumps({"correct": ctx.failed == 0, "attempted": ctx.attempted,
                      "failed": ctx.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
