"""Seeded OCDS input generator for the collection benchmark.

Every input is a pure function of (seed, sizes): the same arguments give
byte-identical files. Alongside the files the generator returns the
answers the benchmark checks the engine against — the compiled fields each
OCID must end up with (its last release by date), the dashboard query
results those imply, and per-file item counts. The engine sees only the
files.

Two input shapes:

- ``release_packages``: OCDS 1.1 release packages. Releases per OCID are
  Pareto-distributed (capped), plus ``n_hot`` OCIDs carrying hundreds of
  releases each; an OCID's releases are scattered over all files.
- ``release_packages(..., ocds10=True)``: OCDS 1.0 release packages whose
  buyer, tenderers and award suppliers are full organisation objects, so
  the 1.0 → 1.1 upgrade has to move them into ``parties``.
"""

from __future__ import annotations

import json
import os
import random
from datetime import datetime, timedelta

CURRENCIES = ("EUR", "USD", "GBP", "MXN", "COP")
STATUSES = ("planning", "active", "complete", "cancelled")
TAGS = ("planning", "tender", "tenderAmendment", "award", "contract")
EPOCH = datetime(2012, 1, 1)
# release dates stay inside [2012, 2022): before "today" for every run, so
# the metadata endpoint's date filter keeps all of them
SPAN_SECONDS = 10 * 365 * 86400


def _dump(obj) -> str:
    return json.dumps(obj, separators=(",", ":"), ensure_ascii=False)


def _counts(rng: random.Random, n_items: int, cap: int, alpha: float = 1.6) -> list[int]:
    """Pareto-distributed items per OCID, summing to exactly n_items."""
    out, total = [], 0
    while total < n_items:
        k = min(cap, int(rng.paretovariate(alpha)), n_items - total)
        out.append(k)
        total += k
    return out


def _dates(rng: random.Random, k: int) -> list[str]:
    """k distinct, sorted release dates (distinct so last-by-date is unique)."""
    secs = sorted(rng.sample(range(SPAN_SECONDS // 60), k))
    return [(EPOCH + timedelta(minutes=s)).strftime("%Y-%m-%dT%H:%M:%SZ") for s in secs]


def _org(rng: random.Random, prefix: str, n: int) -> tuple[str, str]:
    i = rng.randrange(n)
    return f"{prefix}-{i:04d}", f"{prefix.title()} Organisation {i:04d}"


def _release(rng: random.Random, ocid: str, k: int, date: str, buyer: tuple[str, str],
             ocds10: bool) -> dict:
    amount = rng.randrange(1_000, 5_000_000)
    currency = rng.choice(CURRENCIES)
    tag = rng.choice(TAGS)
    release = {"ocid": ocid, "id": f"{ocid}-{k:05d}", "date": date, "tag": [tag]}
    tender = {
        "id": f"{ocid}-tender",
        "title": f"Lot {rng.randrange(1000)}",
        "status": rng.choice(STATUSES),
        "value": {"amount": amount, "currency": currency},
    }
    if ocds10:
        # 1.0 organisation objects (identifier + name), moved into parties
        # by the upgrade
        def org(ident: tuple[str, str]) -> dict:
            return {"identifier": {"scheme": "XI-BENCH", "id": ident[0]}, "name": ident[1]}

        tenderers = [_org(rng, "tenderer", 400) for _ in range(rng.randrange(1, 4))]
        release["buyer"] = org(buyer)
        tender["tenderers"] = [org(t) for t in tenderers]
        release["tender"] = tender
        release["awards"] = [{
            "id": f"{ocid}-award-1",
            "status": "active",
            "value": {"amount": amount, "currency": currency},
            "suppliers": [org(tenderers[0])],
        }]
    else:
        release["buyer"] = {"id": buyer[0], "name": buyer[1]}
        release["parties"] = [{"id": buyer[0], "name": buyer[1], "roles": ["buyer"]}]
        release["tender"] = tender
    return release


def _last_fields(release: dict) -> dict:
    """What the compiled release must carry: the last release's values."""
    return {
        "date": release["date"],
        "buyer": release["buyer"]["name"],
        "amount": release["tender"]["value"]["amount"],
        "currency": release["tender"]["value"]["currency"],
        "status": release["tender"]["status"],
    }


def _package_meta(ocds10: bool) -> dict:
    meta = {
        "uri": "https://bench.example/packages",
        "publishedDate": "2022-01-01T00:00:00Z",
        "publisher": {"name": "Benchmark Publisher"},
        "license": "https://creativecommons.org/licenses/by/4.0/",
        "publicationPolicy": "https://bench.example/policy",
    }
    if not ocds10:
        meta["version"] = "1.1"
    return meta


def _ocid(prefix: str, i: int) -> str:
    return f"ocds-{prefix}-{i:07d}"


def release_packages(out_dir: str, seed: int, n_releases: int, n_files: int, *,
                     n_hot: int = 0, hot_size: tuple[int, int] = (0, 0),
                     per_ocid_cap: int = 40, ocds10: bool = False,
                     prefix: str = "bulk1") -> dict:
    """Write ``n_files`` release packages holding ``n_releases`` releases."""
    rng = random.Random(f"releases:{seed}:{n_releases}:{ocds10}:{prefix}")
    hot = [rng.randrange(*hot_size) for _ in range(n_hot)]
    counts = hot + _counts(rng, n_releases - sum(hot), per_ocid_cap)
    releases, last = [], {}
    for i, k in enumerate(counts):
        ocid = _ocid(prefix, i)
        buyer = _org(rng, "buyer", 60)
        group = [_release(rng, ocid, j, d, buyer, ocds10)
                 for j, d in enumerate(_dates(rng, k))]
        last[ocid] = _last_fields(group[-1])
        releases.extend(group)
    rng.shuffle(releases)
    meta = _package_meta(ocds10)
    os.makedirs(out_dir, exist_ok=True)
    paths, per_file, n_bytes = [], [], 0
    for f in range(n_files):
        chunk = releases[f::n_files]
        text = _dump({**meta, "releases": chunk})
        path = os.path.join(out_dir, f"{prefix}-{f:03d}.json")
        with open(path, "w", encoding="utf-8") as fh:
            fh.write(text)
        paths.append(path)
        per_file.append(len(chunk))
        n_bytes += len(text.encode("utf-8"))
    return {"paths": paths, "per_file": per_file, "n_releases": len(releases),
            "input_bytes": n_bytes, "last": last,
            "hot": [_ocid(prefix, i) for i in range(n_hot)],
            "max_per_ocid": max(counts)}


def dashboard_expectations(last: dict, counts: dict[int, int], lookup: list[str]) -> dict:
    """Expected answers of the dashboard queries (see run.DASHBOARD) for a
    compiled collection whose OCIDs compiled to ``last``. ``counts`` maps
    collection id → envelope rows (release/compiled_release)."""
    buyers: dict[str, int] = {}
    value: dict[str, int] = {}
    years: dict[str, int] = {}
    for f in last.values():
        buyers[f["buyer"]] = buyers.get(f["buyer"], 0) + 1
        value[f["currency"]] = value.get(f["currency"], 0) + f["amount"]
        years[f["date"][:4]] = years.get(f["date"][:4], 0) + 1
    top = sorted(buyers.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    return {
        "top_buyers": [list(t) for t in top],
        "value_by_currency": [[c, value[c]] for c in sorted(value)],
        "ocid_lookup": [[o, last[o]["date"], last[o]["amount"], last[o]["status"]]
                        for o in sorted(lookup)],
        "releases_by_year": [[y, years[y]] for y in sorted(years)],
        "count_per_collection": [[c, n] for c, n in sorted(counts.items())],
    }
