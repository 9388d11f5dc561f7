#!/usr/bin/env python
"""Crossover sweep for the skew-routed compile (SCALE.md §10/§11).

Synthesizes ONE hot OCID of ``hot_n`` releases next to a 1k-OCID uniform
tail (the ocds_compile_skewed fixture shape, hot size parameterized) and
times the two compile paths:

- routed:       skew_routed_compiled(batch=100) — cold tail single-pass,
                hot OCID through two-phase partial merge
- single-phase: merged_by_ocid — one group-walk task merges the hot
                OCID sequentially

Usage:  python scripts/sweep_skew_compile.py [sf_dir]
Prints one JSON line per hot size with min-of-2 timings; paste the table
into SCALE.md when re-measuring (numbers there are from this script at
sf0.1 on local[32]).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kingfisher_process_spark.operators.compile_release import (  # noqa: E402
    merged_by_ocid, skew_routed_compiled)
from kingfisher_process_spark.plans.ocds_entry import _skewed_releases  # noqa: E402
from kingfisher_process_spark.session import get_spark  # noqa: E402

HOT_SIZES = (1_000, 10_000, 50_000, 100_000)
TAIL = 1_000
REPS = 2


def skewed_releases(spark, sf_dir: str, hot_n: int):
    """The probe fixture's release synthesis, hot size parameterized —
    ONE implementation (ocds_entry._skewed_releases) serves the oracle
    probe and this sweep so they cannot drift apart."""
    return _skewed_releases(spark, sf_dir, hot_n=hot_n, tail=TAIL)


def timed(fn) -> float:
    best = None
    for _ in range(REPS):
        t0 = time.perf_counter()
        fn()
        dt = time.perf_counter() - t0
        best = dt if best is None else min(best, dt)
    return round(best, 2)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("skew-sweep")
    for hot_n in HOT_SIZES:
        rel = skewed_releases(spark, sf_dir, hot_n)
        n = rel.count()
        if n < hot_n + TAIL:
            print(json.dumps({"hot_n": hot_n, "skipped":
                              f"only {n} orders at {sf_dir}"}))
            continue
        rel = rel.localCheckpoint()  # time the COMPILE, not the synthesis
        routed = timed(lambda: skew_routed_compiled(rel, batch=100).count())
        single = timed(lambda: merged_by_ocid(rel).count())
        print(json.dumps({
            "hot_n": hot_n, "tail": TAIL,
            "routed_sec": routed, "single_sec": single,
            "speedup": round(single / routed, 2),
        }), flush=True)


if __name__ == "__main__":
    main()
