"""grouped_apply_sorted_arrow must be row-for-row equivalent to
groupBy().applyInPandas() — including groups that span Arrow batch
boundaries, multi-column keys and null keys."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import types as T

from kingfisher_process_spark.operators.grouped import grouped_apply_sorted_arrow

OUT_SCHEMA = T.StructType([
    T.StructField("k", T.StringType()),
    T.StructField("n", T.LongType()),
    T.StructField("vals", T.StringType()),
])


def summarize(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.sort_values("v")
    key = pdf["k"].iloc[0]
    return pd.DataFrame([{
        "k": None if pd.isna(key) else key,
        "n": len(pdf),
        "vals": ",".join(str(x) for x in pdf["v"]),
    }])


@pytest.fixture()
def tiny_batches(spark):
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    yield
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)


@pytest.fixture()
def one_partition(spark):
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    yield
    spark.conf.set("spark.sql.shuffle.partitions", old)


def _rows():
    rows = []
    for g in range(40):
        # group sizes 1..13 — several must straddle the 7-row Arrow batches
        for i in range(g % 13 + 1):
            rows.append((f"grp-{g:03d}", g * 100 + i))
    rows.append((None, 9999))
    rows.append((None, 9998))
    return rows


def summarize_rows(cols: dict) -> list[dict]:
    key = cols["k"][0]
    return [{
        "k": key,
        "n": len(cols["v"]),
        "vals": ",".join(str(x) for x in sorted(cols["v"])),
    }]


def test_arrow_walk_matches_group_apply(spark, tiny_batches):
    """Row-for-row equivalent to groupBy().applyInPandas, with groups
    spanning the 7-row Arrow batches and a null-key group."""
    df = spark.createDataFrame(_rows(), "k string, v long")
    expected = sorted(
        df.groupBy("k").applyInPandas(summarize, OUT_SCHEMA).collect(),
        key=lambda r: (r["k"] or "",))
    got = sorted(
        grouped_apply_sorted_arrow(df, ["k"], summarize_rows, OUT_SCHEMA,
                                   extra_sort=["v"]).collect(),
        key=lambda r: (r["k"] or "",))
    assert got == expected
    assert len(got) == 41  # 40 groups + null-key group


def test_arrow_walk_single_partition_carry_chain(spark, tiny_batches,
                                                 one_partition):
    # every group funneled into one partition: carry chain is exercised
    # maximally (each 7-row batch ends mid-group somewhere)
    df = spark.createDataFrame(_rows(), "k string, v long")
    got = grouped_apply_sorted_arrow(df, ["k"], summarize_rows, OUT_SCHEMA,
                                     extra_sort=["v"]).collect()
    assert len(got) == 41
    by_k = {r["k"]: r for r in got}
    assert by_k["grp-012"]["n"] == 13
    assert by_k[None]["n"] == 2
    assert by_k["grp-012"]["vals"] == ",".join(str(1200 + i) for i in range(13))


def test_arrow_walk_multi_key(spark, tiny_batches):
    # the two-phase merge's phase-A shape: groups keyed on (k, salt)
    rows = [(f"o-{i % 5}", i % 3, i) for i in range(60)]
    df = spark.createDataFrame(rows, "k string, salt int, v long")

    def pair(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame([{
            "k": pdf["k"].iloc[0] + "#" + str(pdf["salt"].iloc[0]),
            "n": len(pdf),
            "vals": ",".join(str(x) for x in sorted(pdf["v"])),
        }])

    def pair_rows(cols: dict) -> list[dict]:
        return [{"k": cols["k"][0] + "#" + str(cols["salt"][0]),
                 "n": len(cols["v"]),
                 "vals": ",".join(str(x) for x in sorted(cols["v"]))}]

    got = grouped_apply_sorted_arrow(df, ["k", "salt"], pair_rows, OUT_SCHEMA,
                                     extra_sort=["v"]).collect()
    expected = df.groupBy("k", "salt").applyInPandas(pair, OUT_SCHEMA).collect()
    assert sorted(got) == sorted(expected)
    assert len(got) == 15


# -- property test of the carry/stitch logic (no Spark: the generator is
# the risky part; the Spark wrapper is pinned by the tests above) --------

from hypothesis import given, settings, strategies as st


@st.composite
def batched_groups(draw):
    n_groups = draw(st.integers(1, 12))
    sizes = [draw(st.integers(1, 9)) for _ in range(n_groups)]
    rows = []
    v = 0
    for g, size in enumerate(sizes):
        key = None if g == 0 and draw(st.booleans()) else f"g{g:02d}"
        for _ in range(size):
            rows.append((key, v))
            v += 1
    # random batch cut points over the sorted row list
    n = len(rows)
    n_cuts = draw(st.integers(0, min(n, 8)))
    cuts = sorted(draw(st.sets(st.integers(1, max(1, n - 1)),
                               min_size=min(n_cuts, max(0, n - 1)),
                               max_size=min(n_cuts, max(0, n - 1)))))
    bounds = [0] + cuts + [n]
    return rows, bounds


@given(batched_groups())
@settings(max_examples=200, deadline=None)
def test_iter_groups_rows_property(case):
    """The arrow walk's carry/stitch (iter_groups_rows) agrees with a
    pandas groupby over the whole input on random batch cut points."""
    import pyarrow as pa

    from kingfisher_process_spark.operators.grouped import iter_groups_rows

    rows, bounds = case
    full = pd.DataFrame(rows, columns=["k", "v"])
    schema = pa.schema([pa.field("k", pa.string()), pa.field("v", pa.int64())])
    out_schema = pa.schema([pa.field("k", pa.string()),
                            pa.field("n", pa.int64()),
                            pa.field("vals", pa.string())])
    batches = [
        pa.RecordBatch.from_pylist(
            [{"k": k, "v": v} for k, v in rows[a:b]], schema=schema)
        for a, b in zip(bounds, bounds[1:])
    ]

    got_rows = []
    for rb in iter_groups_rows(iter(batches), ["k"], summarize_rows,
                               out_schema):
        got_rows.extend(rb.to_pylist())

    def fn(pdf):
        key = pdf["k"].iloc[0]
        return {"k": None if pd.isna(key) else key, "n": len(pdf),
                "vals": ",".join(str(x) for x in sorted(pdf["v"]))}

    expected_rows = [fn(g) for _, g in
                     full.groupby("k", sort=False, dropna=False)]
    key = lambda r: (r["vals"],)  # noqa: E731
    assert sorted(got_rows, key=key) == sorted(expected_rows, key=key)
