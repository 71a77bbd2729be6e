"""Hypertable rollup (operators/rollup.py) and distinct-count sketches
(operators/sketch.py): re-aggregation invariance, grain validation, KMV
exactness/error/merge, engine-portable hashing, and no-Python plan
audits."""

from datetime import datetime, timedelta

import duckdb
import pytest
from pyspark.sql import functions as F

from named_architecture_entity_recognition_spark.operators.rollup import (
    rollup_hypertable,
)
from named_architecture_entity_recognition_spark.operators.sketch import (
    kmv_distinct,
    kmv_estimate_expr,
    kmv_merge_expr,
    kmv_sketch,
    uniform_hash,
)


# ---------------------------------------------------------------- rollup


@pytest.fixture(scope="module")
def events(spark):
    rows = []
    t0 = datetime(2024, 1, 15)
    for i in range(3000):
        rows.append(
            (
                i,
                ["click", "view", "error"][i % 3],
                t0 + timedelta(minutes=7 * i),  # spans ~2 weeks
                float(i % 100) / 7.0,
            )
        )
    return spark.createDataFrame(
        rows, "event_id long, event_type string, ts timestamp, value double"
    )


def _direct(events, grain):
    return (
        events.groupBy(
            F.date_trunc(grain, "ts").alias("bucket"), "event_type"
        )
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.round(F.sum("value"), 6).alias("sum_value"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
        .collect()
    )


def test_rollup_matches_direct_aggregation_per_grain(spark, events):
    out = rollup_hypertable(
        events, keys=("event_type",), grains=("hour", "day", "month")
    ).withColumn("sum_value", F.round("sum_value", 6))
    for grain in ("hour", "day", "month"):
        got = {
            (r.bucket, r.event_type): (r.n_rows, r.sum_value, r.min_value, r.max_value)
            for r in out.filter(F.col("grain") == grain).drop("grain").collect()
        }
        want = {
            (r.bucket, r.event_type): (r.n_rows, r.sum_value, r.min_value, r.max_value)
            for r in _direct(events, grain)
        }
        assert got == want, grain


def test_rollup_row_conservation(spark, events):
    out = rollup_hypertable(events, grains=("minute", "hour", "day"))
    totals = {
        r.grain: r.total
        for r in out.groupBy("grain").agg(F.sum("n_rows").alias("total")).collect()
    }
    assert totals == {"minute": 3000, "hour": 3000, "day": 3000}


def test_rollup_week_allowed_last_only(spark, events):
    assert (
        rollup_hypertable(events, grains=("day", "week"))
        .filter("grain = 'week'")
        .count()
        > 0
    )
    with pytest.raises(ValueError, match="align"):
        rollup_hypertable(events, grains=("week", "month"))


def test_rollup_rejects_bad_grains(spark, events):
    with pytest.raises(ValueError, match="unknown grain"):
        rollup_hypertable(events, grains=("hour", "fortnight"))
    with pytest.raises(ValueError, match="finest-to-coarsest"):
        rollup_hypertable(events, grains=("day", "hour"))
    with pytest.raises(ValueError, match="non-empty"):
        rollup_hypertable(events, grains=())


def test_rollup_raw_scanned_once(spark, events):
    """Coarser grains must re-aggregate the finer level, not the raw
    table: in the final AQE plan every coarser branch consumes a
    ReusedExchange of the finer level's shuffle, leaving exactly one
    scan of the source."""
    out = rollup_hypertable(events, grains=("hour", "day", "month"))
    out.collect()  # let AQE finalize so exchange reuse is visible
    plan = out._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "ReusedExchange" in final, final
    assert final.count("Scan ExistingRDD") == 1, final


# ---------------------------------------------------------------- sketch


@pytest.fixture(scope="module")
def users(spark):
    # 3 groups with known distinct cardinalities 40 / 700 / 5000
    rows = []
    for g, n in (("a", 40), ("b", 700), ("c", 5000)):
        for i in range(n):
            rows.append((g, f"user-{g}-{i}"))
            rows.append((g, f"user-{g}-{i}"))  # duplicates must not count
    return spark.createDataFrame(rows, "grp string, uid string")


def test_kmv_exact_below_k(spark, users):
    got = {
        r.grp: r.est_distinct
        for r in kmv_distinct(users, ("grp",), "uid", k=256).collect()
    }
    assert got["a"] == 40  # sketch not full -> exact
    assert abs(got["b"] - 700) / 700 < 0.15
    assert abs(got["c"] - 5000) / 5000 < 0.15


def test_kmv_merge_of_parts_equals_whole(spark, users):
    k = 128
    whole = {
        r.grp: r.sketch for r in kmv_sketch(users, ("grp",), "uid", k=k).collect()
    }
    # split by uid hash parity, sketch each part, merge
    parts = users.withColumn(
        "part", (F.crc32("uid") % 2).cast("int")
    )
    part_sk = kmv_sketch(parts, ("grp", "part"), "uid", k=k)
    merged = {
        r.grp: r.merged
        for r in part_sk.groupBy("grp")
        .agg(kmv_merge_expr(F.collect_list("sketch"), k).alias("merged"))
        .collect()
    }
    assert merged == whole


def test_kmv_estimate_on_merged_sketch(spark, users):
    k = 128
    sk = kmv_sketch(users, ("grp",), "uid", k=k)
    est = {
        r.grp: r.e
        for r in sk.select(
            "grp", kmv_estimate_expr(F.col("sketch"), k).alias("e")
        ).collect()
    }
    assert est["a"] == 40 and abs(est["c"] - 5000) / 5000 < 0.2


def test_uniform_hash_matches_duckdb(spark):
    vals = ["alpha", "bravo", "user-42", "日本語"]
    got = (
        spark.createDataFrame([(v,) for v in vals], "v string")
        .select("v", uniform_hash(F.col("v")).alias("h"))
        .collect()
    )
    con = duckdb.connect()
    for r in got:
        (want,) = con.execute(
            "SELECT (('0x' || substr(md5('kmv-v1' || ?), 1, 13))::UBIGINT + 1)"
            " / 16.0^13",
            [r.v],
        ).fetchone()
        assert r.h == want, r.v


def test_kmv_plan_has_no_python(spark, users):
    plan = (
        kmv_distinct(users, ("grp",), "uid", k=64)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_kmv_rejects_bad_k(spark, users):
    with pytest.raises(ValueError, match="k must be"):
        kmv_sketch(users, ("grp",), "uid", k=1)


# ---------------------------------------------------------------- MG --


def _zipf_terms(spark, n=20000, parts=8):
    """Deterministic skewed term stream: term_i frequency ~ 1/(i+1)."""
    from pyspark.sql import functions as F

    return (
        spark.range(n)
        .repartition(parts)
        .select(
            F.concat(
                F.lit("t"),
                F.floor(
                    F.sqrt((F.col("id") * 7919 % 10000).cast("double"))
                ).cast("int").cast("string"),
            ).alias("term")
        )
    )


def test_heavy_hitters_exact_when_k_covers_vocab(spark):
    from pyspark.sql import functions as F

    from named_architecture_entity_recognition_spark.operators.sketch import (
        heavy_hitters,
    )

    df = _zipf_terms(spark, n=5000)
    exact = {
        r.term: r.n
        for r in df.groupBy("term").agg(F.count("*").alias("n")).collect()
    }
    got = heavy_hitters(df, k=len(exact) + 10).collect()
    assert {r.term: r.count_lo for r in got} == dict(
        sorted(exact.items(), key=lambda kv: (-kv[1], kv[0]))[: len(exact)]
    )
    assert all(r.count_hi == r.count_lo for r in got)  # no decrements


def test_heavy_hitters_mg_guarantee_small_k(spark):
    """count_lo <= true <= count_hi for every reported term, and every
    term more frequent than the error bound is reported."""
    from pyspark.sql import functions as F

    from named_architecture_entity_recognition_spark.operators.sketch import (
        heavy_hitters,
    )

    df = _zipf_terms(spark, n=20000, parts=8)
    exact = {
        r.term: r.n
        for r in df.groupBy("term").agg(F.count("*").alias("n")).collect()
    }
    k = 8
    got = heavy_hitters(df, k=k).collect()
    assert 0 < len(got) <= k
    err = got[0].count_hi - got[0].count_lo
    assert err > 0  # decrements did happen at this k
    for r in got:
        assert r.count_lo <= exact[r.term] <= r.count_hi, (r, exact[r.term])
    reported = {r.term for r in got}
    for t, n in exact.items():
        if n > err:
            assert t in reported, (t, n, err)


def test_heavy_hitters_rejects_bad_k(spark):
    from named_architecture_entity_recognition_spark.operators.sketch import (
        heavy_hitters,
    )

    df = _zipf_terms(spark, n=100)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="k must be"):
        heavy_hitters(df, k=0)


def test_q_heavy_hitters_fixture_vocab_below_k(spark):
    """q_heavy_hitters's DuckDB oracle is exact-count equality, which
    holds ONLY in the no-decrement regime (per-partition distinct terms
    <= k=64). Pin that premise: if the sf0.01 fixture corpus vocabulary
    ever grows past k, this fails loudly instead of surfacing as an
    opaque driver hash mismatch."""
    from pyspark.sql import functions as F

    from named_architecture_entity_recognition_spark.operators.textstats import (
        tokens,
    )

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    vocab = (
        docs.select(F.explode(tokens(F.col("text"))).alias("term"))
        .select("term")
        .distinct()
        .count()
    )
    assert vocab <= 64, (
        f"fixture vocabulary {vocab} exceeds q_heavy_hitters k=64 — "
        "Misra-Gries decrements now apply and the exact-count oracle "
        "in __spark_entry__.oracle_sql() is no longer valid"
    )


def test_hist_sketch_merge_of_parts_equals_whole(spark):
    """The histogram sketch is EXACTLY mergeable: element-wise array
    addition of per-part sketches equals the sketch of the whole
    (integer counts — the merge loses nothing; only the final quantile
    interpolation is approximate)."""
    from pyspark.sql import functions as F

    from named_architecture_entity_recognition_spark.operators.sketch import (
        hist_merge_expr,
        hist_sketch,
    )

    df = spark.range(0, 5000).select(
        (F.col("id") % 3).alias("g"),
        ((F.col("id") * 37 % 1000) / 10.0).alias("x"),
        (F.col("id") % 4).alias("part"),
    )
    whole = hist_sketch(df, ("g",), "x", lo=0.0, hi=100.0, bins=20)
    parts = hist_sketch(df, ("g", "part"), "x", lo=0.0, hi=100.0, bins=20)
    merged = parts.groupBy("g").agg(
        F.aggregate(
            F.collect_list("hist"),
            F.array_repeat(F.lit(0).cast("long"), 20),
            hist_merge_expr,
        ).alias("hist"),
        F.sum("n").alias("n"),
    )
    a = {r.g: (list(r.hist), r.n) for r in whole.collect()}
    b = {r.g: (list(r.hist), r.n) for r in merged.collect()}
    assert a == b


def test_hist_quantile_error_bounded_by_bin_width(spark):
    """|estimate - exact quantile| <= one bin width, for several q on
    skewed data (the sketch's published bound)."""
    import numpy as np
    from pyspark.sql import functions as F

    from named_architecture_entity_recognition_spark.operators.sketch import (
        hist_quantile_expr,
        hist_sketch,
    )

    rng = np.random.RandomState(7)
    vals = np.concatenate(
        [rng.uniform(0, 20, 3000), rng.uniform(80, 100, 1000)]
    )
    df = spark.createDataFrame([(float(v),) for v in vals], "x double")
    bins, lo, hi = 40, 0.0, 100.0
    width = (hi - lo) / bins
    sk = hist_sketch(df.withColumn("g", F.lit(1)), ("g",), "x", lo, hi, bins)
    row = sk.select(
        *[
            hist_quantile_expr(F.col("hist"), q, lo, hi, bins).alias(f"p{i}")
            for i, q in enumerate((0.1, 0.5, 0.9, 0.99))
        ]
    ).collect()[0]
    for i, q in enumerate((0.1, 0.5, 0.9, 0.99)):
        exact = float(np.quantile(vals, q))
        assert abs(row[f"p{i}"] - exact) <= width + 1e-9, (q, row[f"p{i}"], exact)


def test_hist_quantile_empty_group_is_null(spark):
    from pyspark.sql import functions as F

    from named_architecture_entity_recognition_spark.operators.sketch import (
        hist_quantile_expr,
    )

    df = spark.createDataFrame(
        [([0] * 8,)], "hist array<long>"
    )
    row = df.select(
        hist_quantile_expr(F.col("hist"), 0.5, 0.0, 1.0, 8).alias("p")
    ).collect()[0]
    assert row.p is None
