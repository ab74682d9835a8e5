"""Accuracy bounds for the two rows-only approximate sketches: the
driver can't hash-check them (algorithms differ per engine), so these
pin each sketch against its exact companion with the published error
bound — an accuracy regression now fails loudly instead of sailing
through the rows-only gate."""

from __future__ import annotations

import duckdb
from pyspark.sql import functions as F

from rootstock_collective_state_sync_spark.plans.registry import SPECS
from rootstock_collective_state_sync_spark.plans.tables import load_table

from tests.conftest import SF_SMOKE


def test_approx_distinct_within_hll_error(spark):
    got = {
        r["event_type"]: r["approx_users"]
        for r in SPECS["approx_distinct"].fn(spark, SF_SMOKE).collect()
    }
    exact = {
        r["event_type"]: r["n"]
        for r in load_table(spark, SF_SMOKE, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert set(got) == set(exact)
    # approx_count_distinct default rsd = 5%; allow 3 sigma + slack
    # for tiny cardinalities
    for t, n in exact.items():
        assert abs(got[t] - n) <= max(3, 0.15 * n), (t, got[t], n)


def test_approx_quantiles_within_rank_error(spark):
    got = {
        r["event_type"]: (r["p50"], r["p90"], r["p99"])
        for r in SPECS["approx_quantiles"].fn(spark, SF_SMOKE).collect()
    }
    ev = load_table(spark, SF_SMOKE, "events").select("event_type", "value")
    rows = ev.collect()
    by_type: dict[str, list[float]] = {}
    for r in rows:
        by_type.setdefault(r["event_type"], []).append(r["value"])
    # percentile_approx(accuracy=10000) guarantees rank error
    # <= n/10000; with n << 10000 here the sketch is exact up to
    # element selection — require the answer to BE an element at a
    # rank within 1 of the target
    for t, vals in by_type.items():
        vals.sort()
        n = len(vals)
        for p, gotv in zip((0.5, 0.9, 0.99), got[t]):
            target = int(p * n)
            window = vals[max(0, target - 2) : min(n, target + 3)]
            assert gotv in vals, (t, p, gotv)
            assert min(window) <= gotv <= max(window) or gotv in window, (
                t, p, gotv, window,
            )


def test_approx_distinct_matches_duckdb_direction(spark):
    """Cross-engine sanity: both engines' sketches should agree with
    each other within combined error — catches a mis-specified rsd."""
    got = {
        r["event_type"]: r["approx_users"]
        for r in SPECS["approx_distinct"].fn(spark, SF_SMOKE).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{SF_SMOKE}/events.parquet'"
    )
    duck = {
        t: n
        for t, n in con.execute(
            "SELECT event_type, approx_count_distinct(user_id)"
            " FROM events GROUP BY 1"
        ).fetchall()
    }
    for t in got:
        assert abs(got[t] - duck[t]) <= max(3, 0.2 * duck[t])


def test_misra_gries_bounds_and_no_false_negatives(spark):
    from collections import Counter

    from pyspark.sql import functions as F

    from rootstock_collective_state_sync_spark.operators.sketches import (
        heavy_hitters,
    )
    from rootstock_collective_state_sync_spark.operators.text import tokens
    from rootstock_collective_state_sync_spark.plans.tables import load_table
    from tests.conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents")
    tok = docs.select(F.explode(tokens(F.col("text"))).alias("t"))
    exact = Counter(r["t"] for r in tok.collect())
    n = sum(exact.values())
    m = 16
    out = heavy_hitters(spark, tok, "t", m=m, top_k=10).collect()
    assert out, "corpus has heavy tokens"
    est = {r["item"]: (r["est"], r["est_upper"]) for r in out}
    # bounded estimate error: est <= true <= est_upper
    for item, (lo, hi) in est.items():
        assert lo <= exact[item] <= hi, (item, lo, exact[item], hi)
    # no false negative above N/(m+1) among the top-k report: every
    # item heavier than the MG threshold AND inside the true top-10
    # by a margin must be present
    thresh = n / (m + 1)
    must_have = {t for t, c in exact.most_common(5) if c > thresh}
    assert must_have <= set(est), (must_have, set(est))


def test_misra_gries_rank_order_deterministic_ties(spark):
    from rootstock_collective_state_sync_spark.operators.sketches import (
        heavy_hitters,
    )

    df = spark.createDataFrame(
        [(v,) for v in ["a"] * 50 + ["b"] * 30 + ["c"] * 30 + ["d"] * 5],
        "v string",
    ).repartition(4)
    out = heavy_hitters(spark, df, "v", m=8, top_k=3).collect()
    assert out[0]["item"] == "a"
    assert {r["item"] for r in out[:3]} == {"a", "b", "c"}
    assert [r["rk"] for r in out] == [1, 2, 3]


def test_count_min_bounds_and_merge_invariance(spark):
    """CM guarantees: never under-estimates, over-estimate bounded by
    the collision budget; estimates identical for 1 vs 8 partitions
    (exact cell-wise mergeability of the salted-hash tables)."""
    from collections import Counter

    from rootstock_collective_state_sync_spark.operators.sketches import (
        count_min,
    )

    vals = (
        ["alpha"] * 500 + ["beta"] * 120 + ["gamma"] * 40
        + [f"tail{i}" for i in range(300)]
    )
    true = Counter(vals)
    df1 = spark.createDataFrame([(v,) for v in vals], "t string").coalesce(1)
    df8 = spark.createDataFrame([(v,) for v in vals], "t string").repartition(8)
    cm1 = count_min(spark, df1, "t", depth=4, width=256)
    cm8 = count_min(spark, df8, "t", depth=4, width=256)
    assert cm1.n == cm8.n == len(vals)
    import math

    budget = math.e / 256 * len(vals)
    for v in ("alpha", "beta", "gamma", "tail0", "never-seen"):
        e1, e8 = cm1.estimate(v), cm8.estimate(v)
        assert e1 == e8  # partition-layout invariant (true mergeability)
        assert e1 >= true.get(v, 0)  # never under-estimates
        assert e1 <= true.get(v, 0) + budget * 4  # loose collision cap
    assert cm1.estimate("alpha") >= 500


def test_kmv_overlap_exact_when_small_and_sane_when_big(spark):
    """Below k the union sketch holds every hash, so the estimator
    columns must EQUAL the exact ones; above k the Jaccard estimate
    must land within the published ~1/sqrt(k) band of truth."""
    from rootstock_collective_state_sync_spark.operators.sketches import (
        kmv_overlap,
    )

    # small: two 40-element sets sharing 20 values (k=256 >> union)
    rows = [("a", f"v{i}") for i in range(40)] + [
        ("b", f"v{i}") for i in range(20, 60)
    ]
    df = spark.createDataFrame(rows, "grp string, v string")
    r = kmv_overlap(df, "grp", "v", k=256, include_exact=True).collect()[0]
    assert r["n_inter_exact"] == 20 and r["n_union_exact"] == 60
    assert r["kmv_union_est"] == r["n_union_exact"]
    assert r["kmv_inter_est"] == r["n_inter_exact"]
    assert r["kmv_jaccard_e6"] == r["jaccard_exact_e6"]
    assert r["err_e6"] == 0

    # big: 4000-element sets, 2000 shared -> union 6000 > k=256;
    # jaccard truth 1/3, band 3.5/sqrt(256) ~ 0.22 absolute
    rows = [("a", f"v{i}") for i in range(4000)] + [
        ("b", f"v{i}") for i in range(2000, 6000)
    ]
    df = spark.createDataFrame(rows, "grp string, v string")
    r = kmv_overlap(df, "grp", "v", k=256, include_exact=True).collect()[0]
    assert r["n_x"] == 256
    assert abs(r["kmv_jaccard_e6"] - r["jaccard_exact_e6"]) < 220_000
    rel = abs(r["kmv_union_est"] - r["n_union_exact"]) / r["n_union_exact"]
    assert rel < 0.25


def test_kmv_overlap_sketch_only_matches_audited(spark):
    """The DEFAULT (sketch-only, the production shape — r10 verdict
    item 2 flipped it) must return the identical sketch columns the
    audited run computes — dropping the exact audit join cannot move
    the estimator."""
    import inspect

    from rootstock_collective_state_sync_spark.operators.sketches import (
        kmv_overlap,
    )

    # pin: the scale-safe shape is what naive callers get
    assert (
        inspect.signature(kmv_overlap).parameters["include_exact"].default
        is False
    )

    rows = (
        [("a", f"v{i}") for i in range(500)]
        + [("b", f"v{i}") for i in range(250, 750)]
        + [("c", f"v{i}") for i in range(700, 800)]
    )
    df = spark.createDataFrame(rows, "grp string, v string")
    full = {
        (r["grp_a"], r["grp_b"]): r
        for r in kmv_overlap(df, "grp", "v", k=64, include_exact=True).collect()
    }
    lean = kmv_overlap(df, "grp", "v", k=64)
    assert lean.columns == [
        "grp_a", "grp_b", "n_x", "kmv_matches",
        "kmv_union_est", "kmv_inter_est", "kmv_jaccard_e6",
    ]
    for r in lean.collect():
        f = full[(r["grp_a"], r["grp_b"])]
        for c in ("n_x", "kmv_matches", "kmv_union_est",
                  "kmv_inter_est", "kmv_jaccard_e6"):
            assert r[c] == f[c], (r["grp_a"], r["grp_b"], c)


def test_kmv_bottom_k_dedup_plan_uses_window_group_limit(spark):
    """The kmv streaming leg and the ``kmv_overlap`` seat rely on
    Spark's rank-limit pushdown: ``kmv_bottom_k(dedup=True)`` must plan
    a partial ``WindowGroupLimit`` below the exchange, and the operator
    must vanish when the optimizer threshold disables the pushdown — so
    a conf or Spark-version change fails here, not silently in the
    shuffle bytes."""
    from rootstock_collective_state_sync_spark.operators.sketches import (
        kmv_bottom_k,
    )

    h = spark.range(2000).select(
        (F.col("id") % 3).cast("string").alias("grp"),
        F.xxhash64("id").alias("h"),
    )

    def executed_plan():
        qe = kmv_bottom_k(h, 16, dedup=True)._jdf.queryExecution()
        return qe.executedPlan().toString()

    key = "spark.sql.optimizer.windowGroupLimitThreshold"
    assert "WindowGroupLimit" in executed_plan()
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "-1")
    try:
        assert "WindowGroupLimit" not in executed_plan()
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
