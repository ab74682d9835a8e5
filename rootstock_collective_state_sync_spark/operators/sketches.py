"""Mergeable bounded-memory sketches beyond Spark's built-ins.

Misra-Gries heavy hitters (Misra & Gries 1982; the SpaceSaving
family): find every item whose frequency exceeds N/(m+1) using m
counters per partition, regardless of stream size. At 100 TB this is
the only way to ask "what are the heavy join keys / top tokens /
dominant event types" without a full (item)-keyed shuffle: each
executor keeps m counters over its partition, the per-partition
summaries (m rows each) are tiny, and the merge is associative.

Guarantees carried to the output (and pinned by
``tests/test_sketches.py``):

- NO FALSE NEGATIVES above threshold: any item with true count
  > N/(m+1) appears in the summary.
- BOUNDED ESTIMATE ERROR: ``est <= true <= est + delta`` where
  ``delta`` is the summary's accumulated decrement total (reported
  alongside, per partition and merged).

Like the HLL / GK quantile entries, results depend on partition
layout (the decrement schedule differs), so the registry query is a
rows-only entry by design; the ACCURACY contract, not the exact
values, is what tests assert.

Implementation: ``mapInPandas`` (one Arrow pass per partition, plain
dict counters — no per-row Python UDF overhead beyond the single
batch iteration) followed by a driver-side merge of the
#partitions × m summary rows — a bounded control-plane collect, same
policy as the IVF centroid trainer.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from rootstock_collective_state_sync_spark.localrel import local_df


def _mg_partition(
    batches: Iterator[pd.DataFrame], col: str, m: int
) -> Iterator[pd.DataFrame]:
    counters: dict[str, int] = {}
    delta = 0
    for pdf in batches:
        for v in pdf[col].astype(str):
            if v in counters:
                counters[v] += 1
            elif len(counters) < m:
                counters[v] = 1
            else:
                # decrement-all step: every counter loses 1
                delta += 1
                dead = []
                for k in counters:
                    counters[k] -= 1
                    if counters[k] == 0:
                        dead.append(k)
                for k in dead:
                    del counters[k]
    yield pd.DataFrame(
        {
            "item": list(counters.keys()) + ["\x00delta"],
            "est": list(counters.values()) + [delta],
        }
    )


def heavy_hitters(
    spark: SparkSession,
    df: DataFrame,
    col: str,
    m: int = 16,
    top_k: int = 10,
) -> DataFrame:
    """Approximate top-``top_k`` of ``col`` with Misra-Gries(m) per
    partition + associative merge. Returns
    ``(item, est, est_upper, rk)``: ``est <= true <= est_upper``."""
    from pyspark.sql import functions as F

    summaries = df.select(F.col(col).cast("string").alias("v")).mapInPandas(
        lambda it: _mg_partition(it, "v", m), "item string, est long"
    )
    rows = summaries.collect()  # bounded: (#partitions x (m+1)) rows
    merged: dict[str, int] = {}
    delta = 0
    for r in rows:
        if r["item"] == "\x00delta":
            delta += int(r["est"])
        else:
            merged[r["item"]] = merged.get(r["item"], 0) + int(r["est"])
    # merge-side compaction back to m counters (keeps the bound tight
    # and the state size m regardless of partition count)
    if len(merged) > m:
        cut = sorted(merged.values(), reverse=True)[m]
        delta += cut
        merged = {k: v - cut for k, v in merged.items() if v > cut}
    top = sorted(merged.items(), key=lambda kv: (-kv[1], kv[0]))[:top_k]
    out = [
        (item, est, est + delta, i + 1) for i, (item, est) in enumerate(top)
    ]
    return local_df(
        spark, out, "item string, est long, est_upper long, rk int"
    )


# ---------------------------------------------------------------------------
# Count-Min sketch (Cormode & Muthukrishnan 2005)
# ---------------------------------------------------------------------------


def _cm_hash(v: str, row: int, width: int) -> int:
    """Deterministic row-salted bucket: md5('{row}:{v}') first 8 hex
    chars mod width — no RNG seeds to persist, identical everywhere."""
    import hashlib

    return int(hashlib.md5(f"{row}:{v}".encode()).hexdigest()[:8], 16) % width


def _cm_partition(
    batches, col: str, depth: int, width: int
):
    import numpy as np

    table = np.zeros((depth, width), dtype=np.int64)
    n = 0
    for pdf in batches:
        for v in pdf[col].astype(str):
            n += 1
            for r in range(depth):
                table[r, _cm_hash(v, r, width)] += 1
    rows = {"row": [], "bucket": [], "cnt": []}
    for r in range(depth):
        nz = np.nonzero(table[r])[0]
        rows["row"].extend([r] * len(nz))
        rows["bucket"].extend(nz.tolist())
        rows["cnt"].extend(table[r, nz].tolist())
    rows["n_items"] = [n] * len(rows["row"])
    yield pd.DataFrame(rows)


class CountMin:
    """Merged Count-Min sketch: point-query upper-bound counts with
    the classic guarantee ``true <= est <= true + (e/width)·N`` with
    probability ``1 - e^-depth`` — and, because every per-partition
    table uses the SAME salted md5 hash rows, the merge is exact
    cell-wise addition (fully mergeable, any grouping of partitions).

    100 TB shape: one Arrow pass per partition building a
    depth×width integer table, a bounded collect of
    #partitions × depth × width cells (width·depth is a few thousand
    — control-plane), cell-wise merge on the driver. Counts every
    item, unlike Misra-Gries' top-m — the two answer different
    questions (CM: 'how often is THIS item', MG: 'which items are
    heavy')."""

    def __init__(self, table, n: int):
        self.table = table
        self.n = int(n)

    def estimate(self, v: str) -> int:
        return int(
            min(
                self.table[r, _cm_hash(str(v), r, self.table.shape[1])]
                for r in range(self.table.shape[0])
            )
        )


def count_min(
    spark: SparkSession,
    df: DataFrame,
    col: str,
    depth: int = 4,
    width: int = 256,
) -> CountMin:
    """Build the merged sketch for one column (see :class:`CountMin`)."""
    import numpy as np

    parts = df.select(df[col].cast("string").alias(col)).mapInPandas(
        lambda it: _cm_partition(it, col, depth, width),
        schema="row int, bucket int, cnt long, n_items long",
    )
    rows = parts.collect()  # bounded: partitions x depth x width cells
    table = np.zeros((depth, width), dtype=np.int64)
    for r in rows:
        table[r["row"], r["bucket"]] += r["cnt"]
    # every item increments exactly one bucket per row, so any row's
    # total is the exact stream size N
    return CountMin(table, int(table[0].sum()))


def kmv_distinct(
    df: DataFrame,
    group_col: str,
    value_col: str,
    k: int = 256,
) -> "DataFrame":
    """KMV (k-minimum-values / bottom-k) distinct-count sketch per
    group (Bar-Yossef et al. 2002), side-by-side with the exact count
    so the row IS its own accuracy report: ``(group, n_exact,
    kmv_est, err_e6)``. Estimator: with ``h_k`` the k-th smallest of
    the distinct 60-bit md5 hashes, ``est = (k-1) * 2^60 div h_k``;
    when a group holds fewer than ``k`` distinct hashes the sketch is
    exact by construction (est = distinct-hash count).

    Deterministic md5 hashing makes the sketch layout-invariant —
    bit-identical regardless of partitioning — which is what lets a
    SQL oracle replay it value-for-value (same trick as
    :class:`CountMin`'s salted schedule). ``n_exact`` counts distinct
    VALUES; the estimator sees distinct hashes (collisions in the
    2^60 space are part of the sketch's error, like any production
    KMV).

    Scale shape: the hash table is DISTINCT-VALUES-sized (vocabulary,
    not corpus); the rank-k selection is one window over that table,
    partitioned by group. At 100 TB the corpus collapses to its
    vocabulary in the first map-side-combined distinct, and only
    8-byte hashes shuffle. When single groups hold corpus-share-sized
    vocabularies, pre-truncate with the skew-safe
    :func:`kmv_bottom_k` before :func:`kmv_estimate` — value-
    identical by the KMV merge law (the r18 equivalence test pins
    it). NOT pre-applied: two r18 variants (shared pinned (group,
    value) distinct + two-level estimate; minimal bottom-k insertion
    alone) were measured AGAINST this shape with interleaved A/Bs and
    both lost 0.1-0.5 s/run at sf0.1 — the extra window/exchange
    stages cost more than the per-group-global sort here, where the
    per-group window partitions are vocabulary-sized and k is tiny.
    """
    from pyspark.sql import functions as F

    h = kmv_hashes(df, group_col, value_col)
    exact = (
        df.groupBy(F.col(group_col).alias("grp"))
        .agg(F.countDistinct(F.col(value_col)).cast("long").alias("n_exact"))
    )
    return (
        exact.join(kmv_estimate(h, k), "grp")
        .select(
            F.col("grp").alias(group_col),
            "n_exact",
            "kmv_est",
        )
        .select(
            group_col,
            "n_exact",
            "kmv_est",
            F.expr("abs(kmv_est - n_exact) * 1000000 div n_exact")
            .cast("long")
            .alias("err_e6"),
        )
    )


#: HLL bias constant for m=256 registers: round(1e9 * 0.7213 /
#: (1 + 1.079/256)) — pinned as an integer so neither engine computes
#: a float alpha.
HLL_ALPHA_E9_M256 = 718272593


def hll_distinct(
    df: DataFrame, group_col: str, value_col: str
) -> "DataFrame":
    """VALUE-CHECKED HyperLogLog (Flajolet et al. 2007) per group,
    beside the exact count: ``(group, n_exact, hll_est, err_e6)`` —
    the same move that made Count-Min and KMV hash-checkable where
    the native ``approx_count_distinct`` stays rows-only. Every
    source of cross-engine drift is removed:

    - registers come from the deterministic 60-bit md5 schedule
      (:func:`kmv_hashes`): top 8 bits pick one of m=256 registers,
      rho = leading-zero count of the low 52 bits + 1 via INTEGER
      binary-string length (no float log2);
    - the harmonic mean is EXACT: ``Z = Σ_j 2^(60 − M_j)`` summed in
      DECIMAL(38,0) (every term is an integer power of two — no
      float summation-order hazard), with the m − V empty registers
      contributing 2^60 each;
    - ``est_raw = alpha·m²·2^60 div Z`` in integer arithmetic
      (alpha pinned e9); the small-range branch (est ≤ 5m/2 with
      empty registers) uses the repo's ``round(ln·1e6)`` fixed-point
      convention for linear counting.

    Scale shape: the register aggregate ``max(rho) over (group, j)``
    absorbs duplicate hashes by itself (max over a multiset ≡ max
    over its set; a null hash collapses to the one (group, null-j)
    key either way), and its map-side combine collapses each task's
    output to ≤ m=256 register rows per group before the one
    exchange. r18 note: the upstream ``.distinct()`` is dropped at
    the SOURCE now — the physical plan is byte-identical
    (``plans/r18/hll_distinct_tokens_{before,after}.txt``: Catalyst's
    RemoveRedundantAggregates already eliminated the dedup below the
    distinct-insensitive max), so this is a logical-plan/readability
    change only, kept so the intent is visible without relying on
    the optimizer rule.
    """
    from pyspark.sql import functions as F

    h = kmv_hashes(df, group_col, value_col, distinct=False)
    b = h.select(
        "grp",
        F.expr("h div 4503599627370496").cast("int").alias("j"),  # 2^52
        F.expr("h % 4503599627370496").alias("w"),
    )
    rho = F.when(F.col("w") == 0, F.lit(53)).otherwise(
        53 - F.length(F.conv(F.col("w").cast("string"), 10, 2))
    )
    regs = b.groupBy("grp", "j").agg(F.max(rho).cast("int").alias("m_j"))
    per = regs.groupBy("grp").agg(
        F.count(F.lit(1)).cast("long").alias("n_regs"),
        F.sum(
            F.expr("CAST(shiftleft(CAST(1 AS BIGINT), 60 - m_j) AS DECIMAL(38,0))")
        ).alias("z_used"),
    )
    est = per.select(
        "grp",
        (F.lit(256) - F.col("n_regs")).cast("long").alias("v"),
        (
            F.col("z_used")
            + (F.lit(256) - F.col("n_regs")).cast("decimal(38,0)")
            * F.lit(1152921504606846976).cast("decimal(38,0)")  # 2^60
        ).alias("z"),
    ).select(
        "grp",
        "v",
        F.expr(
            f"CAST(CAST({HLL_ALPHA_E9_M256} AS DECIMAL(38,0)) * 65536 "
            f"* CAST(1152921504606846976 AS DECIMAL(38,0)) "
            f"div z div 1000000000 AS BIGINT)"
        ).alias("est_raw"),
    ).select(
        "grp",
        F.when(
            (F.col("est_raw") <= 640) & (F.col("v") > 0),
            F.expr(
                "CAST(256 * CAST(round(ln(256.0 / v) * 1000000) AS BIGINT) "
                "div 1000000 AS BIGINT)"
            ),
        )
        .otherwise(F.col("est_raw"))
        .cast("long")
        .alias("hll_est"),
    )
    exact = df.groupBy(F.col(group_col).alias("grp")).agg(
        F.countDistinct(F.col(value_col)).cast("long").alias("n_exact")
    )
    return exact.join(est, "grp").select(
        F.col("grp").alias(group_col),
        "n_exact",
        "hll_est",
        F.expr("abs(hll_est - n_exact) * 1000000 div n_exact")
        .cast("long")
        .alias("err_e6"),
    )


def kmv_hashes(
    df: DataFrame, group_col: str, value_col: str, distinct: bool = True
) -> "DataFrame":
    """Deterministic 60-bit md5 hashes per group, ``(grp, h)`` — the
    mergeable raw material of the KMV sketch. ``distinct=True``
    (default, the historical shape) dedups to the distinct hash set —
    a corpus-sized exchange with map-side combine. ``distinct=False``
    emits the raw hash stream for consumers that dedup inside their
    own shuffle (``kmv_bottom_k(dedup=True)`` — r18, guide §2.4: the
    dedup rides the sub-bucket window's exchange instead of paying
    its own)."""
    from pyspark.sql import functions as F

    out = df.select(
        F.col(group_col).alias("grp"),
        F.conv(F.substring(F.md5(F.col(value_col).cast("string")), 1, 15), 16, 10)
        .cast("long")
        .alias("h"),
    )
    return out.distinct() if distinct else out


def kmv_bottom_k(
    h: DataFrame, k: int, salt: int = 64, dedup: bool = False
) -> "DataFrame":
    """Truncate a ``(grp, h)`` hash table to each group's k smallest —
    the bounded mergeable sketch state. Union-then-truncate of any two
    bottom-k tables equals the bottom-k of the union (the KMV merge
    law), so incremental maintenance is lossless for the estimator.

    Two-level selection: a single per-``grp`` window would sort each
    group's ENTIRE distinct-hash universe in one partition — the
    per-group-global pathology (a handful of groups each holding a
    corpus share). Level 1 takes the bottom-k within ``salt``
    deterministic hash sub-buckets per group (distributed sort, the
    same KMV merge law makes this lossless: the group's true bottom-k
    is a subset of the union of its sub-bucket bottom-k's); level 2
    ranks the ≤ salt·k survivors per group — bounded, so ITS window
    partition is control-plane-sized at any corpus scale.

    ``dedup=True`` (r18, guide §2.4) accepts a NON-distinct hash
    stream, so the producer can skip its own ``.distinct()`` and its
    corpus-sized exchange: level 1 filters on a LONE ``dense_rank``
    (ranks distinct hash VALUES, so bottom-k of the multiset's
    distinct values ≡ distinct bottom-k — duplicates never change
    which k values are smallest), then a ``.distinct()`` over the
    bounded survivor set (≤ groups·salt·k values plus their local
    duplicates) collapses the remaining dups before level 2. The
    window deliberately carries NOTHING but the one dense_rank:
    Spark's rank-limit pushdown (WindowGroupLimit) then inserts a
    PARTIAL group limit below the exchange — each map task pre-prunes
    to its local bottom-k per (grp, sub-bucket) before anything
    shuffles — which a companion lag/row_number expression in the
    same window would disable, putting the whole raw stream on the
    wire. With the partial limit, the one corpus-sized term is a
    map-local sort; shuffle bytes stay survivor-sized at any scale,
    like the map-side combine the removed distinct used to provide.
    WindowGroupLimit needs Spark >= 3.5 (plan shape pinned in
    ``tests/test_sketches.py``)."""
    from pyspark.sql import Window, functions as F

    w1 = Window.partitionBy("grp", "_sl").orderBy("h")
    hh = h.withColumn("_sl", F.pmod(F.col("h"), F.lit(int(salt))))
    if dedup:
        # the k smallest DISTINCT values per sub-bucket, then collapse
        # their local duplicates — already exactly the level-1 result
        cand = (
            hh.select(
                "grp", "_sl", "h", F.dense_rank().over(w1).alias("rn")
            )
            .filter(F.col("rn") <= k)
            .select("grp", "h")
            .distinct()
        )
    else:
        cand = hh.select(
            "grp", "_sl", "h", F.row_number().over(w1).alias("rn")
        ).filter(F.col("rn") <= k)
    w = Window.partitionBy("grp").orderBy("h")
    return (
        cand.select("grp", "h", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= k)
        .select("grp", "h")
    )


def kmv_estimate(h: DataFrame, k: int) -> "DataFrame":
    """``(grp, n_hashes, kmv_est)`` from a ``(grp, h)`` hash table
    (full or bottom-k-truncated — the estimate is identical, which is
    what makes the sketch mergeable)."""
    from pyspark.sql import Window, functions as F

    w = Window.partitionBy("grp").orderBy("h")
    ranked = h.select("grp", "h", F.row_number().over(w).alias("rn"))
    per = ranked.groupBy("grp").agg(
        F.count(F.lit(1)).cast("long").alias("n_hashes"),
        F.max(F.when(F.col("rn") == k, F.col("h"))).alias("hk"),
    )
    est = F.when(F.col("hk").isNull(), F.col("n_hashes")).otherwise(
        F.expr(
            f"CAST(CAST({k - 1} AS DECIMAL(38,0)) "
            f"* CAST(1152921504606846976 AS DECIMAL(38,0)) div hk AS BIGINT)"
        )
    )
    return per.select("grp", "n_hashes", est.cast("long").alias("kmv_est"))


def kmv_overlap(
    df: DataFrame,
    group_col: str,
    value_col: str,
    k: int = 256,
    include_exact: bool = False,
) -> "DataFrame":
    """Pairwise KMV set-operation estimates between every two groups'
    value sets (Beyer et al. 2007, "On synopses for distinct-value
    estimation under multiset operations"). The DEFAULT is the
    production shape — sketch columns only, ``(grp_a, grp_b, n_x,
    kmv_matches, kmv_union_est, kmv_inter_est, kmv_jaccard_e6)``;
    ``include_exact=True`` opts IN to the audit shape that carries
    the exact answer beside every estimate so each row is its own
    accuracy report: ``(grp_a, grp_b, n_exact_a, n_exact_b,
    n_inter_exact, n_union_exact, jaccard_exact_e6, n_x, kmv_matches,
    kmv_union_est, kmv_inter_est, kmv_jaccard_e6, err_e6)``.

    Estimators: with ``X`` the k smallest hashes of the UNION of the
    two bottom-k sketches (itself a valid KMV sketch of the union —
    the KMV merge law), ``union_est`` is the standard (k-1)*2^60/h_k
    estimate on ``X``; ``rho = |{h in X : h in A and h in B}| / |X|``
    estimates Jaccard; ``inter_est = rho * union_est``. When the
    union holds fewer than k distinct hashes everything is exact by
    construction.

    "Exact" columns count distinct 60-bit HASHES (hash collisions are
    part of the sketch's error budget, exactly as in
    :func:`kmv_distinct`); the deterministic md5 schedule makes every
    column layout-invariant and hence SQL-replayable value-for-value.

    Scale shape: sketches are k-bounded per group, so the pairwise
    stage is #groups^2 x k rows — control-plane sized for source-level
    census (the intended use; pair docs with MinHash-LSH instead).
    The pair spine is a broadcast nested-loop over the DISTINCT GROUP
    LIST only, never over data rows. The exact columns are the
    accuracy report: a value-universe-sized hash self-join that a
    100 TB deployment drops — which is why the sketch-only shape is
    the DEFAULT (measured: the audit join is >80% of wall time once
    the value universe is corpus-sized, e.g. shingles; the
    sketch-only path's single data-sized term is ONE raw-hash pass
    through the bottom-k sub-bucket window — r18: the dedup rides
    that window and the group spine comes from the persisted sketch,
    so neither a separate distinct exchange nor a second corpus scan
    remains). ``include_exact=True`` is the explicit opt-in for the
    audit.
    """
    from pyspark.sql import Window, functions as F

    from rootstock_collective_state_sync_spark.caching import (
        tracked_persist,
    )

    if include_exact:
        # the audit shape consumes the distinct-hash table FOUR ways
        # (sketch, per-group counts, both sides of the exact
        # intersection self-join) — pin it once (vocabulary-sized;
        # the audit is the run-on-a-sample opt-in) so the corpus
        # chain runs once, not once per consumer (r18, guide §5).
        h = tracked_persist(kmv_hashes(df, group_col, value_col))
        bk = tracked_persist(kmv_bottom_k(h, k))
    else:
        # production shape: the raw hash stream dedups INSIDE the
        # bottom-k sub-bucket window (r18, guide §2.4) — one
        # corpus-sized exchange total, where the distinct-then-window
        # form paid two ((grp,h) aggregate + (grp,_sl) window).
        # persisted (eager): BOTH pair-tagging joins below consume
        # the bottom-k sketch table — unpersisted, each join side
        # re-ran the whole shingle→md5→bottom-k chain (the
        # corpus-sized stage of this operator) from scratch. The
        # sketch table itself is #groups × k rows — the cheapest
        # possible thing to pin.
        bk = tracked_persist(
            kmv_bottom_k(
                kmv_hashes(df, group_col, value_col, distinct=False),
                k,
                dedup=True,
            )
        )

    # group spine from the persisted k-bounded sketch (r18, guide
    # §2.4): every group with >= 1 input row keeps >= 1 bottom-k row
    # (even a null hash survives as one row), so this is EXACTLY the
    # input's distinct group set — the former
    # ``df.select(group).distinct()`` spine re-ran the whole
    # corpus-sized shingle chain a second time just to list the
    # groups.
    g = bk.select("grp").distinct()
    pairs = (
        g.select(F.col("grp").alias("grp_a"))
        .join(g.select(F.col("grp").alias("grp_b")), F.col("grp_a") < F.col("grp_b"))
    )

    tag_a = pairs.join(
        bk.select(F.col("grp").alias("grp_a"), "h"), "grp_a"
    ).select("grp_a", "grp_b", "h", F.lit(1).alias("ia"), F.lit(0).alias("ib"))
    tag_b = pairs.join(
        bk.select(F.col("grp").alias("grp_b"), "h"), "grp_b"
    ).select("grp_a", "grp_b", "h", F.lit(0).alias("ia"), F.lit(1).alias("ib"))
    merged = (
        tag_a.unionByName(tag_b)
        .groupBy("grp_a", "grp_b", "h")
        .agg(F.max("ia").alias("ia"), F.max("ib").alias("ib"))
    )
    w = Window.partitionBy("grp_a", "grp_b").orderBy("h")
    x = (
        merged.select("grp_a", "grp_b", "h", "ia", "ib", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= k)
        .groupBy("grp_a", "grp_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_x"),
            F.sum(F.col("ia") * F.col("ib")).cast("long").alias("kmv_matches"),
            F.max(F.when(F.col("rn") == k, F.col("h"))).alias("hk"),
        )
    )
    union_est = F.when(F.col("hk").isNull(), F.col("n_x")).otherwise(
        F.expr(
            f"CAST(CAST({k - 1} AS DECIMAL(38,0)) "
            f"* CAST(1152921504606846976 AS DECIMAL(38,0)) div hk AS BIGINT)"
        )
    )
    sk = x.select(
        "grp_a",
        "grp_b",
        "n_x",
        "kmv_matches",
        union_est.cast("long").alias("kmv_union_est"),
    ).select(
        "grp_a",
        "grp_b",
        "n_x",
        "kmv_matches",
        "kmv_union_est",
        F.expr(
            "CAST(CAST(kmv_matches AS DECIMAL(38,0)) "
            "* CAST(kmv_union_est AS DECIMAL(38,0)) div n_x AS BIGINT)"
        ).alias("kmv_inter_est"),
        F.expr("kmv_matches * 1000000 div n_x").cast("long").alias("kmv_jaccard_e6"),
    )

    if not include_exact:
        return sk.select(
            F.col("grp_a").alias(f"{group_col}_a"),
            F.col("grp_b").alias(f"{group_col}_b"),
            "n_x",
            "kmv_matches",
            "kmv_union_est",
            "kmv_inter_est",
            "kmv_jaccard_e6",
        )

    cnt = h.groupBy("grp").agg(F.count(F.lit(1)).cast("long").alias("n"))
    inter = (
        h.select(F.col("grp").alias("grp_a"), "h")
        .join(h.select(F.col("grp").alias("grp_b"), "h"), "h")
        .filter(F.col("grp_a") < F.col("grp_b"))
        .groupBy("grp_a", "grp_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_inter_exact"))
    )
    exact = (
        pairs.join(cnt.select(F.col("grp").alias("grp_a"), F.col("n").alias("n_exact_a")), "grp_a")
        .join(cnt.select(F.col("grp").alias("grp_b"), F.col("n").alias("n_exact_b")), "grp_b")
        .join(inter, ["grp_a", "grp_b"], "left")
        .withColumn("n_inter_exact", F.coalesce(F.col("n_inter_exact"), F.lit(0)).cast("long"))
        .withColumn(
            "n_union_exact",
            (F.col("n_exact_a") + F.col("n_exact_b") - F.col("n_inter_exact")).cast("long"),
        )
        .withColumn(
            "jaccard_exact_e6",
            F.expr("n_inter_exact * 1000000 div n_union_exact").cast("long"),
        )
    )
    return (
        exact.join(sk, ["grp_a", "grp_b"])
        .withColumn(
            "err_e6",
            F.abs(F.col("kmv_jaccard_e6") - F.col("jaccard_exact_e6")).cast("long"),
        )
        .select(
            F.col("grp_a").alias(f"{group_col}_a"),
            F.col("grp_b").alias(f"{group_col}_b"),
            "n_exact_a",
            "n_exact_b",
            "n_inter_exact",
            "n_union_exact",
            "jaccard_exact_e6",
            "n_x",
            "kmv_matches",
            "kmv_union_est",
            "kmv_inter_est",
            "kmv_jaccard_e6",
            "err_e6",
        )
    )
