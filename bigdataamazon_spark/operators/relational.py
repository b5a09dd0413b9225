"""Relational operator builders (SURVEY.md §2.2-2.6, 2.8).

Generalizations of the reference's single-table pandas calls to the
testdata star schema. All Catalyst-native: scans stay pruned/pushed,
aggregates get partial+final hash agg, joins pick broadcast vs
sort-merge on their own (dimension tables are explicitly broadcast
where we know they stay small at any scale factor).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def duplicate_stats(df: DataFrame, cols: list[str]) -> DataFrame:
    """D1 (``amazon1.py:119-120``): total vs distinct vs duplicate rows
    over a projection, as one aggregate pass."""
    return df.select(*cols).agg(
        F.count(F.lit(1)).alias("total_rows"),
        F.count_distinct(*[F.col(c) for c in cols]).alias("distinct_rows"),
        (F.count(F.lit(1)) - F.count_distinct(*[F.col(c) for c in cols])).alias("dup_rows"),
    )


def _hist_width(bins: int) -> Column:
    """The ONE place the equi-width formula lives — bucketing and edge
    labels both use it (over the carried _mn/_mx columns) so counts and
    edges can never drift apart."""
    return (F.col("_mx") - F.col("_mn")) / F.lit(float(bins))


def _hist_bounds(df: DataFrame, col: str, bins: int):
    """(bounds_df, width_expr) for the equi-width bin arithmetic."""
    c = F.col(col)
    bounds = df.agg(F.min(c).alias("_mn"), F.max(c).alias("_mx"))
    return bounds, _hist_width(bins)


def _hist_counts(df: DataFrame, col: str, bins: int) -> DataFrame:
    """(bucket, n, _mn, _mx): bucket counts with the bounds CARRIED
    THROUGH the aggregate (first() on broadcast constants is free), so
    edge labels never need a second bounds scan."""
    c = F.col(col)
    bounds, width = _hist_bounds(df, col, bins)
    bucket = F.least(F.floor((c - F.col("_mn")) / width), F.lit(bins - 1)).cast("bigint")
    return (
        df.select(c)
        .crossJoin(F.broadcast(bounds))
        .select(bucket.alias("bucket"), "_mn", "_mx")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.first("_mn").alias("_mn"),
            F.first("_mx").alias("_mx"),
        )
    )


def histogram(df: DataFrame, col: str, bins: int) -> DataFrame:
    """A4 (``amazon1.py:68,92``): equi-width histogram with data-driven
    bounds. One agg for min/max (broadcast back), one hash-agg for the
    bucket counts — two scans, no sort, no driver round-trip."""
    return _hist_counts(df, col, bins).select("bucket", "n")


def histogram_with_edges(df: DataFrame, col: str, bins: int) -> DataFrame:
    """``histogram`` plus (lo, hi) bin edges from the SAME bounds agg —
    the presentation layer (report.py) labels bars with these instead
    of re-encoding the width formula or re-scanning for min/max (the
    bounds ride through the count agg; still exactly two scans)."""
    width = _hist_width(bins)
    return _hist_counts(df, col, bins).select(
        "bucket",
        (F.col("_mn") + F.col("bucket") * width).alias("lo"),
        (F.col("_mn") + (F.col("bucket") + 1) * width).alias("hi"),
        "n",
    )


def describe_column(df: DataFrame, col: str, *, round_to: int = 4) -> DataFrame:
    """One row of A2's describe() (``amazon1.py:62``) with EXACT
    percentiles (pandas parity; Spark's summary() is approximate).

    p25/p50/p75 come from ONE ``percentile(c, array(...))`` aggregate
    indexed afterwards: the same exact algorithm as three scalar
    ``percentile`` calls, so the values are identical, but the column's
    values are buffered and sorted once instead of three times."""
    c = F.col(col)
    q = F.col("_quartiles")
    return df.agg(
        F.lit(col).alias("col_name"),
        F.count(c).alias("n"),
        F.round(F.avg(c), round_to).alias("mean"),
        F.round(F.stddev(c), round_to).alias("std"),
        F.round(F.min(c), round_to).alias("min"),
        F.percentile(c, [0.25, 0.5, 0.75]).alias("_quartiles"),
        F.round(F.max(c), round_to).alias("max"),
    ).select(
        "col_name", "n", "mean", "std", "min",
        F.round(q[0], round_to).alias("p25"),
        F.round(q[1], round_to).alias("p50"),
        F.round(q[2], round_to).alias("p75"),
        "max",
    )


def describe(df: DataFrame, cols: list[str], *, round_to: int = 4) -> DataFrame:
    out = describe_column(df, cols[0], round_to=round_to)
    for c in cols[1:]:
        out = out.unionByName(describe_column(df, c, round_to=round_to))
    return out


def corr_pairs(df: DataFrame, pairs: list[tuple[str, str]], *, round_to: int = 6) -> DataFrame:
    """A3 (``amazon1.py:97-98``): Pearson correlations as one aggregate
    row (SQL-expressible, unlike ml.stat.Correlation's matrix)."""
    aggs = [
        F.round(F.corr(a, b), round_to).alias(f"corr_{a}_{b}") for a, b in pairs
    ]
    return df.agg(*aggs)


def topk_per_group(
    df: DataFrame, group_col: str, order_col: str, tiebreak_col: str, k: int
) -> DataFrame:
    """T2 generalized: per-group top-k with deterministic tiebreak."""
    w = Window.partitionBy(group_col).orderBy(F.desc(order_col), F.asc(tiebreak_col))
    return df.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def star_join(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    nation: DataFrame,
    region: DataFrame,
) -> DataFrame:
    """lineitem⋈orders⋈customer⋈nation⋈region (J2 generalized).

    Fact-to-fact (lineitem-orders) shuffles on the join key; the
    dimension chain is broadcast so the big side never re-shuffles —
    the plan that survives a 100× scale-up.
    """
    return (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )


def revenue() -> Column:
    return F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))


def salted_join(
    big: DataFrame,
    small: DataFrame,
    big_key: str,
    small_key: str,
    *,
    salt_buckets: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-buster equi-join: salt the big side's key, replicate the
    small side once per salt bucket, join on (key, salt).

    A hot key (one customer with 30% of events, one null-ish default id)
    lands all its rows on one reducer in a plain shuffle join; salting
    splits it across ``salt_buckets`` reducers at the cost of
    replicating the small side ×buckets. AQE's skew-join splits
    post-shuffle partitions and usually wins without this — use salting
    when the skew sits in a single KEY (AQE can't split one key's hash
    group across joins) or when AQE is off. Result columns match the
    plain join (salt columns dropped).
    """
    salted_big = big.withColumn(
        "_salt", (F.rand(seed=7) * salt_buckets).cast("int")
    )
    salted_small = small.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1)))
    )
    if big_key == small_key:
        # name-based join coalesces the key column like the plain join
        out = salted_big.join(salted_small, [big_key, "_salt"], how)
    else:
        out = salted_big.join(
            salted_small,
            (salted_big[big_key] == salted_small[small_key])
            & (salted_big["_salt"] == salted_small["_salt"]),
            how,
        )
    return out.drop("_salt")


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_col: str,
    *,
    n_buckets: int = 8,
    sort_col: str | None = None,
) -> None:
    """Persist df as a bucketed (+ optionally sorted) managed table.

    Two tables bucketed identically on their join key co-locate: the
    join compiles with ZERO Exchange on either side (asserted in
    tests/test_bucketing.py). This is the pre-shuffle-once,
    join-many-times strategy for repeated fact⋈fact joins at 100 TB —
    the one join shape broadcast can't save.
    """
    w = df.write.mode("overwrite").format("parquet")
    w = w.bucketBy(n_buckets, bucket_col)
    if sort_col is not None:
        w = w.sortBy(sort_col)
    w.saveAsTable(table_name)


def merge_upsert(
    snapshot: DataFrame, changes: DataFrame, key_cols: list[str]
) -> DataFrame:
    """MERGE (upsert) a change set into a snapshot: matched keys take
    the change row, unmatched snapshot rows pass through, new keys
    insert. Both frames must share a schema.

    Plan shape for the common case (changes ≪ snapshot): the snapshot
    is LEFT ANTI joined against just the change KEYS — a broadcast hash
    probe, so the snapshot is never shuffled — then the change rows
    union on. This is the merge-on-read strategy table formats use;
    here it is the engine-level operator. (A full-outer join would
    shuffle both sides on the key for the same result.)
    """
    from pyspark.sql import functions as F

    keys = changes.select(*key_cols).distinct()
    kept = snapshot.join(F.broadcast(keys), key_cols, "left_anti")
    return kept.unionByName(changes)


def referential_audit(
    relations: list[tuple[str, DataFrame, str, DataFrame, str]],
) -> DataFrame:
    """Orphan-count audit over declared FK relationships.

    ``relations``: (name, child_df, child_key, parent_df, parent_key)
    rows; returns (fk, orphans) — rows of the child whose key misses in
    the parent. Each check is one LEFT ANTI join; dimension parents
    broadcast, so the audit of a 100 TB fact table is a map-side pass
    per relationship. Counts (including zeros) always appear: an
    integrity report that silently omits a clean check is unreadable.
    """
    from functools import reduce

    from pyspark.sql import functions as F

    counts = []
    for name, child, ck, parent, pk in relations:
        orphans = child.select(F.col(ck).alias("k")).join(
            parent.select(F.col(pk).alias("k")), "k", "left_anti"
        )
        counts.append(
            orphans.agg(F.count(F.lit(1)).alias("orphans")).select(
                F.lit(name).alias("fk"), "orphans"
            )
        )
    return reduce(lambda a, b: a.unionByName(b), counts)


def binned_range_join(
    facts: DataFrame,
    value_col: str,
    intervals: DataFrame,
    lo_col: str,
    hi_col: str,
    bin_width: float,
) -> DataFrame:
    """Interval (theta) join rewritten as an equi-join on a bin grid —
    the scale path when the interval side is too big to broadcast, where
    a BroadcastNestedLoopJoin would be O(|facts| · |intervals|).

    Each interval ``[lo, hi)`` explodes to the bins it overlaps
    (``(hi - lo) / bin_width + 1`` rows — bounded, chosen by the
    caller); each fact lands in exactly one bin; a hash equi-join on
    the bin id pairs them, and the exact predicate re-checks as a
    residual filter. A fact meets an interval in exactly one bin (the
    fact's own), so no post-join dedup is needed. Shuffles hash on the
    bin id — both sides exchange once, no cartesian anywhere, and AQE
    can split hot bins. Pick ``bin_width`` near the typical interval
    width: wider bins → fewer replicated interval rows but more
    residual-filtered pairs; narrower → the reverse.
    """
    fb = facts.withColumn(
        "_vbin", F.floor(F.col(value_col) / F.lit(bin_width)).cast("long")
    )
    ib = intervals.withColumn(
        "_vbin",
        F.explode(
            F.sequence(
                F.floor(F.col(lo_col) / F.lit(bin_width)).cast("long"),
                F.floor(F.col(hi_col) / F.lit(bin_width)).cast("long"),
            )
        ),
    )
    return (
        fb.join(ib, "_vbin")
        .filter((F.col(value_col) >= F.col(lo_col)) & (F.col(value_col) < F.col(hi_col)))
        .drop("_vbin")
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key_col: str,
    ts_col: str,
    *,
    right_prefix: str = "r_",
) -> DataFrame:
    """Backward as-of join: for each left row, the latest right row of
    the same key with ``right.ts <= left.ts`` (left-outer: unmatched
    left rows keep nulls). The canonical time-series enrichment join —
    trades-to-quotes, event-to-session, feature-as-of-label.

    Spark has no AsOfJoin operator, and the naive formulation
    (range join + per-left-row argmax) explodes into every (left,
    right) pair within the time bound. This is the union-window plan
    instead: tag both inputs, union them, and run ONE window per key
    ordered by (ts, side) taking the last non-null right payload —
    right rows sort before left rows at equal ts, which is exactly the
    inclusive <= semantics. Cost: a single hash exchange on key + a
    per-key sort; output rows = left rows, never a pair blow-up. Skewed
    keys split fine under AQE since the window partitions by key alone.
    """
    from pyspark.sql.types import StructType

    payload_fields = [f for f in right.schema.fields if f.name != key_col]
    payload_type = StructType(payload_fields)
    rstruct = F.struct(*[F.col(f.name) for f in payload_fields])

    lhs = left.select(
        F.col(key_col),
        F.col(ts_col).alias("_ts"),
        F.lit(1).alias("_side"),
        F.struct(*[F.col(c) for c in left.columns]).alias("_lrow"),
        F.lit(None).cast(payload_type).alias("_rrow"),
    )
    rhs = right.select(
        F.col(key_col),
        F.col(ts_col).alias("_ts"),
        F.lit(0).alias("_side"),
        F.lit(None).cast(lhs.schema["_lrow"].dataType).alias("_lrow"),
        rstruct.alias("_rrow"),
    )
    w = (
        Window.partitionBy(key_col)
        .orderBy("_ts", "_side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    matched = (
        lhs.unionByName(rhs)
        .withColumn("_m", F.last("_rrow", ignorenulls=True).over(w))
        .filter(F.col("_side") == 1)
    )
    out_cols = [F.col(f"_lrow.{c}").alias(c) for c in left.columns] + [
        F.col(f"_m.{f.name}").alias(f"{right_prefix}{f.name}") for f in payload_fields
    ]
    return matched.select(*out_cols)


def snapshot_diff(
    before: DataFrame, after: DataFrame, key_cols: list[str]
) -> DataFrame:
    """Row-level diff of two table snapshots: (keys..., change) with
    change in {added, removed, updated, unchanged} — the audit that
    turns 'the pipeline ran' into 'here is exactly what it did'.

    Payloads compare by md5 over ``to_json(struct(...))``, so only
    (key, 16-byte hash) crosses the wire — never row payloads. JSON
    structs keep field boundaries and nulls distinct (a value equal to
    a sentinel, or containing a delimiter, cannot collide the way a
    joined concat can). The full-outer join hashes on the key; at
    100 TB co-locate both snapshots with write_bucketed on the key and
    the exchange disappears entirely.
    """
    payload = [c for c in before.columns if c not in key_cols]

    def _h(df: DataFrame):
        return F.md5(
            F.to_json(F.struct(*[F.col(c).cast("string").alias(c) for c in payload]))
        )

    b = before.select(*key_cols, _h(before).alias("_bh"))
    a = after.select(*key_cols, _h(after).alias("_ah"))
    cls = (
        F.when(F.col("_bh").isNull(), "added")
        .when(F.col("_ah").isNull(), "removed")
        .when(F.col("_bh") != F.col("_ah"), "updated")
        .otherwise("unchanged")
    )
    return b.join(a, key_cols, "full_outer").select(*key_cols, cls.alias("change"))
