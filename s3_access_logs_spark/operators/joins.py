"""Join operators Spark lacks natively — expressed as compositions of
built-in ops (SURVEY §2.3 "Joins": as-of / range shapes).

As-of join: for each left row, the latest right row with right.ts <=
left.ts (backward) per key — the classic point-in-time join. Implemented
as union + ordered window + last(ignorenulls): one shuffle on (key), no
cross join, no per-key driver loop. This is the standard scalable as-of
plan; a sort-merge-based native operator could shave the window pass, but
the union trick keeps everything in Catalyst-optimizable territory.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from s3_access_logs_spark.session import scoped_cache


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str] | str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    right_prefix: str = "r_",
    direction: str = "backward",
) -> DataFrame:
    """Point-in-time join. Right payload columns come back prefixed; left
    rows with no match keep NULLs (left-join semantics).

    direction='backward': latest right.ts <= left.ts (ties include equal
    timestamps, right row wins deterministically).
    direction='forward': earliest right.ts >= left.ts.
    """
    keys = [on] if isinstance(on, str) else list(on)
    payload = [c for c in right.columns if c not in keys]
    r = right.select(
        *keys,
        F.col(right_ts).alias("_ts"),
        F.struct(*[F.col(c) for c in payload]).alias("_rval"),
    ).withColumn("_side", F.lit(0))
    l = left.withColumn("_ts", F.col(left_ts)).withColumn("_side", F.lit(1))
    u = r.unionByName(l, allowMissingColumns=True)
    if direction == "backward":
        w = (
            Window.partitionBy(*keys)
            .orderBy(F.col("_ts").asc(), F.col("_side").asc())
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        matched = F.last("_rval", ignorenulls=True).over(w)
    elif direction == "forward":
        w = (
            Window.partitionBy(*keys)
            .orderBy(F.col("_ts").desc(), F.col("_side").asc())
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        matched = F.last("_rval", ignorenulls=True).over(w)
    else:
        raise ValueError(f"unknown direction: {direction}")
    out = (
        u.withColumn("_matched", matched)
        .filter(F.col("_side") == 1)
        .drop("_ts", "_side", "_rval")
    )
    for c in payload:
        out = out.withColumn(f"{right_prefix}{c}", F.col("_matched").getField(c))
    return out.drop("_matched")


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    salt: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Equi-join hardened against a skewed LEFT key distribution.

    The hot key's rows land in one shuffle partition in a plain join — one
    straggler task does all the work. Salting splits each left key into
    ``salt`` sub-keys (deterministically, from a hash of the whole left row,
    so replays and retries shuffle identically) and replicates each right
    row ``salt`` times, restoring correctness while spreading the hot key
    across ``salt`` tasks.

    Use when the right side is too big to broadcast but much smaller than
    the left (replication costs |right| x salt shuffle rows).

    Decision rule vs AQE (measured, pinned by
    ``tests/test_operators.py::TestSkewVsAqe``): AQE's skew split
    (enabled in session.py) rewrites a skewed sort-merge join by
    replicating the matching partition — when the join's output feeds a
    partitioning-agnostic consumer (write, limit, global agg), AQE
    handles the skew and salting buys nothing, so DON'T salt. But when
    the join's output partitioning is REUSED by a same-key downstream
    operator (groupBy on the join key, another join on it, a window),
    AQE declines the split — splitting would break the distribution the
    downstream stage requires without inserting a new exchange — and the
    hot key's entire join fan-out lands back on one straggler task.
    That aggregation-after-join shape is where a-priori salting pays:
    the join work spreads across ``salt`` tasks, and the downstream
    groupBy re-shuffles through map-side partial aggregation, which
    compresses the hot key before it can re-concentrate. Use
    ``key_skew_stats``/``suggest_salt`` to decide and size.

    Only left-preserving joins are valid: the right side is replicated
    ``salt`` times, so a right/full-outer (or right-anti) join would emit up
    to ``salt`` duplicate null-extended rows per unmatched right row
    (ADVICE r1).
    """
    allowed = {"inner", "left", "leftouter", "left_outer", "semi",
               "leftsemi", "left_semi", "anti", "leftanti", "left_anti",
               "cross"}
    if how.lower() not in allowed:
        raise ValueError(
            f"salted_join(how={how!r}): right side is replicated {salt}x, so "
            "only left-preserving joins are correct "
            "(inner/left/left_semi/left_anti)"
        )
    lcols = [F.col(c) for c in left.columns]
    l_salted = left.withColumn(
        "_salt", F.pmod(F.xxhash64(*lcols), F.lit(salt)).cast("int")
    )
    r_salted = right.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
    )
    return l_salted.join(r_salted, [on, "_salt"], how).drop("_salt")


def key_skew_stats(
    df: DataFrame, key_cols: list[str] | str, top_n: int = 10
) -> dict:
    """Pre-flight skew diagnostics for a join/groupBy key: the numbers
    that decide whether a plain shuffle is safe, AQE's skew split is
    enough, or an a-priori ``salted_join`` is required.

    One aggregation pass over the key counts (map-side partial, shuffle
    carries one row per distinct key) plus a driver-side top-N. Returns
    ``{rows, n_keys, max_count, p50, p99, skew_ratio, top_keys}`` where
    ``skew_ratio = max_count / mean_count`` — the factor by which the
    hottest key's task outweighs an average task. A ratio near 1 is
    uniform; 10+ means the hot key dominates its shuffle partition and
    the stage's wall clock is that one task.
    """
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    # Persisted across the two actions (summary aggregate + top-N): the
    # expensive part is the input scan + count shuffle, and without the
    # persist the second action recomputes both — doubling the cost of
    # the diagnostic on exactly the giant inputs it exists for.
    with scoped_cache() as cache:
        counts = cache(df.groupBy(*keys).agg(F.count(F.lit(1)).alias("_n")))
        summary = counts.agg(
            F.sum("_n").alias("rows"),
            F.count(F.lit(1)).alias("n_keys"),
            F.max("_n").alias("max_count"),
            F.expr("percentile_approx(_n, 0.5)").alias("p50"),
            F.expr("percentile_approx(_n, 0.99)").alias("p99"),
        ).first()
        if not summary["n_keys"]:  # empty input: all-zero stats, no crash
            return {
                "rows": 0,
                "n_keys": 0,
                "max_count": 0,
                "p50": 0,
                "p99": 0,
                "skew_ratio": 0.0,
                "top_keys": [],
            }
        top = (
            counts.orderBy(F.col("_n").desc(), *[F.col(k) for k in keys])
            .limit(top_n)
            .collect()
        )
    mean = summary["rows"] / summary["n_keys"]
    return {
        "rows": summary["rows"],
        "n_keys": summary["n_keys"],
        "max_count": summary["max_count"],
        "p50": summary["p50"],
        "p99": summary["p99"],
        "skew_ratio": summary["max_count"] / max(mean, 1e-12),
        "top_keys": [
            ({k: r[k] for k in keys}, r["_n"]) for r in top
        ],
    }


def suggest_salt(
    df: DataFrame,
    key_cols: list[str] | str,
    target_rows_per_task: int = 1_000_000,
    max_salt: int = 256,
) -> int:
    """Salt factor for ``salted_join`` derived from measured skew: enough
    sub-keys that the hottest key's rows split into tasks of at most
    ``target_rows_per_task`` (1 = no salting needed). Capped because the
    right side is replicated ``salt``× — past the cap, fix the data model
    (pre-aggregate the hot key or split it out) instead of salting
    harder."""
    import math

    stats = key_skew_stats(df, key_cols, top_n=1)
    return max(
        1,
        min(max_salt, math.ceil(stats["max_count"] / target_rows_per_task)),
    )
