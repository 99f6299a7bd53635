"""Temporal join operators Spark lacks as built-ins: as-of join and
banded range join.

The reference implements no joins at all (SURVEY.md §2.2 — its only
lookup is an in-memory dimension map, T6); these are part of the
general analytics surface, built as compositions of DataFrame ops —
no UDFs, no Catalyst extensions.

Scale design:

- As-of join: the naive formulation (theta join `r.ts <= l.ts` then
  keep latest) is O(|L|·|R|) per key and explodes on hot keys. The
  union-and-sweep form used here is O((|L|+|R|) log) with exactly ONE
  shuffle on the join key: tag both sides, union, sort within key by
  time, and carry the latest right-row struct forward with
  last(ignoreNulls) over an unbounded-preceding frame. No pair blowup
  at any key cardinality, and AQE handles residual key skew.
- Banded range join (|l.ts - r.ts| <= band): bin timestamps to the
  band width and equi-join on (key, bin), replicating the smaller
  side to its 3 adjacent bins, then apply the exact band predicate.
  Turns an unbounded theta join into an equi shuffle join whose
  fan-out is bounded by 3× the smaller side — the standard
  interval-binning trick.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    right_values: Sequence[str],
    tie_breaker: str | None = None,
    prefix: str = "asof_",
    tolerance_seconds: int | None = None,
) -> DataFrame:
    """Left as-of join: for every left row, attach the right row with
    the greatest ``right_ts <= left_ts`` within the same ``on`` key
    (ties broken by the greatest ``tie_breaker``). Left rows with no
    prior right row keep nulls — LEFT ASOF JOIN semantics.

    ``tolerance_seconds`` bounds staleness (the feature-store
    point-in-time rule: a feature older than the tolerance must NOT
    leak into the row): a match whose ts trails the left ts by more
    than the tolerance is nulled out. Because in-tolerance right rows
    are a suffix of the prior rows in ts order, "latest prior, nulled
    if stale" equals "latest among in-tolerance" — so the sweep needs
    no second pass. The staleness test compares whole epoch seconds
    (timestamp→long truncation on both engines) for oracle parity.

    Output: all left columns + ``prefix + right_ts`` + each
    ``prefix + right_values`` column.
    """
    tie = tie_breaker or right_ts
    payload = F.struct(
        F.col(right_ts).alias("__ts"),
        *[F.col(c).alias(c) for c in right_values],
    )
    l_cols = left.columns
    r = right.select(
        F.col(on).alias("__key"),
        F.col(right_ts).alias("__t"),
        F.col(tie).alias("__tie"),
        F.lit(0).alias("__side"),
        payload.alias("__payload"),
        # Null-padded left columns so both sides union by name.
        *[
            F.lit(None).cast(left.schema[c].dataType).alias(c)
            for c in l_cols
        ],
    )
    l = left.select(
        F.col(on).alias("__key"),
        F.col(left_ts).alias("__t"),
        # Left rows sort AFTER right rows at equal ts (<= is inclusive)
        # and carry a null payload for last(ignoreNulls) to skip.
        F.lit(None).cast(r.schema["__tie"].dataType).alias("__tie"),
        F.lit(1).alias("__side"),
        F.lit(None).cast(r.schema["__payload"].dataType).alias("__payload"),
        *[F.col(c) for c in l_cols],
    )
    w = (
        Window.partitionBy("__key")
        .orderBy(
            F.col("__t").asc(),
            F.col("__side").asc(),
            F.col("__tie").asc_nulls_last(),
        )
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    swept = r.unionByName(l).withColumn(
        "__match", F.last("__payload", ignorenulls=True).over(w)
    )
    if tolerance_seconds is not None:
        fresh = (
            F.col("__t").cast("long")
            - F.col("__match.__ts").cast("long")
        ) <= F.lit(tolerance_seconds)
        swept = swept.withColumn(
            "__match", F.when(fresh, F.col("__match"))
        )
    return swept.filter(F.col("__side") == 1).select(
        *l_cols,
        F.col("__match.__ts").alias(f"{prefix}{right_ts}"),
        *[F.col(f"__match.{c}").alias(f"{prefix}{c}") for c in right_values],
    )


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: str | list[str],
    n_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-mitigated equi join: the classic salting rewrite for a
    hot-keyed fact side joining a dimension too big to broadcast.

    The left (fact) side gets a deterministic salt in [0, n_salts);
    the right side is replicated once per salt value; the join key
    becomes (key, salt), so one hot key's rows spread over n_salts
    shuffle partitions instead of hammering one task. The salt only
    routes — it never changes which rows match — so results are
    identical to the plain join (value-checked by the registered
    query's oracle). Inner/left joins only: a right row's matches
    stay complete because every salt partition carries a copy.

    AQE's skew-join handles moderate skew automatically; explicit
    salting is for the pathological keys AQE's split thresholds miss
    or where deterministic partition sizing is required.
    """
    if how not in ("inner", "left"):
        raise ValueError("salted_join supports inner/left joins only")
    keys = [on] if isinstance(on, str) else list(on)
    salt = F.pmod(
        F.xxhash64(*[F.col(c) for c in left.columns]), F.lit(n_salts)
    ).cast("int")
    l = left.withColumn("__salt", salt)
    # explode cannot nest inside a cast; sequence(int, int) already
    # yields array<int>, matching the left side's int salt
    r = right.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    )
    return l.join(r, [*keys, "__salt"], how).drop("__salt")


def band_join_count(
    left: DataFrame,
    right: DataFrame,
    on_left: str,
    on_right: str,
    left_ts: str,
    right_ts: str,
    band: Column,
    band_seconds: int,
    agg_alias: str = "n_in_band",
) -> DataFrame:
    """Per-left-row count of right rows with the same key and
    ``|right_ts - left_ts| <= band`` — the banded range join, reduced
    to an equi join by binning.

    The left side is replicated to its bin and both neighbors (3×);
    each right row lives in exactly one bin, so every qualifying pair
    meets in exactly one (key, bin) bucket — no dedup needed.
    """
    bin_l = F.floor(F.unix_timestamp(F.col(left_ts)) / band_seconds)
    bin_r = F.floor(F.unix_timestamp(F.col(right_ts)) / band_seconds)
    l = left.withColumn(
        "__bin", F.explode(F.array(bin_l - 1, bin_l, bin_l + 1))
    )
    r = right.select(
        F.col(on_right).alias("__rkey"),
        F.col(right_ts).alias("__rts"),
        bin_r.alias("__bin"),
    )
    in_band = (
        F.abs(
            F.unix_timestamp(F.col("__rts"))
            - F.unix_timestamp(F.col(left_ts))
        )
        <= band
    )
    joined = l.join(
        r,
        (F.col(on_left) == F.col("__rkey")) & (l["__bin"] == r["__bin"]),
        "left",
    )
    # Count in-band matches conditionally rather than filtering: a
    # left row whose bin-matches are ALL out-of-band must still
    # surface with count 0 (left-join semantics).
    agg = joined.groupBy(*[F.col(c) for c in left.columns]).agg(
        F.sum(F.when(in_band, 1).otherwise(0)).alias(agg_alias)
    )
    return agg
