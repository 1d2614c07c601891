"""Point-in-time (as-of) join — a pure DataFrame combinator.

The reference has no as-of join (SURVEY.md §2.9); this operator comes from
the engine's north rule: match each left row (entity, ts) with the latest
right row of the same entity having ``right.ts <= left.ts`` — zero temporal
leakage by construction.

Strategy (union + last-ignorenulls over a running window):

    union(left ∪ right) → Window.partitionBy(key).orderBy(ts, side)
    F.last(right_payload, ignorenulls=True).rowsBetween(-inf, 0)

One shuffle on the entity key, sorted by ts — the same work a sort-merge
as-of join would do, expressed with public API only so AQE still handles
skewed entities.  Rows at equal ts order the right side first (side flag in
the sort key), giving inclusive `<=` semantics identical to DuckDB/pandas
``ASOF JOIN``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str = "doc_id",
    ts: str = "ts",
    value_cols: list[str] | None = None,
    tolerance_seconds: float | None = None,
    suffix: str = "",
) -> DataFrame:
    """For each left row, attach the most recent right row (right.ts <= left.ts).

    Returns the left columns plus ``matched_ts`` and each right value column
    (optionally suffixed).  Left rows with no prior right row keep nulls.
    """
    value_cols = value_cols or [c for c in right.columns if c not in (on, ts)]

    payload = F.struct(
        F.col(ts).alias("__rts"), *[F.col(c).alias(c) for c in value_cols]
    )
    r = right.select(
        F.col(on).alias(on),
        F.col(ts).alias(ts),
        F.lit(0).alias("__side"),
        payload.alias("__payload"),
    )
    left_cols = left.columns
    l = left.select(*[F.col(c) for c in left_cols], F.lit(1).alias("__side"))
    # the missing `__payload` comes back as a typed null
    unioned = l.unionByName(r, allowMissingColumns=True)

    w = (
        Window.partitionBy(on)
        .orderBy(F.col(ts).asc(), F.col("__side").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    matched = unioned.withColumn("__m", F.last("__payload", ignorenulls=True).over(w))
    out = matched.filter(F.col("__side") == 1)

    m = F.col("__m")
    if tolerance_seconds is not None:
        within = m.isNotNull() & (
            F.col(ts).cast("timestamp").cast("double")
            - m["__rts"].cast("timestamp").cast("double") <= float(tolerance_seconds)
        )
        m = F.when(within, F.col("__m"))

    sel = [F.col(c) for c in left_cols]
    sel.append(m["__rts"].alias("matched_ts"))
    for c in value_cols:
        sel.append(m[c].alias(c + suffix))
    return out.select(*sel)


def asof_join_skew(
    left: DataFrame,
    right: DataFrame,
    on: str = "doc_id",
    ts: str = "ts",
    value_cols: list[str] | None = None,
    n_buckets: int = 16,
    suffix: str = "",
) -> DataFrame:
    """Skew-hardened as-of join: time-range-bucketed with carry seeding.

    The plain combinator windows over the whole per-entity history — one
    hot entity (10^6 revisions) stalls its task.  Here each entity's
    timeline is split into `n_buckets` equal time ranges so the big sort
    shuffles on (entity, bucket):

      1. per (entity, bucket): the LAST right payload (tiny aggregate);
      2. carry chain: forward-fill those seeds across buckets per entity —
         a window over the SMALL seeds table (entities × buckets rows);
      3. main pass: union left ∪ right within each (entity, bucket),
         window locally, coalesce misses with the carried seed.

    Exactly equivalent to `asof_join` (tested), but the heavy sort is keyed
    on (entity, bucket) — a hot entity spreads over n_buckets tasks.
    """
    value_cols = value_cols or [c for c in right.columns if c not in (on, ts)]
    ep = lambda c: c.cast("timestamp").cast("double")

    # bucket boundaries from the right side's global time range (collected
    # as two scalars — no skew sensitivity)
    lo, hi = right.agg(F.min(ep(F.col(ts))), F.max(ep(F.col(ts)))).collect()[0]
    if lo is None or hi is None or hi <= lo:
        return asof_join(left, right, on, ts, value_cols, suffix=suffix)
    width = (hi - lo) / n_buckets

    def bucket_of(c):
        return F.least(
            F.greatest(F.floor((ep(c) - F.lit(lo)) / F.lit(width)), F.lit(0)),
            F.lit(n_buckets - 1),
        ).cast("int")

    payload = F.struct(F.col(ts).alias("__rts"),
                       *[F.col(c).alias(c) for c in value_cols])
    r = right.select(F.col(on), F.col(ts), bucket_of(F.col(ts)).alias("__b"),
                     F.lit(0).alias("__side"), payload.alias("__payload"))

    # 1-2. carry seeds: last right payload per (entity, bucket), then the
    # carry for bucket b = last payload among buckets < b (ffill shifted)
    seeds = (
        r.withColumn("__rn", F.row_number().over(
            Window.partitionBy(on, "__b").orderBy(F.col(ts).desc())))
        .filter(F.col("__rn") == 1)
        .select(on, "__b", F.col("__payload").alias("__seed"))
    )
    wcarry = (Window.partitionBy(on).orderBy("__b")
              .rowsBetween(Window.unboundedPreceding, -1))
    # buckets with no right rows are absent from `seeds`; to ffill across
    # gaps, expand to the full bucket grid for entities that have any seed
    grid = seeds.select(on).distinct().crossJoin(
        left.sparkSession.range(n_buckets).select(F.col("id").cast("int").alias("__b"))
    )
    carries = (
        grid.join(seeds, [on, "__b"], "left")
        .withColumn("__carry", F.last("__seed", ignorenulls=True).over(wcarry))
        .select(on, "__b", "__carry")
    )

    # 3. local as-of within each (entity, bucket), seeded by the carry
    l = left.select(
        *[F.col(c) for c in left.columns],
        bucket_of(F.col(ts)).alias("__b"),
        F.lit(1).alias("__side"),
    )
    # each side's missing columns come back as typed nulls
    unioned = l.unionByName(r, allowMissingColumns=True)
    wloc = (Window.partitionBy(on, "__b")
            .orderBy(F.col(ts).asc(), F.col("__side").asc())
            .rowsBetween(Window.unboundedPreceding, 0))
    matched = (
        unioned.withColumn("__m_loc", F.last("__payload", ignorenulls=True).over(wloc))
        .filter(F.col("__side") == 1)
        .join(carries, [on, "__b"], "left")
        .withColumn("__m", F.coalesce(F.col("__m_loc"), F.col("__carry")))
    )
    m = F.col("__m")
    sel = [F.col(c) for c in left.columns]
    sel.append(m["__rts"].alias("matched_ts"))
    for c in value_cols:
        sel.append(m[c].alias(c + suffix))
    return matched.select(*sel)
