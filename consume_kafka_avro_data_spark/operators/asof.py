"""As-of join (SURVEY §2.3 J7): for each left row, the nearest-earlier
(or nearest-later) right row per key — the canonical stream-enrichment
lookup ("state of X as of time t").

The reference's only join is an exact keyed lookup
(``src/Database.cpp:26-39``); an as-of join is its temporal
generalization and a required member of the relational closure.

Implementation is the **union + running-last trick**, not a range join:

1. tag right rows 0 / left rows 1 and union them on
   ``(keys…, _ts, _side, payloads)``;
2. one window ``partitionBy(keys).orderBy(_ts, _side)`` with
   ``rowsBetween(unboundedPreceding, currentRow)`` computes
   ``last(right_payload, ignorenulls=True)`` — a running value that the
   window operator maintains incrementally, O(1) per row;
3. keep the left rows and unpack both payload structs.

Why this shape at 100 TB: exactly ONE shuffle (hash by key, sort by time
within partition) regardless of how many right rows precede each left
row.  A range-join formulation (``r.ts <= l.ts`` + rank) explodes to the
full candidate set per left row before pruning; broadcast-nested-loop is
quadratic.  The union plan's cost is the sort — the same sort any
correct implementation needs.  Equal-timestamp semantics are encoded in
the ``_side`` sort key (right-before-left ⇒ inclusive match, matching
DuckDB/pandas ``ASOF JOIN`` / ``merge_asof`` defaults).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window, functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str] | str,
    left_ts: str,
    right_ts: str,
    right_cols: Sequence[str] | None = None,
    direction: str = "backward",
    strict: bool = False,
    tolerance_seconds: float | None = None,
) -> DataFrame:
    """Left as-of join: every left row, plus the matched right row's
    ``right_cols`` (renamed ``asof_{col}``), NULL when no match.

    direction='backward'  → match greatest right_ts <= left_ts;
    direction='forward'   → match least   right_ts >= left_ts;
    strict=True           → exclude equal timestamps;
    tolerance_seconds     → pandas ``merge_asof(tolerance=...)``
                            semantics: a running match farther than the
                            tolerance from the left timestamp becomes
                            no-match (all match columns NULL).  Applied
                            as a post-window predicate, so the plan
                            stays one shuffle.

    NULL timestamps are no-match rows (pandas ``merge_asof`` rejects
    them outright; we keep the row but never match it): null-ts right
    rows are dropped before the union, and null-ts left rows bypass the
    window (NULL sorts FIRST under asc / LAST under desc in Spark, so
    inside the window they would adopt a spurious running match).
    NULL join keys are no-match rows too — SQL equi-joins and
    ``merge_asof`` never match NULL to NULL, but ``Window.partitionBy``
    groups NULL keys into ONE partition, so without the guard a
    NULL-key left row would adopt a NULL-key right row as its match.
    """
    prefix = "asof_"
    keys = [on] if isinstance(on, str) else list(on)
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, got {direction!r}")
    right_cols = list(
        right_cols
        if right_cols is not None
        else [c for c in right.columns if c not in keys and c != right_ts]
    )

    left_payload = [c for c in left.columns if c not in keys and c != left_ts]
    if not left_payload:
        left = left.withColumn("_noop", F.lit(True))
        left_payload = ["_noop"]
    r_struct = F.struct(
        F.col(right_ts).alias(f"{prefix}{right_ts}"),
        *[F.col(c).alias(f"{prefix}{c}") for c in right_cols],
    )

    # NULL-ts / NULL-key guards (see docstring): such left rows ride
    # along unmatched; such right rows can never be anyone's match
    no_match = F.col(left_ts).isNull()
    droppable = F.col(right_ts).isNull()
    for k in keys:
        no_match = no_match | F.col(k).isNull()
        droppable = droppable | F.col(k).isNull()
    left_null = left.where(no_match)
    left = left.where(~no_match)
    right = right.where(~droppable)

    # Inclusive match ⇒ an equal-ts right row must already be inside the
    # running frame when the left row is evaluated ⇒ right sorts first.
    r_side, l_side = (1, 0) if strict else (0, 1)
    r = right.select(
        *keys,
        F.col(right_ts).alias("_ts"),
        F.lit(r_side).alias("_side"),
        F.lit(None).cast(
            left.select(F.struct(*left_payload).alias("s")).schema["s"].dataType
        ).alias("_l"),
        r_struct.alias("_r"),
    )
    l = left.select(
        *keys,
        F.col(left_ts).alias("_ts"),
        F.lit(l_side).alias("_side"),
        F.struct(*left_payload).alias("_l"),
        F.lit(None).cast(r.schema["_r"].dataType).alias("_r"),
    )

    ts_order = [F.col("_ts").asc(), F.col("_side").asc()]
    if direction == "forward":
        ts_order = [F.col("_ts").desc(), F.col("_side").asc()]
    w = (
        Window.partitionBy(*keys)
        .orderBy(*ts_order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )

    unioned = r.unionByName(l)
    matched = unioned.withColumn("_m", F.last("_r", ignorenulls=True).over(w)).where(
        F.col("_side") == l_side
    )
    if tolerance_seconds is not None:
        gap_us = F.abs(
            F.unix_micros(F.col("_ts").cast("timestamp"))
            - F.unix_micros(
                F.col(f"_m.{prefix}{right_ts}").cast("timestamp")
            )
        )
        matched = matched.withColumn(
            "_m",
            F.when(gap_us <= F.lit(int(tolerance_seconds * 1_000_000)), F.col("_m")),
        )
    out_cols = (
        [F.col(k) for k in keys]
        + [F.col("_ts").alias(left_ts)]
        + [F.col(f"_l.{c}").alias(c) for c in left_payload if c != "_noop"]
        + [F.col(f"_m.{prefix}{right_ts}").alias(f"{prefix}{right_ts}")]
        + [F.col(f"_m.{prefix}{c}").alias(f"{prefix}{c}") for c in right_cols]
    )
    out = matched.select(*out_cols)
    # null-ts left rows ride along unmatched (match columns all NULL)
    null_out = left_null.select(
        *[F.col(k) for k in keys],
        F.col(left_ts),
        *[F.col(c) for c in left_payload if c != "_noop"],
        F.lit(None).cast(right.schema[right_ts].dataType).alias(
            f"{prefix}{right_ts}"
        ),
        *[
            F.lit(None).cast(right.schema[c].dataType).alias(f"{prefix}{c}")
            for c in right_cols
        ],
    )
    return out.unionByName(null_out)
