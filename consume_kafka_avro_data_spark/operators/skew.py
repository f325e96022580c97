"""Skew mitigation: salted joins.

Skewed keys are the classic 100 TB failure mode: one hot key (a null
FK, a bot user, an empty-string subject in the SPO stream) lands an
entire shuffle partition on one task and the stage runs at straggler
speed.  AQE's skew-join splitting (enabled in session.py) handles the
sort-merge case automatically; the operators here are the explicit,
deterministic fallback for when AQE can't help — joins where the
skewed side must stay a hash join.

The salt is *deterministic* — ``pmod(xxhash64(entire row), S)`` —
never ``rand()``: results and partition placement are then reproducible
across retries and re-runs, which matters for exactly-once sinks (a
retried task re-produces identical salted keys, so downstream dedup
still holds).

Salted join: the small side is replicated S× (explode over the salt
range) — cost S·|small|, the standard space-for-balance trade; the
skewed side scatters its hot keys over S tasks.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

SALT = "_salt"


def _row_salt(df: DataFrame, n: int) -> Column:
    """Deterministic per-row salt in [0, n): hash of the whole row.
    Duplicate rows share a salt — harmless for correctness, and hot
    *keys* (many distinct rows) still spread over all n buckets."""
    return F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(n)).cast("int")


def salted_join(
    skewed: DataFrame,
    small: DataFrame,
    on: str | list[str],
    how: str = "inner",
    salt_buckets: int = 16,
) -> DataFrame:
    """Equi-join with the skewed side scattered over ``salt_buckets``
    sub-keys and the small side replicated to every sub-key.

    Equivalent row-for-row to ``skewed.join(small, on, how)`` for
    how ∈ {inner, left, leftsemi, leftanti}: every (key, salt) pair on
    the left finds the same matches it would on key alone, because the
    right side carries all salts of every key.  Right/full joins are
    REFUSED: an unmatched small-side key would surface once per salted
    copy (salt_buckets spurious NULL-padded rows), so the equivalence
    silently breaks — use the small side as the probe side instead.
    """
    # normalize the way Spark's own JoinType does (lowercase, strip
    # underscores) so 'Inner'/'LEFT_OUTER' keep working
    allowed = {"inner", "left", "leftouter", "semi", "leftsemi", "anti",
               "leftanti"}
    if how.lower().replace("_", "") not in allowed:
        raise ValueError(
            f"salted_join supports how in {sorted(allowed)}, got {how!r}: "
            "right/full joins would emit one unmatched row per salted "
            "copy of the small side"
        )
    keys = [on] if isinstance(on, str) else list(on)
    lhs = skewed.withColumn(SALT, _row_salt(skewed, salt_buckets))
    rhs = small.withColumn(
        SALT, F.explode(F.array(*[F.lit(i) for i in range(salt_buckets)]))
    )
    return lhs.join(rhs, keys + [SALT], how).drop(SALT)
