"""Skew-mitigation utilities: salted joins for hot keys.

AQE's skew-join handling (enabled in session.py) splits oversized
shuffle partitions automatically and is the first line of defense. A
salted join is the explicit tool for the case AQE can't fix: a single
join KEY so hot that every row of it lands in one task regardless of
partition splitting (AQE splits partitions, not keys, when the build
side must see all matching rows).

Shape: the probe (large, skewed) side gets a uniform random salt in
[0, salt); the build side is replicated ``salt`` times via a tiny
exploded range — the join key becomes (key, salt), spreading each hot
key over ``salt`` tasks. Cost: build side × salt (choose salt ≈
executor-count for the hot keys' throughput, keep the build side
small — classic salting is for fact ⋈ mid-size-dim joins where
broadcast is too big and one key dominates).

``rand(seed)`` is fine here (unlike the engine's hash/minhash
determinism contracts) because the salt only routes rows — it never
appears in results.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_join(
    probe: DataFrame,
    build: DataFrame,
    on: str,
    salt: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Equi-join ``probe ⋈ build on (on)`` with the probe side salted
    over ``salt`` buckets and the build side replicated to match.
    Output columns = probe ∪ build-minus-key, like a plain
    ``df.join(other, on)``."""
    if salt < 1:
        raise ValueError("salt must be >= 1")
    p = probe.withColumn("_salt", (F.rand(42) * salt).cast("int"))
    replicas = F.explode(F.sequence(F.lit(0), F.lit(salt - 1))).alias("_salt")
    b = build.select("*", replicas)
    out = p.join(b, [on, "_salt"], how)
    return out.drop("_salt")
