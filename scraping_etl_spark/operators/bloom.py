"""Bloom-filter membership screen (Bloom 1970, "Space/time trade-offs
in hash coding with allowable errors").

The scale pattern this enables is SEMI-JOIN REDUCTION: before an
expensive corpus x blocklist equi-join (banned-content screens,
benchmark decontamination, visited-URL suppression), screen the
100 TB side against a bits-sized summary of the small side — rows the
filter rejects are DEFINITELY absent (no false negative, the Bloom
invariant) and skip the join entirely; only the ~fp-rate sliver of
survivors pays the exact verification join. Spark's own runtime uses
the same trick internally (InjectRuntimeFilter's bloom pushdown); this
operator makes it an explicit, composable relation so pipelines can
build a filter ONCE and screen many corpora/micro-batches against it.

Spark-first design, mirroring the CMS tier (operators/sketches.py):

- The filter is a DataFrame of distinct SET BIT positions — never a
  driver-side bitset. Build = ``stack`` over ``k`` literal hash seeds
  → ``pmod(xxhash64(key, seed), m)`` → ``distinct``; bounded at
  ``m_bits`` rows regardless of key count, partial-agg before the one
  bounded exchange. Disjoint builds MERGE by union+distinct (bitwise
  OR in relation form), so incremental maintenance is trivial.
- Probes ``stack`` the same k hashes per distinct key and count
  matched seeds against the filter relation; ``hits == k`` ⇒ maybe
  member. The filter side joins broadcast behind a MEASURED
  :func:`materialize.fits` probe (the ``decontaminate`` convention) —
  at the default geometry it always fits, but a caller-supplied
  ``m_bits`` in the billions must fall back to the un-hinted
  equi-join rather than OOM the driver.
- Hashes are ``xxhash64`` with literal seeds: deterministic plan
  constants, identical across runs and partitionings. (xxhash64 is
  not reproducible in DuckDB, so driver gates check the Bloom
  CONTRACT — no false negative vs an exact membership twin — as a
  verdict column, the CMS/HLL tolerance-gate convention; the fp-rate
  bound is pytest-pinned.)

False-positive rate: ~``(1 - e^(-k·n/m))^k`` for n distinct keys —
the classic formula; at the defaults (m=2^20, k=5) a 100k-key
blocklist screens at ~0.005%% fp.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from scraping_etl_spark import materialize as M

BLOOM_BITS = 1 << 20
BLOOM_HASHES = 5

#: Broadcast the set-bit relation only below this many rows (~8 MB of
#: longs at the cap) — the measured-probe ceiling.
MAX_BROADCAST_BITS = 8_000_000


def _probe_cells(key_col: str, m_bits: int, k_hashes: int) -> str:
    cells = ", ".join(
        f"{seed}, pmod(xxhash64({key_col}, {seed}), {m_bits})"
        for seed in range(k_hashes)
    )
    return f"stack({k_hashes}, {cells}) AS (seed, bit)"


def bloom_build(
    df: DataFrame,
    key_col: str = "key",
    m_bits: int = BLOOM_BITS,
    k_hashes: int = BLOOM_HASHES,
) -> DataFrame:
    """Build the filter over ``df[key_col]``: the distinct set-bit
    relation ``(bit)``, at most ``m_bits`` rows. One bounded
    distinct-exchange; map-side partial agg collapses each task to
    <= m_bits rows first."""
    if m_bits < 2:
        raise ValueError(f"m_bits must be >= 2, got {m_bits}")
    if k_hashes < 1:
        raise ValueError(f"k_hashes must be >= 1, got {k_hashes}")
    return (
        df.select(F.expr(_probe_cells(key_col, m_bits, k_hashes)))
        .select("bit")
        .distinct()
    )


def bloom_screen(
    df: DataFrame,
    bloom: DataFrame,
    key_col: str = "key",
    m_bits: int = BLOOM_BITS,
    k_hashes: int = BLOOM_HASHES,
) -> DataFrame:
    """Screen every row of ``df``: gains ``bloom_hit`` — true iff all
    ``k_hashes`` probe bits are set (maybe-member; false ⇒ definitely
    not a member). Geometry MUST match the build (same ``m_bits``/
    ``k_hashes`` — a mismatch silently voids the no-false-negative
    guarantee, so like ``cms_estimate`` callers own both sides).

    Plan: distinct keys → ``stack`` k probes → join the (measured,
    usually broadcast) bit relation → per-key matched-seed count →
    join the flag back onto ``df`` on the key. The screened corpus is
    never shuffled when the bit relation broadcasts — both joins are
    map-side."""
    keys = df.select(F.col(key_col).alias("_bk")).distinct()
    probes = keys.select(
        "_bk", F.expr(_probe_cells("_bk", m_bits, k_hashes))
    )
    bits = bloom.select(F.col("bit"), F.lit(True).alias("_set"))
    fits = M.fits(bits, MAX_BROADCAST_BITS)
    flags = (
        probes.join(F.broadcast(bits) if fits else bits, "bit", "left")
        .groupBy("_bk")
        .agg(
            (F.count(F.when(F.col("_set"), F.lit(1))) == k_hashes).alias("bloom_hit")
        )
    )
    # the flag relation is DISTINCT-KEY-scale (not bit-scale) — no
    # broadcast hint; AQE picks from its measured size
    flagged = df.join(flags, df[key_col] == flags["_bk"], "left").drop("_bk")
    return flagged.withColumn("bloom_hit", F.coalesce(F.col("bloom_hit"), F.lit(False)))
