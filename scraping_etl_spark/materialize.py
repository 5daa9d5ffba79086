"""The one tier decision: is a relation small enough to broadcast, or to
collect to the driver?

Every operator asks it the same way, through :func:`fits` (or
:func:`bounded_count` when the count itself is needed): a
``limit(cap + 1).count()`` probe. The limit short-circuits, so the
probe is one job that never counts past ``cap + 1`` rows, and it is a
count, never a collect: an over-cap relation is not shipped to the
driver just to learn that it is over the cap. A cap of 0 admits only
the empty relation.

Callers read their cap at call time from a module constant, never from
a default argument, so a test can ``monkeypatch`` the constant to force
the over-cap tier.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

#: Broadcast a relation of narrow keys (hashes, grams, words, domains,
#: natural keys) only below this many rows. At ~40-50 B/row serialized
#: that is ~80-100 MB, comfortably inside a default driver/executor
#: heap and far above any real benchmark, blocklist, update batch or
#: training vocabulary; past it the join drops the hint and runs as a
#: shuffle join on the key instead of OOMing the broadcast build.
BROADCAST_ROWS = 2_000_000


def bounded_count(df: DataFrame, cap: int) -> int:
    """``df``'s row count, exact up to ``cap`` and ``cap + 1`` past it:
    one short-circuiting job."""
    return df.limit(cap + 1).count()


def fits(df: DataFrame, cap: int) -> bool:
    """True iff ``df`` holds at most ``cap`` rows."""
    return bounded_count(df, cap) <= cap
