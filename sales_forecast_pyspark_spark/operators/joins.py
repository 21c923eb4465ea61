"""Join operators (reference J1-J3, SURVEY.md §2.3) plus scale helpers.

The reference uses only equi-joins with the ``on=[names]`` form: a 1-key
left join of daily totals (py:530) and a 3-key left join of predictions
to the MA baseline (py:1308-1317). The engine keeps those and adds
key-salting for skewed shuffle joins, the strategy that matters at
100 TB.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def join_on(
    left: DataFrame,
    right: DataFrame,
    on: str | Sequence[str],
    how: str = "left",
) -> DataFrame:
    """Equi-join on shared column names."""
    return left.join(right, on=list(on) if not isinstance(on, str) else on, how=how)


# Left-preserving join modes only: the right side is exploded across all
# salt buckets, so right/full outer joins would emit every unmatched
# right row salt_buckets times.
_SALTED_JOIN_MODES = frozenset({"inner", "left", "left_outer", "left_semi", "left_anti"})


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    how: str = "inner",
    salt_buckets: int = 16,
) -> DataFrame:
    """Skew-resistant shuffle join: salt the (skewed) left side's key with
    a random bucket and explode the right side across all buckets, so one
    hot key spreads over ``salt_buckets`` reducers.

    Only left-preserving modes are supported (see ``_SALTED_JOIN_MODES``);
    AQE's skew-join handling (on by default in the engine session) covers
    most cases at runtime; use this when a key is so hot that even split
    shuffle blocks overwhelm a task.
    """
    if how not in _SALTED_JOIN_MODES:
        raise ValueError(
            f"salted_join supports left-preserving modes {sorted(_SALTED_JOIN_MODES)}; "
            f"got {how!r} (the exploded right side would duplicate unmatched rows)"
        )
    salt = "__salt"
    salted_left = left.withColumn(salt, (F.rand(seed=42) * salt_buckets).cast("int"))
    salted_right = right.withColumn(
        salt, F.explode(F.array(*[F.lit(i) for i in range(salt_buckets)]))
    )
    # merge hint (static-broadcast audit r09): the salted right side
    # sits behind an explode the static planner can't size, and at the
    # 10x rehearsal it BROADCAST the salt-exploded frame — which both
    # risks the un-demotable fictional-broadcast OOM at scale and
    # defeats the operator's whole purpose (a broadcast join has no
    # shuffle to de-skew; salting exists for the shuffle path).
    return salted_left.join(
        salted_right.hint("merge"), on=[*on, salt], how=how
    ).drop(salt)
