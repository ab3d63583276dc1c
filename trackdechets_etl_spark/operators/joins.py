"""Join operators (SURVEY §2.3, J1-J5).

All reference joins are single-key equi-joins executed as pandas hash
joins on whole in-memory tables. Spark mapping decisions, per join:

- Dimension-like right sides (etablissements, rubriques, GEREP,
  anonymous-company) are small → ``broadcast()`` hint, no shuffle of the
  fact side. At 100 TB the fact table never moves for these joins.
- The name-equality join (J2, reference
  ``dags/icpe-siretisation.py:243-246``) is many-to-many and can fan
  out rows; the reference accepts the fanout. We keep faithful-fanout as
  the default and offer a pre-dedup variant for scale (SURVEY §2.9.3).
- J5 (reference ``dags/publish-open-data.py:75-79``) is semantically a
  left-semi existence flag — built here without materializing the join
  payload.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def enrich_left(
    fact: DataFrame,
    dim: DataFrame,
    on: str | list[str] | Column,
    how: str = "left",
) -> DataFrame:
    """J1/J3/J4: left-outer (or inner) enrich of a fact table with a
    broadcast dimension (reference ``dags/icpe-siretisation.py:175,285,311``)
    — code/reference tables always fit in executor memory."""
    return fact.join(F.broadcast(dim), on, how)


def fanout_name_join(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    dedup_right: bool = False,
    right_order: str | None = None,
) -> DataFrame:
    """J2: equality join on a non-unique string key (company *name*,
    reference ``dags/icpe-siretisation.py:243-246``).

    ``dedup_right=False`` reproduces the reference's fanout faithfully.
    ``dedup_right=True`` is the scale path: keep one deterministic row
    per key on the right (ordered by ``right_order`` desc) before
    joining, so a hot key cannot multiply the fact table. Skewed name
    keys at scale are additionally handled by AQE skew-join splitting
    (enabled in the session factory).
    """
    r = right
    if dedup_right:
        order_col = F.col(right_order).desc() if right_order else F.col(right_key).asc()
        w = Window.partitionBy(right_key).orderBy(order_col)
        r = (
            right.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
    return left.join(r, left[left_key] == r[right_key], "left")


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    how: str = "inner",
    salt: int = 8,
) -> DataFrame:
    """Skew-safe equi-join: the left (big, skewed) side is salted into
    ``salt`` sub-keys and the right side is replicated once per salt
    value, so one hot key spreads across ``salt`` reducers instead of
    one straggler. AQE's skew-join split handles most cases at runtime;
    this is the explicit form for when the skew is known up front (or
    the join sits under an operator AQE can't split).

    The salt is derived from a hash of the left row's columns —
    deterministic, and correctness-neutral (any assignment is valid);
    hot-key rows differing in any column spread across reducers.
    Replication multiplies the right side ×``salt``: only use when the
    right side is modest (but too big / unwanted to broadcast).
    """
    salt_col = F.pmod(F.hash(*[F.col(c) for c in left.columns]), F.lit(salt))
    left2 = left.withColumn("__salt", salt_col)
    right2 = right.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
    )
    return left2.join(right2, [on, "__salt"], how).drop("__salt")


def existence_flag(
    left: DataFrame,
    right: DataFrame,
    on: str,
    flag_name: str,
    flag_value: str = "oui",
) -> DataFrame:
    """J5: left-semi existence flag (reference
    ``dags/publish-open-data.py:75-79`` builds ``non_diffusible='oui'``
    via a left join against a constant column).

    Implemented as a broadcast left join against the *distinct keys
    only* — equivalent to the reference's join but it cannot fan out
    even if the right side has duplicate keys, and it ships only the key
    column."""
    keys = right.select(on).distinct().withColumn(flag_name, F.lit(flag_value))
    return left.join(F.broadcast(keys), on, "left")
