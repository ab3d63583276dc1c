"""Scalar expression library (SURVEY §2.6, C1-C9).

Every function here returns a native Spark ``Column`` expression — no
Python UDFs. The reference computed the same things with pandas string
ops and row-at-a-time Python loops (``itertuples``/``iterrows``,
reference ``dags/icpe-siretisation.py:248-250,287-289`` and
``dags/publish-open-data.py:45-47``); translating those loops to column
expressions keeps the whole plan inside whole-stage codegen — the single
biggest performance-relevant translation decision (SURVEY §2.8/§4).

Null-semantics notes (SURVEY §2.9) are documented per function: the
pandas originals have quirky NaN behavior (``len(str(NaN)) == 3``,
regex no-match → NaN, decode-unknown → ``''``) that we normalize to
explicit, unit-tested Spark expressions.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def concat_null_to_empty(left: Column, right: Column, sep: str = "_") -> Column:
    """C1: ``left + sep + right`` with null propagation, then null → ''.

    Reference ``dags/icpe-siretisation.py:153-154``:
    ``rubrique_ic + '_' + alinea`` then ``fillna('')`` — a null on either
    side nulls the whole concat, which then becomes ''. ``concat_ws``
    would NOT be faithful (it skips nulls instead of nulling out), so we
    use plain ``concat`` wrapped in ``coalesce``.
    """
    return F.coalesce(F.concat(left, F.lit(sep), right), F.lit(""))


def regexp_extract_null(col: Column, pattern: str, group: int = 1) -> Column:
    """C2: regex extract with pandas null semantics.

    Reference ``dags/icpe-siretisation.py:236`` extracts a postal code
    with ``r'(\\d{5}) '``; pandas yields NaN on no-match while Spark's
    ``regexp_extract`` yields ``''``. ``nullif(…, '')`` restores the
    pandas behavior (SURVEY §2.9.2-adjacent quirk, C2 row).
    """
    return F.nullif(F.regexp_extract(col, pattern, group), F.lit(""))


def prefix_zero(col: Column) -> Column:
    """C3: restore a lost leading zero: ``'0' + code``
    (reference ``dags/icpe-siretisation.py:280`` — GEREP s3ic codes come
    out of the spreadsheet with the leading zero stripped). The general
    normalization is ``lpad(col, n, '0')``; the faithful op is the plain
    prefix."""
    return F.concat(F.lit("0"), col)


def lpad_code(col: Column, width: int) -> Column:
    """C3 (general form): zero-pad an identifier to fixed width."""
    return F.lpad(col, width, "0")


def backfill_if_invalid(
    current: Column, candidate: Column, valid_len: int = 14
) -> Column:
    """C4: coalesce-if-invalid backfill.

    Reference ``dags/icpe-siretisation.py:248-250,287-289`` loops rows:
    if ``len(str(current)) < 14`` and ``len(str(candidate)) == 14``,
    overwrite the SIRET with the candidate. ``str(NaN)`` is ``'nan'``
    (length 3 → invalid) — SURVEY §2.9.1; the faithful vectorized form
    treats null as length 0 via ``coalesce(length(c), 0)``.
    """
    cur_len = F.coalesce(F.length(current), F.lit(0))
    cand_ok = F.coalesce(F.length(candidate), F.lit(0)) == valid_len
    return F.when((cur_len != valid_len) & cand_ok, candidate).otherwise(current)


def conditional_overwrite(
    target: Column, condition: Column, value: Column
) -> Column:
    """C5: conditional overwrite (reference
    ``dags/publish-open-data.py:45-47`` — an ``iterrows`` loop setting
    ``verificationStatus='VERIFIED'`` when ``companyTypes=='{PRODUCER}'``,
    rebuilt as a single ``when/otherwise``)."""
    return F.when(condition, value).otherwise(target)


def pct(numer: Column, denom: Column) -> Column:
    """C9: percentage arithmetic used by the stats report
    (reference ``dags/icpe-siretisation.py:352,354``)."""
    return numer / denom * F.lit(100.0)


def hash_key(*cols: Column | str) -> Column:
    """The package's one hash for a join, grouping or bucket key: the
    64-bit xxhash64 (Spark's fixed seed 42) of ``cols`` as a long, so a
    shuffle moves and a join compares 8 bytes instead of the values.

    Two distinct values collide with probability 2⁻⁶⁴; over ``n``
    distinct values the expected number of colliding pairs is
    n(n−1)/2⁶⁵ ≈ n²/2⁶⁵ — about 0.7 at 5×10⁹ values. Every caller either
    verifies its candidates on the raw values afterwards (a collision
    only adds a candidate) or states what a collision would miscount
    (``docs/SCALE.md`` § Global posture, "Hash keys"). An independently
    salted second key is ``hash_key(F.lit(salt), ...)``."""
    return F.xxhash64(*cols)
