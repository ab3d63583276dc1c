"""Canonical row normalization shared by the verification probes.

Exact-repr float compare (no rounding, no tolerance): these helpers
back the invariance gate (`scripts/strategy_invariance.py`, whose
regimes include 7 vs 32 shuffle partitions), which exists specifically
to detect sub-epsilon float drift between execution regimes —
canonicalization looser than the driver's value hash would let the
drift pass. One definition so the gates can never disagree about what
"bit-identical" means. The oracle compares (`tests/test_oracle.py`,
`scripts/selfcheck_sf001.py`, perfbench's check) use it too.
"""

from __future__ import annotations

import math


def norm_val(v) -> str:
    # Type-tagged so no literal value can collide with another type's
    # normalized form (e.g. the string '~' vs NULL, the string 'NaN'
    # vs float NaN, the string '5' vs the int 5). A regime flip that
    # turns a NULL into a literal sentinel string must NOT pass the
    # bit-identical gates.
    if v is None:
        return "n:"
    if isinstance(v, bool):  # before int: bool is an int subclass
        return "b:" + str(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "f:NaN"
        return "f:" + repr(v)
    if isinstance(v, int):
        return "i:" + str(v)
    if isinstance(v, (bytes, bytearray)):
        return "y:" + bytes(v).hex()
    if hasattr(v, "isoformat"):
        return "d:" + v.isoformat()
    if isinstance(v, str):
        # Length-prefixed so container separators can never be forged
        # by string CONTENT: without it, ["a,s:b"] and ["a","b"] both
        # serialize to "a:[s:a,s:b]" and an element-boundary shift
        # between regimes would pass the bit-identical gates.
        return "s" + str(len(v)) + ":" + v
    # Containers (arrays/structs/maps) normalize element-wise so the
    # same collision-freedom holds inside nested values.
    if isinstance(v, (list, tuple)):
        return "a:[" + ",".join(norm_val(x) for x in v) + "]"
    if isinstance(v, dict):
        return (
            "m:{"
            + ",".join(
                norm_val(k) + "=" + norm_val(v[k])
                for k in sorted(v, key=repr)
            )
            + "}"
        )
    s = str(v)
    return "o" + str(len(s)) + ":" + s


def canon(rows, cols) -> list[tuple[str, ...]]:
    """Order-insensitive canonical form: columns sorted by name, rows
    sorted by their normalized string tuple."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(norm_val(r[i]) for i in order) for r in rows)
