"""Order-insensitive output digests.

A frame's digest comes from the JVM sink: the row count and the xor of
per-row xxhash64 values, taken after doubles are rounded to single
precision. A driver-side value (a summary, a quantile list, a few rows)
arrives as JSON with every digit; it is rounded the same way here before
hashing, so a different summation order is not a different result.
"""

import hashlib
import json
import struct


def round_float(x):
    """`x` rounded to the nearest single-precision float (24 significant
    bits, about seven decimal digits)."""
    try:
        return struct.unpack("<f", struct.pack("<f", x))[0]
    except OverflowError:
        return float("inf") if x > 0 else float("-inf")


def canonical(v):
    """`v` with every float rounded; ints, strings and structure kept."""
    if isinstance(v, bool) or v is None or isinstance(v, (int, str)):
        return v
    if isinstance(v, float):
        return round_float(v)
    if isinstance(v, list):
        return [canonical(x) for x in v]
    if isinstance(v, dict):
        return {k: canonical(x) for k, x in sorted(v.items())}
    raise TypeError(f"not a JSON value: {v!r}")


def value_digest(v):
    text = json.dumps(canonical(v), sort_keys=True, separators=(",", ":"))
    return "v:" + hashlib.sha256(text.encode()).hexdigest()[:16]


def op_digest(out):
    """The digest of one op's output record from the JVM."""
    if "rows" in out:
        return f"f:{out['rows']}:{out['xor']}"
    return value_digest(out["value"])
