"""Order-preserving key-component codecs.

The reference restricts row-key literals to strings (its composer drops
every non-string predicate value, composer.rs:175); this module is the
extension that lifts that limit for int64 components WITHOUT touching the
lexicographic machinery: an int64 value is stored inside the row key as

    format(v + 2**63, '020d')

— offset to unsigned (negatives land below positives) and zero-padded to
the fixed 20-digit width of 2⁶⁴−1, so for any a, b:

    a < b  ⇔  encode(a) < encode(b)   (lexicographically)

That single property is what lets the entire existing stack — the
composer's closed KeyRanges, parquet min/max footer pruning, the
manifest's key bounds, the ReadRows RowSet, sorted-stream pivoting —
operate on int-keyed tables unchanged: predicates encode on the way into
the composer, components decode on the way out of the key split.  The
relational schema exposes a BIGINT; users filter with ints.

(Contrast with the qualifier-VALUE encoding (sources/cells.py): cell
values use 8-byte big-endian two's complement, where negatives sort ABOVE
positives and range pushdown needs two sign intervals.  Keys choose the
offset-decimal form instead precisely so that no consumer of key order
needs sign-interval special cases.)
"""

from __future__ import annotations

_OFFSET = 2**63
WIDTH = 20  # len(str(2**64 - 1))


def encode_int_key(v: int) -> str:
    """Order-preserving fixed-width encoding of a signed int64."""
    v = int(v)
    if not -_OFFSET <= v < _OFFSET:
        raise ValueError(f"int64 key component out of range: {v}")
    return format(v + _OFFSET, f"0{WIDTH}d")


def decode_int_key(s: str) -> int:
    return int(s) - _OFFSET


def encode_predicates(preds, partition_cols, key_types):
    """Encode int literal values inside composer predicates for int64-typed
    key components; string components pass through untouched.  Returns a
    new predicate list understood by the (string-only) composer."""
    from datafusion_bigtable_spark.plans.composer import Between, Eq, In

    if key_types is None:
        return list(preds)
    int_cols = {
        c for c, t in zip(partition_cols, key_types) if t == "int64"
    }
    out = []
    for p in preds:
        if isinstance(p, Eq) and p.col in int_cols and isinstance(p.value, int):
            out.append(Eq(p.col, encode_int_key(p.value)))
        elif isinstance(p, In) and p.col in int_cols:
            out.append(
                In(
                    p.col,
                    tuple(
                        encode_int_key(v) if isinstance(v, int) else v for v in p.values
                    ),
                    p.negated,
                )
            )
        elif isinstance(p, Between) and p.col in int_cols:
            lo = encode_int_key(p.low) if isinstance(p.low, int) else p.low
            hi = encode_int_key(p.high) if isinstance(p.high, int) else p.high
            out.append(Between(p.col, lo, hi, p.negated))
        else:
            out.append(p)
    return out
