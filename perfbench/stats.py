"""The benchmark's arithmetic: medians, geometric means, span self time,
space amplification and result digests.  Kept free of I/O so the tests can
pin it."""
import hashlib
import math
import statistics


def median(xs):
    return statistics.median(xs) if xs else 0.0


def geomean(xs):
    """Geometric mean of positive values."""
    xs = list(xs)
    if not xs:
        return 0.0
    if min(xs) <= 0:
        raise ValueError("geomean needs positive values")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, lo, hi):
    return [(max(s, lo), min(e, hi)) for s, e in intervals if min(e, hi) > max(s, lo)]


def self_time(span, children):
    """A span's duration minus the part of it its children cover;
    children may overlap each other and stick out of the span."""
    lo, hi = span
    return (hi - lo) - union_length(clip(children, lo, hi))


def space_amp(table_bytes, plain_copy_bytes):
    """Bytes the table keeps on storage per byte of one plain copy of
    its live rows."""
    if plain_copy_bytes <= 0:
        raise ValueError("plain copy is empty")
    return table_bytes / plain_copy_bytes


def rows_digest(rows):
    """Order-free digest of a result given as rows of values."""
    canon = sorted("|".join("NULL" if v is None else str(v) for v in r) for r in rows)
    return hashlib.sha256("\n".join(canon).encode()).hexdigest()
