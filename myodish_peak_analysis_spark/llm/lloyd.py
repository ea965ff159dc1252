"""NumPy Lloyd-assign kernels of the ANN fits: each vector's nearest
centroid, computed per Arrow batch inside ``mapInArrow`` (Spark
distributes the batches, NumPy does the dense arithmetic).

Both kernels give, bit for bit, what the Spark SQL form of the assign
gives (the higher-order-function expression the tests keep as the
reference):

* IVF, :func:`cosine_argmax`: the dot product is the fold
  ``acc = acc + double(x_j) * double(c_j)`` from 0.0 in dimension order,
  the cosine is ``dot / (_norm * c_norm)`` rounded by
  :func:`spark_round9`, and the largest rounded cosine wins under
  Spark's ordering (NULL below every number, NaN above every number and
  equal to NaN), ties to the lowest centroid.
* PQ, :func:`l2_argmin`: the same fold over ``(x - y) * (x - y)``,
  quantized by ``floor(d * 1e9 + 0.5) / 1e9`` with Spark's
  floor-to-bigint cast (NaN -> 0, saturating), and the smallest wins,
  NULL first, ties to the lowest centroid.

A NULL array, a NULL element or a length mismatch makes a pair's fold
NULL, as ``zip_with`` pads the shorter array with NULLs.

Centroid rows are given sorted by centroid_id, so "lowest centroid"
is the lowest row index. Row chunks bound every temporary to about
:data:`PAIRS_PER_CHUNK` (row, centroid) pairs.
"""

from __future__ import annotations

import math
import struct
from fractions import Fraction
from typing import NamedTuple

import numpy as np

PAIRS_PER_CHUNK = 1 << 20


class Rows(NamedTuple):
    """A list<float|double> column as NumPy arrays."""

    vals: np.ndarray  # float64, zero-padded to the longest row
    lens: np.ndarray  # row lengths, -1 for a NULL array
    null: np.ndarray  # the array is NULL or holds a NULL element


def dense_rows(arr) -> Rows:
    """:class:`Rows` of a pyarrow list array."""
    import pyarrow.compute as pc

    lens = pc.list_value_length(arr).fill_null(-1).to_numpy(zero_copy_only=False)
    n = len(lens)
    flat = arr.flatten()
    vals = flat.to_numpy(zero_copy_only=False).astype(np.float64)
    width = int(lens.max(initial=0))
    null = lens < 0
    if n and not flat.null_count and (lens == width).all():
        return Rows(vals.reshape(n, width), lens, null)
    sizes = np.maximum(lens, 0)
    row = np.repeat(np.arange(n), sizes)
    col = np.arange(len(vals)) - np.repeat(np.cumsum(sizes) - sizes, sizes)
    elem_null = flat.is_null().to_numpy(zero_copy_only=False)
    out = np.zeros((n, width))
    out[row, col] = np.where(elem_null, 0.0, vals)
    null[row[elem_null]] = True
    return Rows(out, lens, null)


# --- Spark ROUND(x, 9) of a double ------------------------------------

# bit lengths of 5**i, FloatingDecimal's N_5_BITS (5**0 counts as 0)
_N5_BITS = [0] + [(5**i).bit_length() for i in range(1, 27)]


def _java_decimal(d: float) -> Fraction:
    """The exact value of ``Double.toString(d)`` for a finite, non-zero,
    non-integral ``d > 0``: the digit loop of JDK 17's
    ``FloatingDecimal.BinaryToASCIIBuffer.dtoa``, including its 32- and
    64-bit overflow behaviour and its stopping rules. (Java's string is
    not always Python's shortest ``repr``; JDK 19 changed the
    algorithm.)"""
    bits = struct.unpack(">q", struct.pack(">d", d))[0]
    fract, bexp = bits & ((1 << 52) - 1), bits >> 52
    if bexp == 0:  # subnormal
        shift = 53 - fract.bit_length()
        fract, bexp, nsig = fract << shift, 1 - shift, fract.bit_length()
    else:
        fract, nsig = fract | 1 << 52, 53
    bexp -= 1023
    tail = (fract & -fract).bit_length() - 1
    nfract = 53 - tail
    ntiny = max(0, nfract - bexp - 1)
    d2 = struct.unpack(">d", struct.pack(">q", (1023 << 52) | (fract & ((1 << 52) - 1))))[0]
    dexp = math.floor((d2 - 1.5) * 0.289529654 + 0.176091259 + bexp * 0.301029995663981)
    b5 = m5 = max(0, -dexp)
    b2 = b5 + ntiny + bexp
    s5 = max(0, dexp)
    s2 = s5 + ntiny
    m2 = b2 - nsig
    fract >>= tail
    b2 -= nfract - 1
    common = min(b2, s2)
    b2, s2, m2 = b2 - common, s2 - common, m2 - common
    if nfract == 1:
        m2 -= 1
    if m2 < 0:
        b2, s2, m2 = b2 - m2, s2 - m2, 0
    bbits = nfract + b2 + (_N5_BITS[b5] if b5 < 27 else b5 * 3)
    tens_bits = s2 + 1 + (_N5_BITS[s5 + 1] if s5 + 1 < 27 else (s5 + 1) * 3)
    # FloatingDecimal runs this loop in int, long or FDBigInteger
    # arithmetic by size: the first two wrap on overflow and stop on
    # B + M > 10 S, the last stops on B + M >= 10 S
    w = (32 if bbits < 32 and tens_bits < 32 else 64) if bbits < 64 and tens_bits < 64 else 0

    def wrap(v: int) -> int:
        """``v`` as a Java int (w = 32) or long (w = 64)."""
        if not w:
            return v
        v &= (1 << w) - 1
        return v - (1 << w) if v >> (w - 1) else v

    b = wrap(wrap(fract * 5**b5) << b2)
    s = wrap(5**s5 << s2)
    m = wrap(5**m5 << m2)
    tens = wrap(s * 10)
    digits = []
    first = True
    while True:
        q, b = b // s, wrap(10 * (b % s))
        m = wrap(m * 10)
        if first or m > 0:
            low, high = b < m, (wrap(b + m) > tens if w else b + m >= tens)
        else:  # m overflowed
            low = high = True
        if first and q == 0 and not high:
            dexp -= 1
        else:
            digits.append(q)
        if first and (dexp < -3 or dexp >= 8):
            low = high = False
        first = False
        if low or high:
            break
    low_diff = wrap(wrap(b << 1) - tens)
    if high and (not low or low_diff > 0 or (low_diff == 0 and digits[-1] & 1)):
        i = len(digits) - 1
        while digits[i] == 9 and i > 0:
            digits[i] = 0
            i -= 1
        if digits[i] == 9:  # carry out of the first digit
            digits[0] = 1
            dexp += 1
        else:
            digits[i] += 1
    return Fraction(int("".join(map(str, digits)))) * Fraction(10) ** (dexp + 1 - len(digits))


def spark_round9(d: float) -> float:
    """Spark's ``ROUND(d, 9)`` of a double: NaN and ±Infinity pass
    through, anything else is ``BigDecimal.valueOf(d)`` (the decimal
    ``Double.toString`` prints) rounded HALF_UP to 9 places, then back
    to the nearest double."""
    if not math.isfinite(d) or d == int(d):
        return d + 0.0
    n = math.floor(_java_decimal(abs(d)) * 10**9 + Fraction(1, 2))
    return (-n if d < 0 else n) / 10**9


def _round9(r: np.ndarray) -> np.ndarray:
    """:func:`spark_round9` of finite doubles. Where ``|r| * 1e9`` is
    more than 1e-5 from a half-integer, its float rounding error (and
    the ~1e-7 gap between ``r`` and Java's decimal) cannot move it
    across one, so floor(y + 0.5) is exact; the rest take the exact
    decimal route."""
    y = np.abs(r) * 1e9
    q = np.floor(y + 0.5) / 1e9
    out = np.where(r < 0, -q, q) + 0.0
    slow = np.flatnonzero((np.abs(r) >= 2) | (np.abs(y - np.floor(y) - 0.5) < 1e-5))
    out[slow] = [spark_round9(float(v)) for v in r[slow]]
    return out


# --- kernels -------------------------------------------------------------


def _fold(x: Rows, c: Rows, ri: np.ndarray, ci: np.ndarray, term) -> tuple[np.ndarray, np.ndarray]:
    """(fold, NULL mask) of the (x[ri], c[ci]) pairs: ``acc = acc +
    term(x_j, y_j)`` from 0.0 over j in order. Zero padding adds exact
    zeros to the pairs whose lengths match; the rest are NULL."""
    null = x.null[ri] | c.null[ci] | (x.lens[ri] != c.lens[ci])
    acc = np.zeros(len(ri))
    for j in range(min(x.vals.shape[1], c.vals.shape[1])):
        acc = acc + term(x.vals[ri, j], c.vals[ci, j])
    return acc, null


def _mul(a, b):
    return a * b


def _sq_diff(a, b):
    return (a - b) * (a - b)


def cosine_argmax(
    x: Rows,
    x_norm: np.ndarray,
    x_norm_null: np.ndarray,
    c: Rows,
    c_norm: np.ndarray,
    c_norm_null: np.ndarray,
    ansi: bool = True,
) -> np.ndarray:
    """Row index into ``c`` of each ``x`` row's nearest centroid by
    rounded cosine. Under ANSI mode a non-NULL dot product over a zero
    ``_norm * c_norm`` raises, as Spark's division does; otherwise the
    cosine is NULL.

    Rows and centroids that are non-NULL, of the common length and of
    finite, non-zero norm are shortlisted by one BLAS product: a pair
    whose BLAS cosine is more than 1e-9 (plus a bound on the two sums'
    rounding difference) below its row's best cannot round to the row's
    best rounded cosine, so only the rest go through the exact fold.
    Every other pair is folded exactly."""
    n, k = len(x.lens), len(c.lens)
    best = np.zeros(n, dtype=np.int64)
    if not n or not k:
        return best
    width = int(c.lens.max())
    with np.errstate(all="ignore"):
        c_reg = np.flatnonzero(
            ~c.null & (c.lens == width) & ~c_norm_null & (c_norm > 0)
            & np.isfinite(c_norm) & np.isfinite(c.vals).all(axis=1)
        )
    c_other = np.setdiff1d(np.arange(k), c_reg)
    tol = 1e-9 + 1e-15 * (width + 4)
    step = max(1, PAIRS_PER_CHUNK // k)
    for lo in range(0, n, step):
        rows = np.arange(lo, min(n, lo + step))
        reg = ~x.null[rows] & (x.lens[rows] == width) & ~x_norm_null[rows]
        reg &= len(c_reg) > 0
        ri, ci = [], []
        pos = np.flatnonzero(reg)
        if len(pos):
            with np.errstate(all="ignore"):
                approx = (x.vals[rows[pos], :width] @ c.vals[c_reg].T) / (
                    x_norm[rows[pos], None] * c_norm[None, c_reg]
                )
            ok = np.isfinite(approx).all(axis=1)
            reg[pos[~ok]] = False
            pos, approx = pos[ok], approx[ok]
            rr, cc = np.nonzero(approx >= approx.max(axis=1, keepdims=True) - tol)
            ri += [rows[pos[rr]], np.repeat(rows[pos], len(c_other))]
            ci += [c_reg[cc], np.tile(c_other, len(pos))]
        other = rows[~reg]
        ri.append(np.repeat(other, k))
        ci.append(np.tile(np.arange(k), len(other)))
        ri, ci = np.concatenate(ri), np.concatenate(ci)
        dot, null = _fold(x, c, ri, ci, _mul)
        div = x_norm[ri] * c_norm[ci]
        live = ~null & ~x_norm_null[ri] & ~c_norm_null[ci]
        zero = live & (div == 0)
        if zero.any():
            if ansi:
                raise ArithmeticError(
                    "[DIVIDE_BY_ZERO] Division by zero: an embedding or a "
                    "centroid has norm 0"
                )
            live &= ~zero
        with np.errstate(all="ignore"):
            cos = dot / div
        # class: 0 NULL, 1 number, 2 NaN; -1 marks pairs the shortlist
        # ruled out (they lose to every candidate)
        cls = np.full((len(rows), k), -1, dtype=np.int8)
        val = np.zeros((len(rows), k))
        number = live & ~np.isnan(cos)
        cls[ri - lo, ci] = np.where(live, np.where(number, 1, 2), 0)
        val[ri[number] - lo, ci[number]] = _round9(cos[number])
        top = cls.max(axis=1)
        win = np.argmax(cls == top[:, None], axis=1)
        num = top == 1
        if num.any():
            is_num = cls[num] == 1
            v = val[num]
            vmax = np.where(is_num, v, -np.inf).max(axis=1)
            win[num] = np.argmax(is_num & (v == vmax[:, None]), axis=1)
        best[rows] = win
    return best


def _spark_floor_q9(d: np.ndarray) -> np.ndarray:
    """``floor(d * 1e9 + 0.5) / 1e9`` as Spark evaluates it: floor
    returns a bigint, so NaN becomes 0 and out-of-range values
    saturate at ±2**63."""
    with np.errstate(all="ignore"):
        f = np.floor(d * 1e9 + 0.5)
    return np.where(np.isnan(f), 0.0, np.clip(f, -(2.0**63), 2.0**63)) / 1e9


def l2_argmin(x: Rows, c: Rows) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(row index into ``c``, quantized distance, distance is NULL) of
    each ``x`` row's nearest centroid by quantized squared L2."""
    n, k = len(x.lens), len(c.lens)
    best = np.zeros(n, dtype=np.int64)
    dist = np.zeros(n)
    dist_null = np.zeros(n, dtype=bool)
    step = max(1, PAIRS_PER_CHUNK // max(k, 1))
    for lo in range(0, n, step):
        rows = np.arange(lo, min(n, lo + step))
        ri, ci = np.repeat(rows, k), np.tile(np.arange(k), len(rows))
        d, null = _fold(x, c, ri, ci, _sq_diff)
        q = _spark_floor_q9(d).reshape(len(rows), k)
        null = null.reshape(len(rows), k)
        win = np.where(null, -np.inf, q).argmin(axis=1)
        at = np.arange(len(rows))
        best[rows], dist[rows], dist_null[rows] = win, q[at, win], null[at, win]
    return best, dist, dist_null
