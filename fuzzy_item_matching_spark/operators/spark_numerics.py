"""Spark SQL's double arithmetic, evaluated over numpy arrays, so that
the boosting fits' driver-side round loops return the model rows Spark
plans (and the DuckDB twins) compute, bit for bit:

- ``exp`` is ``java.lang.StrictMath.exp``, fdlibm's ``e_exp.c``, which
  libm's and numpy's ``exp`` miss by an ulp on some inputs; ``log``
  (Spark's ``LOG``, the TF-IDF idf) is ``StrictMath.log``, fdlibm's
  ``e_log.c``, likewise;
- ``CAST(double AS DECIMAL(38, s))`` and ``round(double, s)`` round
  the double's shortest decimal string half up. NaN and ±inf cast to
  NULL, and a result past the precision raises, as ANSI mode does;
- DECIMAL sums are exact: integers scaled by 10^s, summed exactly in
  int64 base-10^9 limbs (below EXACT_ROWS rows; more raise rather
  than wrap); DECIMAL -> DOUBLE is a correctly rounded division.
"""

from __future__ import annotations

import math
import struct
from decimal import ROUND_HALF_UP, Context, Decimal

import numpy as np
from pyspark.errors import ArithmeticException

_LIMB, _N_LIMBS = 10**9, 5  # 10^45 covers DECIMAL(38, s)
# n·(10^9 − 1) < 2^63 − 1: the most rows an int64 limb sum holds
EXACT_ROWS = 9_000_000_000
# enough digits that no quantize or rescale below rounds: a finite
# double has at most 309 integer digits, so 327 at 18 places, before
# checked() rejects it (Python's default context holds only 28)
_CTX = Context(prec=400, rounding=ROUND_HALF_UP)


def _word(hi: int, lo: int = 0) -> float:
    """The double with these IEEE-754 high and low 32-bit words."""
    return struct.unpack("<d", struct.pack("<Q", (hi << 32) | lo))[0]


_LN2_HI = _word(0x3FE62E42, 0xFEE00000)
_LN2_LO = _word(0x3DEA39EF, 0x35793C76)
_INV_LN2 = _word(0x3FF71547, 0x652B82FE)
_P1, _P2, _P3, _P4, _P5 = (
    _word(0x3FC55555, 0x5555553E),
    _word(0xBF66C16C, 0x16BEBD93),
    _word(0x3F11566A, 0xAF25DE2C),
    _word(0xBEBBBD41, 0xC5D26BF1),
    _word(0x3E663769, 0x72BEA4D0),
)
_O_THRESHOLD = _word(0x40862E42, 0xFEFA39EF)
_U_THRESHOLD = _word(0xC0874910, 0xD52D3051)
_TWOM1000 = _word(0x01700000)


def strict_exp(x) -> np.ndarray:
    """fdlibm ``__ieee754_exp`` elementwise."""
    x = np.asarray(x, dtype=np.float64)
    hx = (x.view(np.uint64) >> np.uint64(32)).astype(np.int64) & 0x7FFFFFFF
    neg = np.signbit(x)
    with np.errstate(all="ignore"):
        # argument reduction: x = k·ln2 + (hi − lo), |hi − lo| <= 0.5·ln2
        big = hx > 0x3FD62E42  # |x| > 0.5 ln2
        near = big & (hx < 0x3FF0A2B2)  # ... and |x| < 1.5 ln2
        kf = np.trunc(_INV_LN2 * x + np.where(neg, -0.5, 0.5))
        k = np.where(big, np.where(near, np.where(neg, -1, 1), kf), 0)
        k = k.astype(np.int64)
        hi = np.where(near, x - np.where(neg, -_LN2_HI, _LN2_HI), x - kf * _LN2_HI)
        lo = np.where(near, np.where(neg, -_LN2_LO, _LN2_LO), kf * _LN2_LO)
        r = np.where(big, hi - lo, x)
        t = r * r
        c = r - t * (_P1 + t * (_P2 + t * (_P3 + t * (_P4 + t * _P5))))
        y = np.where(
            big,
            1.0 - ((lo - (r * c) / (2.0 - c)) - hi),
            1.0 - ((r * c) / (c - 2.0) - r),
        )
        out = np.where(
            k >= -1021, np.ldexp(y, k), np.ldexp(y, k + 1000) * _TWOM1000
        )
        out = np.where(hx < 0x3E300000, 1.0 + x, out)  # |x| < 2^-28
        out = np.where(x > _O_THRESHOLD, np.inf, out)
        out = np.where(x < _U_THRESHOLD, 0.0, out)
    return np.where(np.isnan(x), x, out)


_TWO54 = _word(0x43500000)
_LG = [
    _word(0x3FE55555, 0x55555593),
    _word(0x3FD99999, 0x9997FA04),
    _word(0x3FD24924, 0x94229359),
    _word(0x3FCC71C5, 0x1D8E78AF),
    _word(0x3FC74664, 0x96CB03DE),
    _word(0x3FC39A09, 0xD078C69F),
    _word(0x3FC2F112, 0xDF3E5244),
]


def _fdlibm_log(x: float) -> float:
    """fdlibm ``__ieee754_log`` of one double."""
    bits = struct.unpack("<Q", struct.pack("<d", x))[0]
    hx, lx = bits >> 32, bits & 0xFFFFFFFF
    if hx >= 0x80000000:
        hx -= 1 << 32  # the C code's signed high word
    k = 0
    if hx < 0x00100000:  # x < 2^-1022
        if (hx & 0x7FFFFFFF) | lx == 0:
            return -math.inf
        if hx < 0:
            return math.nan
        k, x = -54, x * _TWO54  # subnormal: scale up
        bits = struct.unpack("<Q", struct.pack("<d", x))[0]
        hx, lx = bits >> 32, bits & 0xFFFFFFFF
    if hx >= 0x7FF00000:
        return x + x
    k += (hx >> 20) - 1023
    hx &= 0x000FFFFF
    i = (hx + 0x95F64) & 0x100000
    x = _word(hx | (i ^ 0x3FF00000), lx)  # normalize x or x/2
    k += i >> 20
    f = x - 1.0
    dk = float(k)
    if (0x000FFFFF & (2 + hx)) < 3:  # |f| < 2^-20
        if f == 0.0:
            return 0.0 if k == 0 else dk * _LN2_HI + dk * _LN2_LO
        r = f * f * (0.5 - 0.33333333333333333 * f)
        return f - r if k == 0 else dk * _LN2_HI - ((r - dk * _LN2_LO) - f)
    s = f / (2.0 + f)
    z = s * s
    w = z * z
    t1 = w * (_LG[1] + w * (_LG[3] + w * _LG[5]))
    t2 = z * (_LG[0] + w * (_LG[2] + w * (_LG[4] + w * _LG[6])))
    r = t2 + t1
    if (hx - 0x6147A) | (0x6B851 - hx) > 0:
        hfsq = 0.5 * f * f
        if k == 0:
            return f - (hfsq - s * (hfsq + r))
        return dk * _LN2_HI - ((hfsq - (s * (hfsq + r) + dk * _LN2_LO)) - f)
    if k == 0:
        return f - s * (f - r)
    return dk * _LN2_HI - ((s * (f - r) - dk * _LN2_LO) - f)


def strict_log(x) -> np.ndarray:
    """fdlibm ``__ieee754_log`` elementwise, once per distinct value
    (an idf array holds one value per distinct document frequency)."""
    uniq, at = np.unique(np.asarray(x, dtype=np.float64), return_inverse=True)
    return np.array([_fdlibm_log(v) for v in uniq.tolist()], dtype=np.float64)[at]


def checked(units: int, scale: int = 18, precision: int = 38) -> int:
    """A DECIMAL(precision, scale) value: raise where ANSI mode does."""
    if abs(units) >= 10**precision:
        raise ArithmeticException(
            message=f"[NUMERIC_VALUE_OUT_OF_RANGE] {units}E-{scale}"
            f" cannot be represented as Decimal({precision}, {scale})."
        )
    return units


def _half_up(v, scale: int) -> list[Decimal | None]:
    """Each finite double's shortest decimal string rounded half up to
    ``scale`` places; None for NaN and ±inf."""
    q = Decimal(1).scaleb(-scale)
    return [
        Decimal(repr(x)).quantize(q, context=_CTX) if math.isfinite(x) else None
        for x in np.asarray(v, dtype=np.float64).tolist()
    ]


def to_units(v, scale: int = 18) -> list[int | None]:
    """CAST(v AS DECIMAL(38, scale)) per element, as unscaled integers
    (value·10^scale); NaN and ±inf are NULL (None)."""
    return [
        None if d is None else checked(int(d.scaleb(scale, _CTX)), scale)
        for d in _half_up(v, scale)
    ]


def units_to_double(units: int | None, scale: int = 18) -> float | None:
    """CAST(DECIMAL(38, scale) AS DOUBLE)."""
    return None if units is None else checked(units, scale) / 10**scale


def round_half_up(v, scale: int) -> np.ndarray:
    """``round(v, scale)`` per element; a zero result is +0.0, as
    Java's BigDecimal has no negative zero."""
    v = np.asarray(v, dtype=np.float64)
    return np.array(
        [
            x if d is None else float(d) + 0.0
            for x, d in zip(v.tolist(), _half_up(v, scale))
        ],
        dtype=np.float64,
    )


def limbs(units) -> np.ndarray:
    """(n, 5) int64 base-10^9 digits of each integer (None -> 0): a 0/1
    mask matrix times them sums exactly, as n < EXACT_ROWS."""
    if len(units) >= EXACT_ROWS:
        raise ValueError(
            f"{len(units)} rows: exact DECIMAL sums hold fewer than {EXACT_ROWS}"
        )
    a = np.array([u or 0 for u in units], dtype=object)
    neg = a < 0
    a = np.abs(a)
    out = np.empty((len(a), _N_LIMBS), dtype=np.int64)
    for j in range(_N_LIMBS):
        out[:, j] = (a % _LIMB).astype(np.int64)
        a = a // _LIMB
    out[neg] *= -1
    return out


def masked_sums(masks: np.ndarray, lm: np.ndarray) -> list[int]:
    """The exact sum of the rows each mask of ``masks`` (k, n) selects."""
    return [
        sum(int(d) * _LIMB**j for j, d in enumerate(row))
        for row in masks.astype(np.int64) @ lm
    ]
