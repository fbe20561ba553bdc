"""Vectorized ``java.lang.StrictMath.pow``: Spark's ``F.pow``, bitwise.

Spark evaluates ``pow`` with ``StrictMath.pow``, which on JDK 17 is the
pure-Java port of fdlibm's ``e_pow.c`` (``java.lang.FdLibm$Pow.compute``).
``np.power`` and ``math.pow`` call the platform libm instead and differ from
it in the last ulp on a large share of inputs, which flips Indri ranks. This
module runs ``compute`` over numpy arrays, branch for branch:

- the special cases in the order ``compute`` tests them: ``y == ±0``, NaN,
  ``y == 2`` (``x*x``), ``y == 0.5`` (``sqrt(x + 0.0)`` unless x is -inf),
  ``|y| == 1``, ``|y| == inf``, ``x`` in {±0, ±inf, ±1}, and a negative x
  with a non-integral y;
- ``log2(|x|)`` in extra precision: the series around 1 when
  ``|y| > ~2^31`` (returning ±inf or ±0 at once unless |x| is near 1), else
  the ``(x-1)/(x+1)`` polynomial, with subnormal x scaled by 2^53 first;
- the overflow and underflow cut-offs of ``y·log2(x)`` and ``2^(p_h+p_l)``,
  whose subnormal results go through ``Math.scalb`` (one correctly rounded
  scaling, as ``np.ldexp``).

Java's 32-bit ``int`` words are modelled in int64 with explicit wrap where a
sum can overflow; its ``>>`` is numpy's arithmetic right shift on the same
values. ``__HI``/``__LO`` read and write the high and low 32-bit words of a
double's bits. The port is proven against Spark's ``F.pow`` and Py4J
``StrictMath.pow`` in ``tests/test_strictmath.py``.
"""

from __future__ import annotations

import numpy as np

_U32 = np.uint64(0xFFFFFFFF)
_HI_BITS = np.uint64(0xFFFFFFFF00000000)
_SHIFT32 = np.uint64(32)
_MAX = np.finfo(np.float64).max

# FdLibm$Pow.compute's constants, by the bytecode's ldc2_w values
_TWO53 = 9007199254740992.0
_Y_HUGE = 2.1474856959999995e9  # 0x1.00000ffffffffp31
_X_LO = 0.9999995231628418  # 0x1.fffff00000000p-1
_X_HI = 1.0000009536743162  # 0x1.00000ffffffffp0
_INV_LN2 = 1.4426950408889634
_INV_LN2_H = 1.4426950216293335
_INV_LN2_L = 1.9259629911266175e-8
_CP = 0.9617966939259756
_CP_H = 0.9617967009544373
_CP_L = -7.028461650952758e-9
_DP_H1 = 0.5849624872207642
_DP_L1 = 1.350039202129749e-8
_L1, _L2, _L3 = 0.5999999999999946, 0.4285714285785502, 0.33333332981837743
_L4, _L5, _L6 = 0.272728123808534, 0.23066074577556175, 0.20697501780033842
_OVT = 8.008566259537294e-17
_P1, _P2, _P3 = 0.16666666666666602, -0.0027777777777015593, 6.613756321437934e-5
_P4, _P5 = -1.6533902205465252e-6, 4.1381367970572385e-8
_LG2, _LG2_H, _LG2_L = 0.6931471805599453, 0.6931471824645996, -1.904654299957768e-9


def _hi(d: np.ndarray) -> np.ndarray:
    """``__HI(d)``: the signed high word, as int64."""
    return (d.view(np.uint64) >> _SHIFT32).astype(np.uint32).view(np.int32).astype(np.int64)


def _lo(d: np.ndarray) -> np.ndarray:
    """``__LO(d)``: the low word (only compared with 0 here)."""
    return (d.view(np.uint64) & _U32).astype(np.int64)


def _lo0(d: np.ndarray) -> np.ndarray:
    """``__LO(d, 0)``: d with its low word cleared."""
    return (d.view(np.uint64) & _HI_BITS).view(np.float64)


def _set_hi(d: np.ndarray, hi: np.ndarray) -> np.ndarray:
    """``__HI(d, hi)``: d with its high word replaced by the int ``hi``."""
    top = (np.asarray(hi, np.int64) & 0xFFFFFFFF).astype(np.uint64) << _SHIFT32
    return (top | (d.view(np.uint64) & _U32)).view(np.float64)


def _i32(v: np.ndarray) -> np.ndarray:
    """Java's int wrap of an int64 value."""
    return ((v + 0x80000000) & 0xFFFFFFFF) - 0x80000000


# elements per pass: the ~150 array temporaries of one chunk stay in cache
_CHUNK = 1 << 14


def pow(x, y) -> np.ndarray:  # noqa: A001 - StrictMath's name
    """``StrictMath.pow(x, y)`` elementwise over broadcast float64 arrays."""
    x, y = np.broadcast_arrays(np.asarray(x, np.float64), np.asarray(y, np.float64))
    shape = x.shape
    x, y = x.ravel(), y.ravel()
    out = np.empty(x.shape, np.float64)
    for a in range(0, len(x), _CHUNK):
        out[a:a + _CHUNK] = _pow(x[a:a + _CHUNK], y[a:a + _CHUNK])
    return out.reshape(shape)


def _pow(x: np.ndarray, y: np.ndarray) -> np.ndarray:
    out = np.empty(x.shape, np.float64)
    todo = np.ones(x.shape, bool)

    def settle(cond, val):
        m = todo & cond
        out[m] = np.broadcast_to(val, x.shape)[m]
        todo[m] = False

    with np.errstate(all="ignore"):
        ya, xa = np.abs(y), np.abs(x)
        settle(y == 0.0, 1.0)
        settle(np.isnan(x) | np.isnan(y), x + y)
        settle(y == 2.0, x * x)
        settle((y == 0.5) & (x >= -_MAX), np.sqrt(x + 0.0))
        settle(ya == 1.0, np.where(y == 1.0, x, 1.0 / x))
        y_inf = ya == np.inf
        settle(y_inf & (xa == 1.0), y - y)
        settle(y_inf & (xa > 1.0), np.where(y >= 0.0, y, 0.0))
        settle(y_inf, np.where(y < 0.0, -y, 0.0))

        hx = _hi(x)
        ix = hx & 0x7FFFFFFF
        # y_is_int for x < 0: 0 not an integer, 1 odd, 2 even
        mid = (ya >= 1.0) & (ya < _TWO53)
        y_long = np.where(mid, ya, 0.0).astype(np.int64)
        y_is_int = np.where(
            ya >= _TWO53, 2,
            np.where(mid & (y_long.astype(np.float64) == ya), 2 - (y_long & 1), 0),
        )
        y_is_int = np.where(hx < 0, y_is_int, 0)

        # x is ±0, ±inf or ±1
        z = np.where(y < 0.0, 1.0 / xa, xa)
        z = np.where(
            (hx < 0) & (((ix - 0x3FF00000) | y_is_int) == 0),
            (z - z) / (z - z),
            np.where((hx < 0) & (y_is_int == 1), -1.0 * z, z),
        )
        settle((xa == 0.0) | (xa == np.inf) | (xa == 1.0), z)

        n = (hx >> 31) + 1
        settle((n | y_is_int) == 0, (x - x) / (x - x))  # (x < 0)**non-int
        s = np.where((n | (y_is_int - 1)) == 0, -1.0, 1.0)

        at = np.flatnonzero(todo)
        if len(at):
            out[at] = _compute(y[at], xa[at], ya[at], ix[at], s[at])
    return out


def _compute(y, x_abs, y_abs, ix, s) -> np.ndarray:
    """The general path of ``compute`` for finite nonzero x ≠ ±1 and a y no
    special case took; ``s`` is the result's sign."""
    done = np.zeros(len(y), bool)
    early = np.empty(len(y))

    def settle(cond, val):
        m = ~done & cond
        early[m] = np.broadcast_to(val, y.shape)[m]
        done[m] = True

    # |y| > ~2^31: over/underflow unless |x| is within ~2^-20 of 1
    huge = y_abs > _Y_HUGE
    settle(huge & (x_abs < _X_LO), np.where(y < 0.0, s * np.inf, s * 0.0))
    settle(huge & (x_abs > _X_HI), np.where(y > 0.0, s * np.inf, s * 0.0))
    t = x_abs - 1.0
    w = (t * t) * (0.5 - t * (0.3333333333333333 - t * 0.25))
    u = _INV_LN2_H * t
    v = t * _INV_LN2_L - w * _INV_LN2
    t1_huge = _lo0(u + v)
    t2_huge = v - (t1_huge - u)

    # log2(x_abs) = n + DP_H[k] + (z_h + z_l)
    sub = ix < 0x00100000
    x_abs = np.where(sub, x_abs * _TWO53, x_abs)
    n = np.where(sub, -53, 0)
    ix = np.where(sub, _hi(x_abs), ix)
    n = n + ((ix >> 20) - 0x3FF)
    j = ix & 0x000FFFFF
    ix = j | 0x3FF00000
    k = ((j > 0x3988E) & (j < 0xBB67A)).astype(np.int64)
    wrap = j >= 0xBB67A
    n = n + wrap
    ix = ix - np.where(wrap, 0x00100000, 0)
    x_abs = _set_hi(x_abs, ix)
    bp = np.where(k == 1, 1.5, 1.0)
    dp_h = np.where(k == 1, _DP_H1, 0.0)
    dp_l = np.where(k == 1, _DP_L1, 0.0)

    u = x_abs - bp
    v = 1.0 / (x_abs + bp)
    ss = u * v
    s_h = _lo0(ss)
    t_h = _set_hi(np.zeros(len(y)), ((ix >> 1) | 0x20000000) + 0x00080000 + (k << 18))
    t_l = x_abs - (t_h - bp)
    s_l = v * ((u - s_h * t_h) - s_h * t_l)
    s2 = ss * ss
    r = s2 * s2 * (_L1 + s2 * (_L2 + s2 * (_L3 + s2 * (_L4 + s2 * (_L5 + s2 * _L6)))))
    r = r + s_l * (s_h + ss)
    s2 = s_h * s_h
    t_h = _lo0(3.0 + s2 + r)
    t_l = r - ((t_h - 3.0) - s2)
    u = s_h * t_h
    v = s_l * t_h + t_l * ss
    p_h = _lo0(u + v)
    p_l = v - (p_h - u)
    z_h = _CP_H * p_h
    z_l = _CP_L * p_h + p_l * _CP + dp_l
    t = n.astype(np.float64)
    t1 = _lo0(((z_h + z_l) + dp_h) + t)
    t2 = z_l - (((t1 - t) - dp_h) - z_h)
    t1 = np.where(huge, t1_huge, t1)
    t2 = np.where(huge, t2_huge, t2)

    # (y1 + y2) * (t1 + t2), then the over/underflow cut-offs
    y1 = _lo0(y)
    p_l = (y - y1) * t1 + y * t2
    p_h = y1 * t1
    z = p_l + p_h
    j = _hi(z)
    i = _lo(z)
    top = j >= 0x40900000  # z >= 1024
    settle(top & ((((j - 0x40900000) | i) != 0) | (p_l + _OVT > z - p_h)), s * np.inf)
    settle(
        ~top & ((j & 0x7FFFFFFF) >= 0x4090CC00)  # z <= -1075
        & ((((j + 1064252416) | i) != 0) | (p_l <= z - p_h)),  # j - 0xc090cc00
        s * 0.0,
    )

    # 2**(p_h + p_l); shift counts leave [0, 31] only in lanes where
    # ``big`` is false, whose results are discarded, so they are clipped
    i = j & 0x7FFFFFFF
    k = (i >> 20) - 0x3FF
    big = i > 0x3FE00000  # |z| > 0.5: n = [z + 0.5]
    nn = j + (0x00100000 >> np.clip(k + 1, 0, 31))
    k = ((nn & 0x7FFFFFFF) >> 20) - 0x3FF
    kc = np.clip(k, 0, 31)
    t = _set_hi(np.zeros(len(y)), nn & ~(0x000FFFFF >> kc))
    nn = ((nn & 0x000FFFFF) | 0x00100000) >> np.clip(20 - k, 0, 31)
    nn = np.where(j < 0, -nn, nn)
    n = np.where(big, nn, 0)
    p_h = np.where(big, p_h - t, p_h)
    t = _lo0(p_l + p_h)
    u = t * _LG2_H
    v = (p_l - (t - p_h)) * _LG2 + t * _LG2_L
    z = u + v
    w = v - (z - u)
    t = z * z
    t1 = z - t * (_P1 + t * (_P2 + t * (_P3 + t * (_P4 + t * _P5))))
    r = (z * t1) / (t1 - 2.0) - (w + z * w)
    z = 1.0 - (r - z)
    j = _i32(_hi(z) + (n << 20))
    z = np.where((j >> 20) <= 0, np.ldexp(z, n), _set_hi(z, j))
    return np.where(done, early, s * z)
