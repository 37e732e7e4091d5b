"""Spark's float arithmetic in numpy, bit for bit: the one copy of the
discipline every vector kernel in ``operators.similarity`` follows.

- **Matrix load** (`load_matrix`): an Arrow list column becomes a
  float64 matrix; float32 → float64 widening is exact, as is Spark's
  ``cast(double)``.
- **Distance fold** (`sq_dist_blocks`): squared L2 accumulated in
  float64 in dimension order, ``d = 0..D-1`` — elementwise IEEE ops in
  a d-loop are the JVM ``aggregate`` fold's exact operation sequence.
- **Argmin** (`argmin_9dp`): Spark's ``min(struct(round(dist, 9),
  cid))`` — HALF_UP-rounded 9-dp distance, ties to the lowest cid.
- **Quantizer** (`quantize`): HALF_UP at ``scale`` decimal places over
  the double's shortest decimal repr, as scaled int64.  That is both
  Spark's ``round(x, scale)`` and its double → ``decimal(p, scale)``
  cast (``BigDecimal.valueOf`` = ``Double.toString``).
- **Decimal emission** (`decimals`), **member sums** (`member_sums`)
  and the **int64 headroom guard** (`check_headroom`) of the
  exact-decimal partial-sum kernels: a sum of quantized values is
  exact integer arithmetic, so it is independent of batch and
  partition boundaries.

Executors need not have this package on ``sys.path``: the module is
registered with cloudpickle's pickle-by-value list below, so a kernel
closure that calls these helpers ships them with it.  A kernel must
import the helpers by name (``from .exact_np import quantize``), not
the module, so cloudpickle sees functions rather than a module object.
"""

from __future__ import annotations

import sys
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
from pyspark import cloudpickle

#: cells per distance block: rows × K float64 ≈ 32 MB
BLOCK_CELLS = 4 << 20

#: largest scaled magnitude the np.rint path quantizes.  Below 2**40
#: the scaled value's float error plus the repr's is < 4e-4 (1.5 ulp),
#: so a value more than 1e-3 clear of a rounding boundary rounds as
#: its decimal repr does; larger values take the exact path.
_RINT_MAX = float(2 ** 40)


def load_matrix(col, dim: int) -> np.ndarray:
    """(len(col), dim) float64 matrix from a column of equal-length
    numeric arrays."""
    X = np.empty((len(col), dim), dtype=np.float64)
    for i, e in enumerate(col):
        X[i] = np.asarray(e, dtype=np.float64)
    return X


def sq_dist_blocks(X: np.ndarray, C: np.ndarray):
    """Yield ``(lo, acc)`` over consecutive row blocks of ``X``:
    ``acc[i, k] = Σ_d (X[lo + i, d] − C[k, d])²`` folded in dimension
    order, with at most ``BLOCK_CELLS // K`` rows per block."""
    K, dim = C.shape
    step = max(1, BLOCK_CELLS // max(K, 1))
    for lo in range(0, len(X), step):
        Xb = X[lo:lo + step]
        acc = np.zeros((len(Xb), K), dtype=np.float64)
        for d in range(dim):
            t = Xb[:, d, None] - C[None, :, d]
            acc += t * t
        yield lo, acc


def _exact(x: float, scale: int) -> Decimal:
    """Spark's HALF_UP rounding of one double at ``scale`` dp."""
    return Decimal(repr(float(x))).quantize(Decimal(1).scaleb(-scale),
                                            ROUND_HALF_UP)


def argmin_9dp(X: np.ndarray, C: np.ndarray,
               cids: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Nearest row of ``C`` for every row of ``X``: returns ``(idx,
    dist)`` — the winning row index into ``C`` and its 9-dp rounded
    distance.  Rounding is monotone, so only candidates within 2e-9
    of the unrounded minimum can win; those few (usually one) are
    rounded exactly and compared as ``(dist, cid)``.  Everything else
    never leaves numpy."""
    n = len(X)
    idx = np.empty(n, dtype=np.int64)
    dist = np.empty(n, dtype=np.float64)
    for lo, acc in sq_dist_blocks(X, C):
        m = acc.min(axis=1)
        for i in range(len(acc)):
            best = None
            for j in np.nonzero(acc[i] <= m[i] + 2e-9)[0]:
                dj = _exact(acc[i, j], 9)
                if best is None or (dj, cids[j]) < best[:2]:
                    best = (dj, cids[j], j)
            dist[lo + i] = float(best[0])
            idx[lo + i] = best[2]
    return idx, dist


def quantize(v: np.ndarray, scale: int) -> np.ndarray:
    """Exact HALF_UP quantization of every value at ``scale`` dp, as
    int64 in units of ``10**-scale``.  ``np.rint`` on the scaled value
    for the bulk; values within 1e-3 of a rounding boundary, or beyond
    ``_RINT_MAX``, are re-quantized through their decimal repr."""
    s = v * float(10 ** scale)
    r = np.rint(s)
    sus = (np.abs(np.abs(s - r) - 0.5) < 1e-3) | (np.abs(s) > _RINT_MAX)
    out = r.astype(np.int64)
    if sus.any():
        flat_v = v.ravel()
        flat_o = out.ravel()
        for i in np.nonzero(sus.ravel())[0]:
            flat_o[i] = int(_exact(flat_v[i], scale).scaleb(scale))
        out = flat_o.reshape(out.shape)
    return out


def decimals(scaled, scale: int = 10) -> list[Decimal]:
    """Scaled integers → the decimal values they stand for, for a
    ``decimal(p, scale)`` Arrow column."""
    return [Decimal(int(v)).scaleb(-scale) for v in np.ravel(scaled)]


def member_sums(lab: np.ndarray, Q: np.ndarray):
    """Per-label sums of the rows of ``Q``: ``(labels, sums, counts)``
    in ascending label order."""
    order = np.argsort(lab, kind="stable")
    uniq, starts = np.unique(lab[order], return_index=True)
    sums = np.add.reduceat(Q[order], starts, axis=0)
    return uniq, sums, np.diff(np.append(starts, len(lab)))


def check_headroom(X: np.ndarray, guard: str, power: int = 1) -> None:
    """Raise ``OverflowError`` naming ``guard`` unless a sum over the
    rows of ``X`` of 1e-10-scaled ``|x|**power`` values stays below
    2**62 in int64."""
    n = len(X)
    mx = float(np.abs(X).max(initial=0.0))
    if mx ** power * 1e10 * n >= 2 ** 62:
        raise OverflowError(
            f"{guard} int64 headroom guard: max |x| {mx:g} over {n} rows "
            f"overflows the 1e-10-scaled int64 sums")


cloudpickle.register_pickle_by_value(sys.modules[__name__])
