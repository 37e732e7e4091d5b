"""The exact-arithmetic helpers travel with the kernels that call them.

Arrow kernels are pickled by cloudpickle and run in Python workers
that need not have this package on ``sys.path``.  ``exact_np``
registers itself for pickle-by-value, so a kernel closure that calls
its helpers carries their code.  This test pickles a function that
calls every helper, loads it in an isolated interpreter that cannot
import the package, and checks that it computes the same results.
"""

from __future__ import annotations

import pickle
import subprocess
import sys

import numpy as np
from pyspark import cloudpickle

from healthkit_to_sqlite_spark.operators.exact_np import (
    argmin_9dp, check_headroom, decimals, load_matrix, member_sums,
    quantize, sq_dist_blocks)

_LOAD = """
import importlib.util, pickle, sys
assert importlib.util.find_spec("healthkit_to_sqlite_spark") is None
fn = pickle.loads(sys.stdin.buffer.read())
sys.stdout.buffer.write(pickle.dumps(fn()))
"""


def test_helpers_run_where_the_package_is_not_importable(tmp_path):
    rows = [np.array([0.5, -1.25, 3.0], dtype=np.float32),
            np.array([2.0, 0.125, -0.75], dtype=np.float32),
            np.array([0.5, -1.25, 3.0], dtype=np.float32)]
    C = np.array([[0.5, -1.25, 3.0], [2.0, 0.0, -1.0]])
    cids = np.array([7, 3], dtype=np.int64)

    def kernel():
        X = load_matrix(rows, 3)
        blocks = [(lo, acc.tolist()) for lo, acc in sq_dist_blocks(X, C)]
        idx, dist = argmin_9dp(X, C, cids)
        Q = quantize(X, 10)
        labels, sums, counts = member_sums(idx, Q)
        check_headroom(X, "probe")
        try:
            check_headroom(X * 1e12, "probe")
            overflow = None
        except OverflowError as e:
            overflow = str(e)
        return (X.tolist(), blocks, idx.tolist(), dist.tolist(),
                Q.tolist(), labels.tolist(), decimals(sums),
                counts.tolist(), quantize(np.array([0.0000000005]), 9)
                .tolist(), overflow)

    payload = cloudpickle.dumps(kernel)
    run = subprocess.run([sys.executable, "-I", "-c", _LOAD],
                         input=payload, cwd=tmp_path, capture_output=True,
                         timeout=120)
    assert run.returncode == 0, run.stderr.decode()
    remote = pickle.loads(run.stdout)
    assert remote == kernel()
    assert remote[2] == [0, 1, 0] and remote[8] == [1]
    assert "probe int64 headroom guard" in remote[9]
