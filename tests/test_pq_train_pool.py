"""The driver pool behind PQ/OPQ codebook training (_lloyd_subspaces).

Success path: the pooled fits equal the sequential ones exactly.
Failure path: the first failed fit is raised and the fits not yet
started are cancelled, so a failure does not wait out all ``m`` fits.
"""

import threading
import time

import numpy as np
import pytest

from ezdata_spark.operators import similarity


def _sample(m=8, dsub=4, n=400):
    return np.random.RandomState(3).standard_normal((n, m * dsub))


def test_pool_matches_sequential(monkeypatch):
    X = _sample()
    monkeypatch.setenv("SPARK_GRAFT_PQ_TRAIN_THREADS", "1")
    seq = similarity._lloyd_subspaces(X, 8, 16, 5, 11)
    monkeypatch.setenv("SPARK_GRAFT_PQ_TRAIN_THREADS", "2")
    pooled = similarity._lloyd_subspaces(X, 8, 16, 5, 11)
    assert pooled == seq


def test_first_failure_cancels_pending_fits(monkeypatch):
    # fit 0 is slow and fit 1 fails at once: the failure must cancel
    # the fits not yet started right away, not once fit 0's result is
    # reached in order (by then the free worker has started most of the
    # others)
    seed, m = 11, 8
    started = []
    lock = threading.Lock()
    real = similarity._lloyd

    def faulty(X, k, iters, s):
        j = s - seed
        with lock:
            started.append(j)
        if j == 1:
            raise RuntimeError("fit 1 failed")
        time.sleep(1.0 if j == 0 else 0.2)
        return real(X, k, iters, s)

    monkeypatch.setattr(similarity, "_lloyd", faulty)
    monkeypatch.setenv("SPARK_GRAFT_PQ_TRAIN_THREADS", "2")
    with pytest.raises(RuntimeError, match="fit 1 failed"):
        similarity._lloyd_subspaces(_sample(m), m, 16, 5, seed)
    # the two first fits, plus at most the one the failed fit's worker
    # picked up before the cancel
    assert {0, 1} <= set(started) and len(started) <= 3
