"""Regularization-path sweep: the fused L-model trainer must reproduce L
standalone fits exactly (same Adam trajectory per lambda), and match the
independent numpy twin — proving the one-pass fusion is a pure
amortization, not an approximation."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from modlyn_spark.oracle.pandas_oracle import oracle_logreg
from modlyn_spark.scoring.logreg import (
    DistributedLogReg,
    assign_batches,
    assign_batches_pandas,
)
from modlyn_spark.scoring.regpath import RegPathLogReg
from modlyn_spark.scoring.stats import label_encode

N, D, K = 192, 6, 3
LAMBDAS = [0.0, 1e-3, 1e-2, 1e-1, 1.0]


@pytest.fixture(scope="module")
def path_data(spark):
    rng = np.random.default_rng(11)
    X = rng.random((N, D)).astype(np.float32)
    labels = pd.Series(rng.choice([f"c{i}" for i in range(K)], size=N))
    for i in range(K):
        X[labels.values == f"c{i}", i] += 0.6 * (i + 1)
    pdf = pd.DataFrame(
        {
            "row_id": np.arange(N),
            "features": [x.tolist() for x in X],
            "label": labels,
        }
    )
    df = spark.createDataFrame(pdf)
    classes, enc = label_encode(df, "label")
    enc = assign_batches(enc, ["row_id"], 4)
    return pdf, X, labels, classes, enc


def test_path_matches_standalone_fits(spark, path_data):
    """Lambda l's weights from the fused sweep == a standalone
    DistributedLogReg(weight_decay=lambda_l) run — per-lambda identical
    trajectories, one data pass instead of L."""
    _, _, _, classes, enc = path_data
    sweep = RegPathLogReg(D, classes, LAMBDAS).fit(
        enc, max_steps=10, max_epochs=3, n_batches=4
    )
    for li, lam in enumerate(LAMBDAS):
        solo = DistributedLogReg(D, classes, weight_decay=lam).fit(
            enc, max_steps=10, max_epochs=3, n_batches=4
        )
        assert np.allclose(sweep.W[li], solo.W, rtol=1e-9, atol=1e-12), lam
        assert np.allclose(sweep.b[li], solo.b, rtol=1e-9, atol=1e-12), lam
        assert np.allclose(sweep.losses[li], solo.losses, rtol=1e-9), lam


def test_path_matches_numpy_twin(path_data):
    """Each lambda's path point matches the INDEPENDENT single-node twin
    (oracle_logreg) — not just the engine's own single-model trainer."""
    pdf, X, labels, classes, enc = path_data
    sweep = RegPathLogReg(D, classes, LAMBDAS).fit(
        enc, max_steps=10, max_epochs=3, n_batches=4
    )
    bids = assign_batches_pandas(pdf, ["row_id"], 4)
    for li, lam in enumerate(LAMBDAS):
        exp_w, exp_losses = oracle_logreg(
            X, labels, bids, weight_decay=lam, max_steps=10, n_epochs=3
        )
        exp_W = exp_w.pivot(index="label", columns="pos", values="weight").values
        assert np.allclose(sweep.W[li], exp_W, rtol=1e-6, atol=1e-9), lam
        assert np.allclose(sweep.losses[li], exp_losses, rtol=1e-6), lam


def test_regularization_shrinks_weights(path_data):
    """The path is a real regularization path: total weight norm is
    non-increasing in lambda (Adam + L2 decay at these magnitudes)."""
    _, _, _, classes, enc = path_data
    sweep = RegPathLogReg(D, classes, LAMBDAS).fit(
        enc, max_steps=10, max_epochs=3, n_batches=4
    )
    norms = [float(np.abs(sweep.W[li]).sum()) for li in range(len(LAMBDAS))]
    assert norms[0] > norms[-1]
    assert norms[-1] < norms[1]


def test_selection_path_table(spark, path_data):
    """selection_path == pandas recomputation of per-(lam,pos) max |w|."""
    _, _, _, classes, enc = path_data
    sweep = RegPathLogReg(D, classes, LAMBDAS).fit(
        enc, max_steps=6, max_epochs=2, n_batches=4
    )
    tau = 0.05
    got = (
        sweep.selection_path(spark, tau)
        .toPandas()
        .sort_values(["lam", "pos"])
        .reset_index(drop=True)
    )
    exp_rows = []
    for li, lam in enumerate(LAMBDAS):
        for pos in range(D):
            mx = float(np.abs(sweep.W[li][:, pos]).max())
            exp_rows.append(
                {"lam": lam, "pos": pos, "max_abs_w": mx, "selected": mx >= tau}
            )
    exp = pd.DataFrame(exp_rows)
    assert np.allclose(got["max_abs_w"], exp["max_abs_w"])
    assert (got["selected"] == exp["selected"]).all()
    assert len(got) == len(LAMBDAS) * D


def test_empty_table_raises(spark, path_data):
    _, _, _, classes, enc = path_data
    with pytest.raises(ValueError, match="empty training table"):
        RegPathLogReg(D, classes, LAMBDAS).fit(enc.limit(0), max_steps=3)


def test_lambdas_empty_raises():
    with pytest.raises(ValueError):
        RegPathLogReg(4, ["a", "b"], [])
