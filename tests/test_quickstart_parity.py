"""Quickstart-parity end-to-end: the reference notebook's whole workflow —
train logreg scores, compute an independent mean/variance-based score
matrix, compare methods via top-N Jaccard (reference docs/quickstart.ipynb
cells 1335d6d3/8c058e6c/e95ae5d6: modlyn_logreg vs scanpy rank_genes_groups,
CompareScores at n_top {5,10,25})."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from modlyn_spark.eval.jaccard import CompareScores
from modlyn_spark.oracle.pandas_oracle import oracle_logreg
from modlyn_spark.scoring.cv import CVLogReg, assign_folds
from modlyn_spark.scoring.logreg import (
    DistributedLogReg,
    assign_batches,
    assign_batches_pandas,
)
from modlyn_spark.scoring.stats import class_feature_stats, f_statistic, label_encode

N, D, K = 300, 16, 3


@pytest.fixture(scope="module")
def strong_signal(spark):
    rng = np.random.default_rng(7)
    X = rng.normal(size=(N, D)).astype(np.float32)
    labels = rng.choice([f"c{i}" for i in range(K)], size=N)
    for i in range(K):
        # features 2i and 2i+1 strongly mark class i
        X[labels == f"c{i}", 2 * i] += 3.0
        X[labels == f"c{i}", 2 * i + 1] -= 3.0
    pdf = pd.DataFrame(
        {
            "row_id": np.arange(N),
            "features": [x.tolist() for x in X],
            "label": labels,
        }
    )
    return spark.createDataFrame(pdf)


def test_cross_method_jaccard_agreement(spark, strong_signal):
    df = strong_signal
    classes, enc = label_encode(df, "label")
    enc = assign_batches(enc, ["row_id"], 4)

    # method 1: the reference scoring loop (logreg weights)
    model = DistributedLogReg(D, classes, learning_rate=0.5, weight_decay=1e-3)
    model.fit(enc, max_steps=60, max_epochs=15, n_batches=4)
    w = model.get_weights()  # attrs["method_name"] = "modlyn_logreg"

    # method 2: mean-difference score matrix (rank_genes_groups analogue):
    # per class, score = class mean - grand mean (signed marker strength)
    stats = class_feature_stats(df, "label", "features").toPandas()
    grand = stats.groupby("pos").apply(
        lambda g: (g["mean"] * g["n"]).sum() / g["n"].sum()
    )
    stats["score"] = stats["mean"] - stats["pos"].map(grand)
    m2 = stats.pivot(index="label", columns="pos", values="score")
    m2.columns = [f"f{j:04d}" for j in m2.columns]
    m2.attrs["method_name"] = "mean_diff"

    cmp = CompareScores([w, m2], n_top_values=[2, 5, 10])
    res = cmp.compute_jaccard_comparison()
    pair = res[res.method_pair == "modlyn_logreg<->mean_diff"]
    base = res[res.method_pair == "Random baseline"].set_index("n_top")["jaccard"]

    # at n_top=2 both methods must agree exactly on each class's two marker
    # features (jaccard 1.0), and beat the random baseline at every n_top
    top2 = pair[pair.n_top == 2]
    assert np.allclose(top2["jaccard"], 1.0), top2
    # beat chance where chance is meaningful (n_top=10 of 16 features has a
    # 0.91 random baseline by construction — skip it)
    for n_top in [2, 5]:
        sub = pair[pair.n_top == n_top]
        assert (sub["jaccard"] > base[n_top]).all()


@pytest.fixture(scope="module")
def wide_batches(spark):
    """960 rows over 32 batches x 3 folds: ~30 rows per batch, so every
    (batch, fold-complement) cell is populated."""
    rng = np.random.default_rng(5)
    n, d = 960, 8
    X = rng.random((n, d)).astype(np.float32)
    labels = pd.Series(rng.choice([f"c{i}" for i in range(K)], size=n))
    for i in range(K):
        X[labels.values == f"c{i}", i] += 0.5 * (i + 1)
    pdf = pd.DataFrame(
        {
            "row_id": np.arange(n),
            "features": [x.tolist() for x in X],
            "label": labels,
        }
    )
    classes, enc = label_encode(spark.createDataFrame(pdf), "label")
    enc = assign_folds(assign_batches(enc, ["row_id"], 32), ["row_id"], 3)
    return pdf, X, labels, classes, enc


def test_cluster_by_batch_identical(spark, wide_batches):
    """n_batches >= 32 clusters the cached table by batch id; the weights
    still match the numpy twin on the same batch ids."""
    pdf, X, labels, classes, enc = wide_batches
    model = DistributedLogReg(X.shape[1], classes).fit(
        enc, max_steps=12, max_epochs=1, n_batches=32
    )
    bids = assign_batches_pandas(pdf, ["row_id"], 32)
    exp_w, exp_losses = oracle_logreg(X, labels, bids, max_steps=12, n_epochs=1)
    exp_W = exp_w.pivot(index="label", columns="pos", values="weight").values
    assert np.allclose(model.W, exp_W, rtol=1e-6, atol=1e-9)
    assert np.allclose(model.losses, exp_losses, rtol=1e-6)


def test_cv_clustered_matches_standalone_per_fold(spark, wide_batches):
    """CVLogReg gets the same clustered layout at n_batches >= 32, and each
    fold model still equals the standalone trainer on fold != f."""
    _, X, _, classes, enc = wide_batches
    cells = enc.groupBy("batch_id", "fold_id").count().toPandas()
    assert (cells.groupby("batch_id")["fold_id"].nunique() >= 2).all()
    cv = CVLogReg(X.shape[1], classes, 3).fit(
        enc, max_steps=6, max_epochs=1, n_batches=32
    )
    for f in range(3):
        solo = DistributedLogReg(X.shape[1], classes).fit(
            enc.where(F.col("fold_id") != f), max_steps=6, max_epochs=1, n_batches=32
        )
        assert np.allclose(cv.W[f], solo.W, rtol=1e-9, atol=1e-12), f
        assert np.allclose(cv.b[f], solo.b, rtol=1e-9, atol=1e-12), f
        assert np.allclose(cv.losses[f], solo.losses, rtol=1e-9), f


def test_fstat_marks_signal_features(spark, strong_signal):
    stats = class_feature_stats(strong_signal, "label", "features")
    fs = f_statistic(stats).toPandas()
    top6 = set(fs.nlargest(6, "f_stat")["pos"])
    assert top6 == {0, 1, 2, 3, 4, 5}


def test_quickstart_three_method_compare(spark, strong_signal):
    """The full quickstart story: modlyn_logreg vs rank_genes_groups-style
    scores — with BOTH reference comparison methods (mean-based and
    wilcoxon; docs/quickstart.ipynb cell 8c058e6c) in one CompareScores.
    On the planted strong signal every method must rank the two marker
    features of each class first, so pairwise Jaccard at n_top=2 is 1.0."""
    from modlyn_spark.scoring.stats import wilcoxon_scores

    df = strong_signal
    classes, enc = label_encode(df, "label")
    enc = assign_batches(enc, ["row_id"], 4)
    model = DistributedLogReg(D, classes, learning_rate=0.5, weight_decay=1e-3)
    model.fit(enc, max_steps=60, max_epochs=15, n_batches=4)
    w = model.get_weights()

    stats = class_feature_stats(df, "label", "features").toPandas()
    grand = stats.groupby("pos").apply(
        lambda g: (g["mean"] * g["n"]).sum() / g["n"].sum()
    )
    stats["score"] = stats["mean"] - stats["pos"].map(grand)
    m2 = stats.pivot(index="label", columns="pos", values="score")
    m2.columns = [f"f{j:04d}" for j in m2.columns]
    m2.attrs["method_name"] = "mean_diff"

    wil = wilcoxon_scores(df, "label", "features").toPandas()
    m3 = wil.pivot(index="label", columns="pos", values="z")
    m3.columns = [f"f{j:04d}" for j in m3.columns]
    m3.attrs["method_name"] = "wilcoxon"

    # each class's top-2 |z| features are exactly its planted markers
    for i, c in enumerate(sorted(m3.index)):
        top2 = set(m3.loc[c].abs().nlargest(2).index)
        assert top2 == {f"f{2*i:04d}", f"f{2*i+1:04d}"}, (c, top2)

    cmp = CompareScores([w, m2, m3], n_top_values=[2, 5])
    res = cmp.compute_jaccard_comparison()
    at2 = res[(res["n_top"] == 2) & (res["method_pair"] != "Random baseline")]
    # 3 methods -> 3 pairs x K classes rows at n_top=2, all Jaccard 1.0
    assert len(at2) == 3 * K
    assert (at2["jaccard"] == 1.0).all(), at2
