"""Regularization-path sweep for the reference scoring loop.

modlyn's feature-selection recipe trains ONE logistic regression at one
weight_decay and reads feature scores off the weight matrix
(reference: modlyn/models/_simple_logreg_model.py:35-38 — lr/wd are fixed
ctor args, so sweeping the regularizer means re-running fit() once per
value and re-reading the full dataset each time). At 10^12-row scale the
data pass dominates, so the sweep must amortize it: this module trains L
weight-decay values SIMULTANEOUSLY over the same mini-batch stream.

Physical design (one Spark aggregation per step, like DistributedLogReg):

- the L models' weights stack into one (L*k, d) matrix; each partition
  computes logits for ALL models with ONE GEMM ``X @ W_all.T`` per Arrow
  batch, and all L gradient blocks with ONE GEMM ``P_all.T @ X`` — the
  marginal cost of an extra lambda is FLOPs on data already in cache,
  not another scan of the table;
- per-partition partials (L*k*d gradient, L*k bias gradient, L losses)
  are summed by the pid-sorted driver combine of the one shared stacked
  trainer (scoring/logreg.py:_fit_stacked), of which the single-model
  trainer is the L=1 case;
- the driver keeps L independent Adam states (weight decay folds into
  the update there, torch parity), so lambda l's trajectory is
  numerically the SAME sequence of updates a standalone
  ``DistributedLogReg(weight_decay=lambda_l)`` would produce — the sweep
  is a fusion, not an approximation. Tests pin allclose equality per
  lambda against both the standalone trainer and the independent numpy
  twin.

Scale notes: driver<->executor traffic per step is O(L*k*d) — the model
stack, independent of data size; with the reference's 5k x 50 score
matrix and L=8 that is ~16 MB per step, well under broadcast budgets.
The data passes once per epoch regardless of L; a naive per-lambda loop
costs L full passes. Selection-path summaries (features surviving at
each lambda) are pure column expressions over the long-form output.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from modlyn_spark.oracle.pandas_oracle import AdamState
from modlyn_spark.scoring.logreg import _fit_stacked, _weights_long


class RegPathLogReg:
    """Mini-batch softmax regression at L weight-decay values in one pass.

    Same defaults as the reference optimizer (lr=1e-2,
    modlyn/models/_simple_logreg_model.py:105-108); ``lambdas`` sweeps the
    weight_decay axis the reference hard-codes at 1e-2.
    """

    def __init__(
        self,
        n_features: int,
        classes: list,
        lambdas: list[float],
        learning_rate: float = 1e-2,
    ):
        if not lambdas:
            raise ValueError("lambdas must be non-empty")
        self.d = n_features
        self.classes = list(classes)
        self.k = len(self.classes)
        self.lambdas = [float(x) for x in lambdas]
        self.L = len(self.lambdas)
        self.W = np.zeros((self.L, self.k, self.d))
        self.b = np.zeros((self.L, self.k))
        self._optW = [
            AdamState((self.k, self.d), learning_rate, lam) for lam in self.lambdas
        ]
        self._optb = [
            AdamState((self.k,), learning_rate, lam) for lam in self.lambdas
        ]
        # losses[l] = per-step mean batch loss for lambda l
        self.losses: list[list[float]] = [[] for _ in range(self.L)]

    def fit(
        self,
        df: DataFrame,
        *,
        features_col: str = "features",
        label_idx_col: str = "label_idx",
        batch_col: str = "batch_id",
        n_batches: int | None = None,
        max_steps: int = 3000,
        max_epochs: int = 4,
    ) -> "RegPathLogReg":
        """Train all L models over a cached (features, label_idx, batch_id)
        DataFrame: one mapInPandas aggregation per step computes every
        model's gradient partials from a single traversal of the batch.

        The shared stacked trainer with one weight decay per lambda: batch
        order, caching and the sorted-pid driver combine are those of
        DistributedLogReg.fit, so per-lambda results are allclose to L
        standalone fits at the same config.
        """
        _fit_stacked(
            df,
            self.W,
            self.b,
            self._optW,
            self._optb,
            self.losses,
            features_col=features_col,
            label_idx_col=label_idx_col,
            batch_col=batch_col,
            n_batches=n_batches,
            max_steps=max_steps,
            max_epochs=max_epochs,
        )
        return self

    # -- outputs -------------------------------------------------------------

    def weights_long(self, spark) -> DataFrame:
        """Long-form (lam, label, pos, weight) across the whole path."""
        return _weights_long(
            spark, self.W, self.classes, ("lam", self.lambdas)
        )

    def selection_path(self, spark, threshold: float) -> DataFrame:
        """Per (lam, pos): max |weight| over classes + survives flag —
        the feature-entry/exit table a selection consumer reads off the
        path. Pure aggregation over weights_long (SQL-expressible)."""
        w = self.weights_long(spark)
        return (
            w.groupBy("lam", "pos")
            .agg(F.max(F.abs(F.col("weight"))).alias("max_abs_w"))
            .withColumn(
                "selected", (F.col("max_abs_w") >= F.lit(float(threshold)))
            )
        )
