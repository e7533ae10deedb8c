"""Fold-parallel cross-validated training: F leave-one-fold-out models
in one mini-batch data pass.

The reference evaluates its scorer with a single shuffled train/val
split (modlyn/models/_simple_logreg_model.py:88-103 validation hooks;
SURVEY.md B2). Proper K-fold CV means K models, and re-running the
trainer K times reads the table K times — at 10^12 rows the scans
dominate, so this module trains all F leave-one-fold-out models
SIMULTANEOUSLY, the same fusion as the regularization-path sweep
(scoring/regpath.py), with a per-model row mask instead of a per-model
regularizer:

- fold assignment is a pure salted-md5 column (deterministic, replicable
  in pandas/DuckDB, independent of the batch hash — a shared hash would
  correlate fold membership with batch membership and starve some
  (batch, fold) cells);
- per step, the one shared stacked trainer (scoring/logreg.py:
  _fit_stacked) computes all F models' logits with ONE GEMM; model f's
  gradient masks out its own fold's rows and normalizes by ITS visible
  row count, and per-partition partials meet in the pid-sorted driver
  combine, so model f's trajectory is exactly a standalone trainer run
  on ``fold != f`` with the same batch assignment (pytest pins allclose
  per fold against both the standalone engine and the numpy twin);
- out-of-fold prediction scores each row with the model that NEVER saw
  it — the leakage-free evaluation table (the north_rule's zero-leakage
  invariant, applied to model selection).

Parity precondition: every (batch, fold-complement) cell must be
non-empty — a batch with NO rows visible to model f would leave model f
without an update while its step counter moves on, so the trainer raises
instead. At any realistic scale every cell is populated.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from modlyn_spark.oracle.pandas_oracle import AdamState
from modlyn_spark.scoring.logreg import _fit_stacked, _weights_long


def assign_folds(
    df: DataFrame, key_cols: list[str], n_folds: int, col: str = "fold_id"
) -> DataFrame:
    """Deterministic fold assignment: salted md5 of the key (salt '|cv'
    decorrelates it from assign_batches' unsalted hash), first 8 hex
    chars mod n_folds. Pure column expression, replicable in pandas and
    DuckDB bit-for-bit."""
    key = F.concat_ws("|", *[F.col(c).cast("string") for c in key_cols])
    bucket = F.conv(
        F.substring(F.md5(F.concat(key, F.lit("|cv"))), 1, 8), 16, 10
    ).cast("long")
    return df.withColumn(col, (bucket % n_folds).cast("int"))


def assign_folds_pandas(
    pdf: pd.DataFrame, key_cols: list[str], n_folds: int
) -> np.ndarray:
    """Pandas twin of assign_folds (oracle parity)."""
    import hashlib

    keys = pdf[key_cols[0]].astype(str)
    for c in key_cols[1:]:
        keys = keys + "|" + pdf[c].astype(str)
    return np.array(
        [
            int(hashlib.md5((k + "|cv").encode()).hexdigest()[:8], 16) % n_folds
            for k in keys
        ],
        dtype=np.int64,
    )


class CVLogReg:
    """F leave-one-fold-out softmax regressions trained in one pass.

    Model f trains on ``fold_id != f``; defaults mirror the reference
    optimizer (lr=1e-2, wd=1e-2)."""

    def __init__(
        self,
        n_features: int,
        classes: list,
        n_folds: int,
        learning_rate: float = 1e-2,
        weight_decay: float = 1e-2,
    ):
        if n_folds < 2:
            raise ValueError("n_folds must be >= 2")
        self.d = n_features
        self.classes = list(classes)
        self.k = len(self.classes)
        self.F = int(n_folds)
        self.W = np.zeros((self.F, self.k, self.d))
        self.b = np.zeros((self.F, self.k))
        self._optW = [
            AdamState((self.k, self.d), learning_rate, weight_decay)
            for _ in range(self.F)
        ]
        self._optb = [
            AdamState((self.k,), learning_rate, weight_decay)
            for _ in range(self.F)
        ]
        self.losses: list[list[float]] = [[] for _ in range(self.F)]

    def fit(
        self,
        df: DataFrame,
        *,
        features_col: str = "features",
        label_idx_col: str = "label_idx",
        batch_col: str = "batch_id",
        fold_col: str = "fold_id",
        n_batches: int | None = None,
        max_steps: int = 3000,
        max_epochs: int = 4,
    ) -> "CVLogReg":
        """Train all F fold models over a cached (features, label_idx,
        batch_id, fold_id) DataFrame: the shared stacked trainer with the
        fold mask. Raises ValueError when a batch has no rows visible to
        some model (see the module's parity precondition)."""
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
            fold_col=fold_col,
        )
        return self

    # -- outputs -------------------------------------------------------------

    def weights_long(self, spark) -> DataFrame:
        """Long-form (fold, label, pos, weight) across all F models."""
        return _weights_long(
            spark, self.W, self.classes, ("fold", np.arange(self.F, dtype=np.int64))
        )

    def oof_predict(
        self,
        df: DataFrame,
        *,
        features_col: str = "features",
        fold_col: str = "fold_id",
        out_col: str = "oof_pred_idx",
    ) -> DataFrame:
        """Out-of-fold prediction: each row is scored by the ONE model
        that never trained on it (model ``fold_id``) — the leakage-free
        evaluation table. Zero shuffle: one Arrow map with the stacked
        weights in the closure."""
        Wf = self.W.reshape(self.F * self.k, self.d)
        bf = self.b.reshape(self.F * self.k)
        fc, fdc = features_col, fold_col
        nf, k = self.F, self.k
        schema = StructType(
            df.schema.fields + [StructField(out_col, LongType(), False)]
        )

        def pred(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                if pdf.empty:
                    continue
                X = np.stack(pdf[fc].to_numpy()).astype(np.float64)
                folds = pdf[fdc].to_numpy(dtype=np.int64)
                m = len(X)
                logits = (X @ Wf.T + bf).reshape(m, nf, k)
                own = logits[np.arange(m), folds, :]  # model fold_i per row
                pdf = pdf.copy()
                pdf[out_col] = np.argmax(own, axis=1)
                yield pdf

        return df.mapInPandas(pred, schema=schema)
