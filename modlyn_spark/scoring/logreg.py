"""Distributed mini-batch logistic regression — the reference scoring loop.

Reproduces modlyn's SimpleLogReg inner loop (reference:
modlyn/models/_simple_logreg_model.py:70-83 training_step,
:105-108 Adam(lr, weight_decay)) as per-partition partials with a
pid-sorted driver combine, in ONE shared stacked trainer (``_fit_stacked``)
that trains M models at once:

- the training table is cached with a deterministic batch assignment;
- each step broadcasts the current (M*k, d) weight stack to executors,
  computes per-partition gradient partials vectorized over Arrow batches
  (one numpy GEMM for all logits, one for all gradients — the M1 forward
  pass), and sums them on the driver in sorted partition order in float64;
- the Adam updates (torch parity: L2 weight decay folded into the
  gradient, bias-corrected moments) run on the driver, one state per
  model — the model stack is tiny next to the data, the classic
  parameter-server-on-driver layout.

``DistributedLogReg`` is the M=1 call; ``scoring.regpath.RegPathLogReg``
stacks one model per weight decay and ``scoring.cv.CVLogReg`` one model
per held-out fold (with a row-visibility mask).

Determinism: batch composition is a pure function of the row key
(md5-derived, replicable in pandas/DuckDB), partials are float64 and summed
sorted by partition id, so two runs at different parallelism produce
numpy.allclose-identical weights (the N-vs-4N-cluster invariant).

Scale notes: per step the job reads only the current batch (the batch filter
prunes cached in-memory partition stats; at n_batches >= 32 the cache is
pre-clustered by batch_id). Weights move driver<->executor once per step:
O(M*k*d) bytes, independent of data size.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from modlyn_spark.oracle.pandas_oracle import AdamState


def assign_batches(
    df: DataFrame, key_cols: list[str], n_batches: int, col: str = "batch_id"
) -> DataFrame:
    """Deterministic batch assignment: md5 of the concatenated key, first 8
    hex chars as an int, mod n_batches. Pure column expression (JVM-side),
    and exactly replicable in pandas (hashlib) and DuckDB (md5) — the oracle
    recomputes it bit-for-bit."""
    key = F.concat_ws("|", *[F.col(c).cast("string") for c in key_cols])
    bucket = F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("long")
    return df.withColumn(col, (bucket % n_batches).cast("int"))


def assign_batches_pandas(
    pdf: pd.DataFrame, key_cols: list[str], n_batches: int
) -> np.ndarray:
    """Pandas twin of assign_batches (oracle parity)."""
    import hashlib

    keys = pdf[key_cols[0]].astype(str)
    for c in key_cols[1:]:
        keys = keys + "|" + pdf[c].astype(str)
    return np.array(
        [int(hashlib.md5(k.encode()).hexdigest()[:8], 16) % n_batches for k in keys],
        dtype=np.int64,
    )


def _partial_schema(masked: bool) -> StructType:
    """Per-partition partial row of the stacked trainer: M models' summed
    gradients and losses plus the visible-row count — one count per model
    under a fold mask, else one shared count."""
    return StructType(
        [
            StructField("pid", LongType()),
            StructField("gw", ArrayType(DoubleType())),  # flattened (M*k, d)
            StructField("gb", ArrayType(DoubleType())),  # flattened (M, k)
            StructField("loss_sum", ArrayType(DoubleType())),  # per model
            StructField("n", ArrayType(LongType()) if masked else LongType()),
        ]
    )


def _fit_stacked(
    df: DataFrame,
    W: np.ndarray,
    b: np.ndarray,
    optW: list,
    optb: list,
    losses: list[list[float]],
    *,
    features_col: str,
    label_idx_col: str,
    batch_col: str,
    n_batches: int | None,
    max_steps: int,
    max_epochs: int,
    fold_col: str | None = None,
    epoch_callback=None,
) -> None:
    """Train M softmax models over one cached (features, label_idx,
    batch_id[, fold_id]) table, updating ``W`` (M, k, d), ``b`` (M, k),
    the M Adam states and the M loss lists in place.

    Per step, one mapInPandas job over ``batch_id == bid``: each partition
    stacks the M weight matrices into one (M*k, d) block, so ONE GEMM gives
    every model's logits and ONE GEMM every model's gradient. Without
    ``fold_col`` every row is visible to every model; with it, model f
    masks out the rows of fold f and normalizes by its own visible-row
    count. The driver sums the partials in pid order (float64,
    deterministic at any parallelism) and runs M independent Adam steps,
    each with its own weight decay — so model m's trajectory is exactly a
    standalone M=1 run on its visible rows.

    At ``n_batches >= 32`` the cached table is repartitioned by batch id
    (one up-front shuffle, identical results), so each step's batch filter
    prunes whole cached partitions instead of scanning every one.
    """
    cols = [features_col, label_idx_col, batch_col]
    if fold_col is not None:
        cols.append(fold_col)
    data = df.select(*cols)
    if n_batches is None:
        top = data.agg(F.max(batch_col)).collect()[0][0]
        if top is None:
            raise ValueError(
                f"empty training table: no {batch_col!r} values to infer "
                "n_batches from"
            )
        n_batches = top + 1
    if n_batches >= 32:
        data = data.repartition(n_batches, batch_col)
    data = data.cache()

    fc, lc, fdc = features_col, label_idx_col, fold_col
    M, k, d = W.shape
    schema = _partial_schema(fold_col is not None)

    def grad_partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        gW = np.zeros((M * k, d))
        gb = np.zeros((M, k))
        loss_sum = np.zeros(M)
        n = np.zeros(M, dtype=np.int64)
        Wf, bf = grad_partials.Wf, grad_partials.bf
        for pdf in batches:
            if pdf.empty:
                continue
            X = np.stack(pdf[fc].to_numpy()).astype(np.float64)
            y = pdf[lc].to_numpy(dtype=np.int64)
            m = len(X)
            # ONE GEMM for all M models' logits: (m, M*k)
            logits = (X @ Wf.T + bf).reshape(m, M, k)
            logits -= logits.max(axis=2, keepdims=True)
            e = np.exp(logits)
            p = e / e.sum(axis=2, keepdims=True)  # (m, M, k)
            rows = np.arange(m)
            # advanced indices split by a slice -> (m, M): the true-class
            # probability per row per model
            nll = -np.log(np.clip(p[rows, :, y], 1e-30, None))
            p[rows, :, y] -= 1.0
            if fdc is None:
                n += m
            else:
                # row i is visible to model f iff fold_i != f
                vis = pdf[fdc].to_numpy(dtype=np.int64)[:, None] != np.arange(M)
                nll = nll * vis
                p *= vis[:, :, None]
                n += vis.sum(axis=0)
            loss_sum += nll.sum(axis=0)
            # ONE GEMM for all M gradient blocks: (M*k, d); unnormalized
            # sums, turned into batch means on the driver
            gW += p.reshape(m, M * k).T @ X
            gb += p.sum(axis=0)
        if n.any():
            yield pd.DataFrame(
                {
                    "pid": [pid],
                    "gw": [gW.ravel().tolist()],
                    "gb": [gb.ravel().tolist()],
                    "loss_sum": [loss_sum.tolist()],
                    "n": [n.tolist() if fdc is not None else int(n[0])],
                }
            )

    try:
        step = 0
        for epoch in range(max_epochs):
            if step >= max_steps:
                break
            for bid in range(n_batches):
                if step >= max_steps:
                    break
                batch = data.where(F.col(batch_col) == bid)
                grad_partials.Wf = W.reshape(M * k, d)
                grad_partials.bf = b.reshape(M * k)
                parts = batch.mapInPandas(grad_partials, schema=schema).collect()
                if not parts:
                    continue
                parts.sort(key=lambda r: r["pid"])  # deterministic combine order
                gW = np.zeros((M * k, d))
                gb = np.zeros((M, k))
                loss = np.zeros(M)
                n = np.zeros(M, dtype=np.int64)
                for r in parts:
                    gW += np.asarray(r["gw"]).reshape(M * k, d)
                    gb += np.asarray(r["gb"]).reshape(M, k)
                    loss += np.asarray(r["loss_sum"])
                    n += np.asarray(r["n"], dtype=np.int64)
                if (n == 0).any():
                    empty = np.nonzero(n == 0)[0].tolist()
                    raise ValueError(
                        f"batch {bid} has no rows visible to model(s) {empty}; "
                        "every (batch, fold-complement) cell must be non-empty"
                    )
                gW3 = gW.reshape(M, k, d)
                for mi in range(M):
                    W[mi] = optW[mi].step(W[mi], gW3[mi] / n[mi])
                    b[mi] = optb[mi].step(b[mi], gb[mi] / n[mi])
                    losses[mi].append(float(loss[mi] / n[mi]))
                step += 1
            if epoch_callback is not None:
                epoch_callback(epoch)
    finally:
        data.unpersist()


def _weights_long(
    spark, W: np.ndarray, classes: list, lead: tuple[str, list] | None = None
) -> DataFrame:
    """Long-form (label, pos, weight) rows of a (k, d) weight matrix, or of
    an (M, k, d) stack with ``lead = (name, values)`` naming its leading
    axis (``lam`` for the regularization path, ``fold`` for CV)."""
    k, d = W.shape[-2:]
    M = W.size // (k * d)
    cols = {}
    if lead is not None:
        cols[lead[0]] = np.repeat(lead[1], k * d)
    cols["label"] = np.tile(np.repeat([str(c) for c in classes], d), M)
    cols["pos"] = np.tile(np.arange(d, dtype=np.int64), M * k)
    cols["weight"] = W.ravel()
    return spark.createDataFrame(pd.DataFrame(cols))


class DistributedLogReg:
    """Mini-batch softmax regression over a Spark DataFrame — the M=1 case
    of the shared stacked trainer.

    Args mirror the reference defaults (modlyn/models/_simple_logreg_model.py:
    35-38 lr=1e-2 wd=1e-2; :120-123 max_epochs=4 max_steps=3000).
    """

    def __init__(
        self,
        n_features: int,
        classes: list,
        learning_rate: float = 1e-2,
        weight_decay: float = 1e-2,
    ):
        self.d = n_features
        self.classes = list(classes)
        self.k = len(self.classes)
        self.W = np.zeros((self.k, self.d))
        self.b = np.zeros(self.k)
        self._optW = AdamState(self.W.shape, learning_rate, weight_decay)
        self._optb = AdamState(self.b.shape, learning_rate, weight_decay)
        self.losses: list[float] = []

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
        epoch_callback=None,
    ) -> "DistributedLogReg":
        """Train over a cached (features, label_idx, batch_id) DataFrame.

        One Spark aggregation per step: per-partition gradient partials,
        summed on the driver in pid order (deterministic), then a
        torch-parity Adam update — the shared stacked trainer at M=1.
        ``n_batches=None`` reads it off the table (max batch id + 1).

        ``epoch_callback``: optional ``f(epoch_idx)`` invoked after each
        completed epoch with the model already updated — the hook the
        reference's validation_step/on_validation_epoch_end uses
        (modlyn/models/_simple_logreg_model.py:88-103).

        Defaults (max_steps=3000, max_epochs=4) mirror the reference fit()
        (_simple_logreg_model.py:120-123) so direct engine callers train to
        the same budget as the facade.
        """
        _fit_stacked(
            df,
            self.W[None],
            self.b[None],
            [self._optW],
            [self._optb],
            [self.losses],
            features_col=features_col,
            label_idx_col=label_idx_col,
            batch_col=batch_col,
            n_batches=n_batches,
            max_steps=max_steps,
            max_epochs=max_epochs,
            epoch_callback=epoch_callback,
        )
        return self

    @classmethod
    def from_weights_long(cls, weights: pd.DataFrame) -> "DistributedLogReg":
        """Rebuild a model from the long-form (label, pos, weight) score
        matrix (the ``weights_long`` sink format). Bias is zero — the
        score-matrix export carries W only, like the reference's
        feature-score sink (modlyn/models/_simple_logreg_model.py:170-192).
        Class axis = sorted labels, matching ``label_encode``. Labels are
        normalized to STRINGS once, before both the class list and the
        pivot index — a numeric label column would otherwise keep its
        dtype in the pivot index and KeyError on the str-coerced class
        lookup; labels therefore order as strings ("10" < "2"), exactly
        like the engine's label_encode."""
        weights = weights.assign(label=weights["label"].astype(str))
        classes = sorted(weights["label"].unique())
        d = int(weights["pos"].max()) + 1
        m = cls(d, classes)
        piv = weights.pivot(index="label", columns="pos", values="weight")
        m.W = piv.loc[classes, list(range(d))].to_numpy(dtype=np.float64)
        return m

    # -- outputs -------------------------------------------------------------

    def get_weights(self, feature_names: list[str] | None = None) -> pd.DataFrame:
        """Score matrix: classes x features, attrs-tagged like the reference
        (modlyn/models/_simple_logreg_model.py:170-192)."""
        cols = feature_names or [f"f{j:04d}" for j in range(self.d)]
        df = pd.DataFrame(self.W, columns=cols, index=self.classes)
        df.attrs["method_name"] = "modlyn_logreg"
        return df

    def weights_long(self, spark) -> DataFrame:
        """Long-form (label, pos, weight) DataFrame for relational consumers."""
        return _weights_long(spark, self.W, self.classes)

    def predict_df(
        self, df: DataFrame, features_col: str = "features", out_col: str = "pred_idx"
    ) -> DataFrame:
        """argmax-class prediction (reference M3) as a vectorized map."""
        W, b = self.W, self.b
        fc = features_col
        schema = StructType(
            df.schema.fields + [StructField(out_col, LongType(), False)]
        )

        def pred(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                if pdf.empty:
                    continue
                X = np.stack(pdf[fc].to_numpy()).astype(np.float64)
                pdf = pdf.copy()
                pdf[out_col] = np.argmax(X @ W.T + b, axis=1)
                yield pdf

        return df.mapInPandas(pred, schema=schema)
