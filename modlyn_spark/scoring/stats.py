"""Per-class per-feature statistics and F-statistic scoring.

The distributed analogue of the scanpy rank_genes_groups mean/variance
scoring path the reference quickstart compares against (SURVEY.md N2;
reference: docs/quickstart.ipynb cells 1335d6d3 / 8c058e6c), and the
building block for the count-matrix statistics the north_rule mandates.

The stats take one ``mapInPandas`` pass that emits per-input-partition
per-class moment partials (n, sum[d], sumsq[d]) — numpy-vectorized over
Arrow batches, output is tiny (n_partitions x n_classes rows) — then a
``groupBy(label)`` combine and a ``posexplode`` to long form. This is the
map-side-combined tree aggregation the north_star names: the wide shuffle
moves only moment vectors, never rows.

Label encoding mirrors sklearn.LabelEncoder (classes sorted ascending;
reference: modlyn/models/_simple_logreg_datamodule.py:85-88).
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
    StringType,
    StructField,
    StructType,
)


def label_encode(df: DataFrame, label_col: str) -> tuple[list, DataFrame]:
    """sklearn.LabelEncoder parity: distinct labels sorted ascending -> dense
    int codes. Returns (classes, df with ``<label_col>_idx``).

    The mapping is collected (n_classes is small) and applied as a broadcast
    literal map — no join, no shuffle.
    """
    classes = [
        r[0]
        for r in df.select(label_col).distinct().orderBy(label_col).collect()
    ]
    mapping = F.create_map(
        *[x for i, c in enumerate(classes) for x in (F.lit(c), F.lit(i))]
    )
    return classes, df.withColumn(f"{label_col}_idx", mapping[F.col(label_col)])


def class_feature_stats(
    df: DataFrame,
    label_col: str,
    features_col: str = "features",
) -> DataFrame:
    """Long-form per-class per-feature statistics.

    Returns DataFrame(label, pos, n, mean, var_pop) — one row per
    (class, feature position). ``var_pop`` is the population variance
    (matches numpy's default ddof=0, which the oracle and scanpy-style
    scoring use).
    """
    partial_schema = StructType(
        [
            StructField("label", StringType()),
            StructField("n", LongType()),
            StructField("s", ArrayType(DoubleType())),
            StructField("ss", ArrayType(DoubleType())),
        ]
    )

    lc, fc = label_col, features_col

    def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        acc: dict[str, list] = {}
        for pdf in batches:
            if pdf.empty:
                continue
            X = np.stack(pdf[fc].to_numpy()).astype(np.float64)
            labels = pdf[lc].to_numpy()
            for lab in pd.unique(labels):
                sub = X[labels == lab]
                key = str(lab)
                if key not in acc:
                    acc[key] = [0, 0.0, 0.0]
                acc[key][0] += len(sub)
                acc[key][1] = acc[key][1] + sub.sum(axis=0)
                acc[key][2] = acc[key][2] + (sub * sub).sum(axis=0)
        if acc:
            yield pd.DataFrame(
                {
                    "label": list(acc),
                    "n": [v[0] for v in acc.values()],
                    "s": [v[1].tolist() for v in acc.values()],
                    "ss": [v[2].tolist() for v in acc.values()],
                }
            )

    combine_schema = StructType(
        [
            StructField("label", StringType()),
            StructField("pos", LongType()),
            StructField("n", LongType()),
            StructField("mean", DoubleType()),
            StructField("var_pop", DoubleType()),
        ]
    )

    def combine(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        n = int(pdf["n"].sum())
        s = np.sum(np.stack(pdf["s"].to_numpy()), axis=0)
        ss = np.sum(np.stack(pdf["ss"].to_numpy()), axis=0)
        mean = s / n
        var = np.maximum(ss / n - mean * mean, 0.0)
        d = len(mean)
        return pd.DataFrame(
            {
                "label": key[0],
                "pos": np.arange(d, dtype=np.int64),
                "n": n,
                "mean": mean,
                "var_pop": var,
            }
        )

    p = df.select(F.col(lc).cast("string").alias(lc), fc).mapInPandas(
        partials, schema=partial_schema
    )
    return p.groupBy("label").applyInPandas(combine, schema=combine_schema)


def wilcoxon_scores(
    df: DataFrame,
    label_col: str,
    features_col: str = "features",
) -> DataFrame:
    """Per-class per-feature Wilcoxon rank-sum z-scores (class vs rest).

    The distributed analogue of scanpy's rank_genes_groups(method=
    "wilcoxon") — the second scoring method the reference quickstart
    compares against the logreg weights (reference docs/quickstart.ipynb
    cell 8c058e6c; SURVEY.md §2.1 N2). For each feature position, values
    are ranked over ALL rows (average ranks for ties), and each class's
    rank sum is z-scored against the null N(n1(N+1)/2, n1*n2/12*((N+1) -
    tie_term)) with the standard tie correction tie_term =
    sum_t(t^3 - t)/(N(N-1)).

    Physical plan: posexplode -> ONE exchange on ``pos`` serving both
    windows (rank + tie-peer count share partitioning and sort order:
    ties are counted with a RANGE BETWEEN CURRENT ROW AND CURRENT ROW
    frame, i.e. order-key peers — no second shuffle on (pos, value)),
    then a map-side-combinable groupBy(label, pos) whose output is tiny
    (k x d rows), and a final window over pos for the grand totals.
    Ranking n values per feature is a per-feature sort — embarrassingly
    parallel across the d feature partitions.

    Returns DataFrame(label, pos, n1, rank_sum, z).
    """
    from pyspark.sql import Window

    ex = df.select(
        F.col(label_col).cast("string").alias("label"),
        F.posexplode(features_col).alias("pos", "x"),
    ).select("label", "pos", F.col("x").cast("double").alias("x"))

    w_rank = Window.partitionBy("pos").orderBy("x")
    # peers of the current order key == tie-group size t (same exchange)
    w_ties = w_rank.rangeBetween(0, 0)
    ranked = ex.select(
        "label",
        "pos",
        (
            F.rank().over(w_rank)
            + (F.count(F.lit(1)).over(w_ties) - 1) / 2.0
        ).alias("avg_rank"),
        F.count(F.lit(1)).over(w_ties).alias("t"),
    )
    # sum_groups(t^3 - t) == sum_rows(t^2 - 1): each tie group of size t
    # contributes t rows of (t^2 - 1)
    per_class = ranked.groupBy("label", "pos").agg(
        F.sum("avg_rank").alias("rank_sum"),
        F.count(F.lit(1)).alias("n1"),
        F.sum(F.col("t") * F.col("t") - 1.0).alias("tie_part"),
    )
    w_pos = Window.partitionBy("pos")
    tot = per_class.withColumn("n_total", F.sum("n1").over(w_pos)).withColumn(
        "tie_sum", F.sum("tie_part").over(w_pos)
    )
    n1, nt = F.col("n1"), F.col("n_total")
    mu = n1 * (nt + 1) / 2.0
    var = (
        n1 * (nt - n1) / 12.0
        * ((nt + 1) - F.col("tie_sum") / (nt * (nt - 1.0)))
    )
    return tot.select(
        "label",
        "pos",
        "n1",
        "rank_sum",
        F.when(var > 0, (F.col("rank_sum") - mu) / F.sqrt(var))
        .otherwise(F.lit(0.0))
        .alias("z"),
    )


def f_statistic(stats: DataFrame) -> DataFrame:
    """One-way ANOVA F per feature from long-form class stats.

    Input: the (label, pos, n, mean, var_pop) frame from
    ``class_feature_stats``. Output: DataFrame(pos, f_stat). Pure SQL
    aggregation — the input is already tiny (n_classes x d rows).

    F = [sum_c n_c (m_c - m)^2 / (k-1)] / [sum_c n_c var_c / (N-k)].
    ``sum_c n_c var_c`` equals the within-class sum of squares because
    var_pop is the population variance.

    Grand totals come from a window over the same ``pos`` partitioning the
    final groupBy uses, so Catalyst plans ONE exchange for the whole
    statistic (an aggregate+join formulation would add a second shuffle and
    a join stage for the same tiny frame).
    """
    from pyspark.sql import Window

    w = Window.partitionBy("pos")
    j = (
        stats.withColumn("n_total", F.sum("n").over(w))
        .withColumn("k_classes", F.count("label").over(w))
        .withColumn("grand", F.sum(F.col("n") * F.col("mean")).over(w) / F.col("n_total"))
    )
    return (
        j.groupBy("pos")
        .agg(
            (
                F.sum(
                    F.col("n")
                    * (F.col("mean") - F.col("grand"))
                    * (F.col("mean") - F.col("grand"))
                )
                / (F.first("k_classes") - F.lit(1))
            ).alias("ms_between"),
            (
                F.sum(F.col("n") * F.col("var_pop"))
                / (F.first("n_total") - F.first("k_classes"))
            ).alias("ms_within"),
        )
        .select(
            "pos",
            F.when(
                F.col("ms_within") > 0, F.col("ms_between") / F.col("ms_within")
            )
            .otherwise(F.lit(float("inf")))
            .alias("f_stat"),
        )
    )
