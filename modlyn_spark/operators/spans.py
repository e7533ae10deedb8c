"""Exact verbatim-span dedup via winnowed fingerprints.

Detects document pairs that share an exact contiguous run of
``span_tokens`` words — the "verbatim overlap" dedup modality (Lee et
al. 2022, "Deduplicating Training Data Makes Language Models Better"):
quotations, syndicated passages and licensed boilerplate that shingle-
Jaccard misses entirely when the surrounding documents differ.

Candidate generation is MOSS winnowing (Schleimer, Wilkerson & Aiken,
SIGMOD'03): hash every k-token window, slide a w-window over the hashes
and select the RIGHTMOST minimum of each window. Selection is content-
defined, so two documents sharing a span select the same fingerprint at
the same relative position regardless of alignment, and the winnowing
theorem guarantees every match of length >= w + k - 1 tokens produces a
shared fingerprint. With span_tokens = w + k - 1 the candidate set is a
SUPERSET of the true pair set; an exact K-gram string join then removes
both hash collisions and shorter-than-K coincidences, so the output
equals the full K-gram inverted-index join's — at fingerprint-index
cost: winnowing stores ~2/(w+1) of the K-gram index, and the exact
verify only ever touches candidate documents.

Scale shape: one Arrow-batched map emits (doc, fingerprint) rows —
~2/(w+1) per token; the self-join moves only (id, fp); the verify
explodes K-grams for CANDIDATE documents only (left-semi pruned). No
cross joins, no per-token Python (token hashing is one vectorized FNV
pass, rolling hashes one strided matmul, winnowing one strided argmin).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType, StructField, StructType

from modlyn_spark.functions.text import _fnv1a64_batch
from modlyn_spark.operators.dedup import _candidate_docs
from modlyn_spark.session import ensure_parallelism

_B = np.uint64(1099511628211)  # FNV prime as the rolling-hash base


def _winnow_doc(th: np.ndarray, k: int, w: int) -> np.ndarray:
    """Distinct winnowed k-gram hashes of one doc's token-hash array."""
    m = len(th)
    if m < k:
        return np.empty(0, dtype=np.uint64)
    # content-only polynomial hash of each k-token window
    weights = _B ** np.arange(k - 1, -1, -1, dtype=np.uint64)
    G = np.lib.stride_tricks.sliding_window_view(th, k)  # (m-k+1, k)
    h = (G * weights).sum(axis=1, dtype=np.uint64)
    n = len(h)
    if n < w:
        # doc shorter than span_tokens: cannot contain a K-span; still
        # fingerprint it (min of all) so doc-vs-long-doc prefix matches of
        # future shorter-K variants stay detectable
        return np.unique(h[[int(np.argmin(h))]])
    W = np.lib.stride_tricks.sliding_window_view(h, w)  # (n-w+1, w)
    right_argmin = w - 1 - W[:, ::-1].argmin(axis=1)
    sel = np.unique(right_argmin + np.arange(n - w + 1))
    return np.unique(h[sel])


def winnow_fingerprints(
    df: DataFrame, id_col: str, text_col: str, *, k: int, w: int
) -> DataFrame:
    """(did, fp) — distinct winnowed fingerprints per document."""
    schema = StructType(
        [df.schema[id_col], StructField("fps", ArrayType(LongType()))]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import re

        ws = re.compile(r"\s+")
        for pdf in batches:
            if pdf.empty:
                continue
            fps = []
            for t in pdf[text_col]:
                if t is None or (isinstance(t, float) and pd.isna(t)):
                    fps.append([])
                    continue
                words = [x for x in ws.split(str(t).lower()) if x]
                if not words:
                    fps.append([])
                    continue
                th = _fnv1a64_batch([x.encode("utf-8") for x in words])
                fps.append(
                    _winnow_doc(th, k, w).astype(np.int64).tolist()
                )
            yield pd.DataFrame(
                {id_col: pdf[id_col].to_numpy(), "fps": fps}
            )

    src = ensure_parallelism(df.select(id_col, text_col), min_bytes=64 << 10)
    return (
        src.mapInPandas(run, schema=schema)
        .select(F.col(id_col).alias("did"), F.explode("fps").alias("fp"))
    )


def _kgram_strings(df: DataFrame, id_col: str, text_col: str, K: int):
    """(did, gram) — distinct K-token gram strings per document.

    Arrow-batched map, not a JVM transform/slice/array_join chain: the
    per-gram string assembly is exactly the allocation-bound
    higher-order-function shape (measured 5s for 226k grams JVM-side vs
    sub-second in the batch map)."""
    from pyspark.sql.types import ArrayType as _Arr, StringType as _Str

    schema = StructType(
        [df.schema[id_col], StructField("grams", _Arr(_Str()))]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import re

        ws = re.compile(r"\s+")
        for pdf in batches:
            if pdf.empty:
                continue
            out = []
            for t in pdf[text_col]:
                if t is None or (isinstance(t, float) and pd.isna(t)):
                    out.append([])
                    continue
                words = [x for x in ws.split(str(t).lower()) if x]
                if len(words) < K:
                    out.append([])
                    continue
                out.append(
                    list(
                        {
                            " ".join(words[i : i + K])
                            for i in range(len(words) - K + 1)
                        }
                    )
                )
            yield pd.DataFrame(
                {id_col: pdf[id_col].to_numpy(), "grams": out}
            )

    return (
        ensure_parallelism(df.select(id_col, text_col), min_bytes=64 << 10)
        .mapInPandas(run, schema=schema)
        .select(F.col(id_col).alias("did"), F.explode("grams").alias("gram"))
    )


def span_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    span_tokens: int = 8,
    eager: bool = True,
) -> DataFrame:
    """Pairs of documents sharing >= 1 exact ``span_tokens``-word
    contiguous run. Returns (id1, id2, n_shared_grams) where
    n_shared_grams counts the DISTINCT shared K-grams (a shared run of
    L >= K tokens contributes L - K + 1 of them) — exactly the full
    K-gram inverted-index join's answer, at winnowed-candidate cost.

    ``eager=True`` (default) materializes the (output-sized) result via
    localCheckpoint and UNPERSISTS the fingerprint/candidate caches
    before returning: the winnowed index is ~2/(w+1) of all token
    positions — held in MEMORY_AND_DISK for the caller's lifetime it
    would crowd out executor memory at corpus scale. Pass eager=False
    when composing into a larger lazy plan (the caches then live until
    the session drops them)."""
    K = int(span_tokens)
    if K < 2:
        raise ValueError("span_tokens must be >= 2")
    # any (k, w) with w + k - 1 == K preserves the detection guarantee;
    # larger k suppresses spurious candidates (a random k-token collision
    # admits a doc pair), smaller w raises index density (~2/(w+1)).
    # w=3 / k=K-2: half-density index, k long enough that coincidental
    # k-gram matches are rare even on small-vocabulary corpora (k=(K+1)//2
    # made 89% of the sf0.1 corpus candidate docs; k=K-2 prunes to the
    # genuinely overlapping tail)
    w = 3 if K >= 4 else 2
    k = K - w + 1

    # cache: fp feeds both self-join sides, cand three consumers — without
    # it every reference re-runs the whole winnow Arrow pass over the corpus
    fp = winnow_fingerprints(df, id_col, text_col, k=k, w=w).cache()
    a = fp.select(F.col("did").alias("id1"), "fp")
    b = fp.select(F.col("did").alias("id2"), "fp")
    cand = (
        a.join(b, "fp")
        .where(F.col("id1") < F.col("id2"))
        .select("id1", "id2")
        .dropDuplicates(["id1", "id2"])
        .cache()
    )

    # exact verify on K-gram STRINGS, restricted to candidate documents
    grams = _kgram_strings(
        _candidate_docs(df, id_col, cand, "id1", "id2"), id_col, text_col, K
    )
    # single-exchange self-join (the hash_hamming_pairs rule): both sides
    # are ONE gram table repartitioned by the join key, so the semi-join +
    # K-gram explode runs as concurrent shuffle maps (deduped under the
    # default exchange reuse) instead of twice, one side serialized
    # behind the other's broadcast build — measured 2.0s -> 1.45s warm at
    # sf0.1 with identical output, and at corpus scale the gram table
    # cannot broadcast at all.
    # Skew boundary: a boilerplate K-gram shared by n candidate docs puts
    # n rows on one gram key, i.e. n^2 joined rows on ONE reducer after the
    # repartition. Only the candidate-doc semi-join above bounds n; no
    # salting applies here.
    g = grams.repartition(F.col("gram"))
    shared = (
        g.alias("a")
        .join(g.alias("b"), F.col("a.gram") == F.col("b.gram"))
        .where(F.col("a.did") < F.col("b.did"))
        .groupBy(F.col("a.did").alias("id1"), F.col("b.did").alias("id2"))
        .agg(F.count_distinct(F.col("a.gram")).alias("n_shared_grams"))
    )
    out = cand.join(shared, ["id1", "id2"]).select(
        "id1", "id2", F.col("n_shared_grams").cast("long").alias("n_shared_grams")
    )
    if eager:
        out = out.localCheckpoint(eager=True)
        fp.unpersist()
        cand.unpersist()
    return out


def span_contamination(
    corpus: DataFrame,
    probe: DataFrame,
    id_col: str,
    text_col: str,
    *,
    span_tokens: int = 8,
    eager: bool = True,
) -> DataFrame:
    """CROSS-corpus verbatim-span detection — the contamination check
    whole-document similarity misses: an eval question quoted verbatim
    inside a long, otherwise-unrelated training document has near-zero
    document Jaccard but a perfect K-token span match.

    Same winnow-then-exactly-verify contract as ``span_dup_pairs``, with
    the fingerprint join BETWEEN the two tables (never within either):
    candidates cost sum-over-buckets of |corpus_bucket| x |probe_bucket|,
    and the exact K-gram verify touches candidate documents only.
    Returns (corpus_id, probe_id, n_shared_grams).

    ``eager`` as in ``span_dup_pairs``: default True materializes the
    result and unpersists the candidate cache before returning
    (curate_corpus passes False to stay a single lazy plan).
    """
    K = int(span_tokens)
    if K < 2:
        raise ValueError("span_tokens must be >= 2")
    w = 3 if K >= 4 else 2
    k = K - w + 1

    cfp = winnow_fingerprints(corpus, id_col, text_col, k=k, w=w).select(
        F.col("did").alias("corpus_id"), "fp"
    )
    pfp = winnow_fingerprints(probe, id_col, text_col, k=k, w=w).select(
        F.col("did").alias("probe_id"), "fp"
    )
    cand = (
        cfp.join(pfp, "fp")
        .select("corpus_id", "probe_id")
        .dropDuplicates(["corpus_id", "probe_id"])
        .cache()  # three consumers below
    )

    cg = _kgram_strings(
        _candidate_docs(corpus, id_col, cand, "corpus_id"), id_col, text_col, K
    ).select(F.col("did").alias("corpus_id"), "gram")
    pg = _kgram_strings(
        _candidate_docs(probe, id_col, cand, "probe_id"), id_col, text_col, K
    ).select(F.col("did").alias("probe_id"), "gram")
    shared = (
        cg.join(pg, "gram")
        .groupBy("corpus_id", "probe_id")
        .agg(F.count_distinct("gram").alias("n_shared_grams"))
    )
    out = cand.join(shared, ["corpus_id", "probe_id"]).select(
        "corpus_id",
        "probe_id",
        F.col("n_shared_grams").cast("long").alias("n_shared_grams"),
    )
    if eager:
        out = out.localCheckpoint(eager=True)
        cand.unpersist()
    return out
