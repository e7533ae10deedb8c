"""Blocked fuzzy record linkage (edit-distance entity resolution).

The curation task dedup misses: records that are the SAME entity but
not near-duplicate documents — product titles with a typo, captions
with a reordered word, supplier names differing in one token. Classic
blocking + verify (Fellegi-Sunter style pipeline shape):

1. **normalize** — lowercase, strip punctuation, collapse whitespace
   (pure JVM ``regexp_replace`` codegen);
2. **block** — an equi-joinable key per record; default: the first
   ``block_tokens`` of the SORTED token list (order-insensitive, so
   word swaps still co-block). Only (id, key, normalized text) travels
   into the candidate join — never payload columns;
3. **length prefilter** — ``levenshtein >= |len1 - len2|``, so pairs
   whose length gap already violates ``min_sim``/``max_dist`` drop
   BEFORE the O(len^2) distance — a cheap codegen comparison;
4. **verify** — JVM ``levenshtein`` (whole-stage codegen, no Python)
   with ``sim = 1 - dist / greatest(len1, len2)``.

Scale: the only shuffle is the equi-join on the block key — candidates
∝ Σ block² like every banding operator here (dedup/LSH); a hot block
(e.g. empty-title records) is the same skew knob as minhash's
stop-shingle salting — filter degenerate keys upstream or raise
``block_tokens``. Recall caveat (standard for blocking): a pair whose
edit errors hit the first sorted tokens lands in different blocks and
is missed; multi-pass with different ``block_tokens``/key functions
unions recall, exactly like LSH's multi-table OR.

The whole pipeline is pure column expressions — DuckDB replays it
verbatim (same normalize regex, same sorted-prefix key, same
``levenshtein``), giving an exact oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from modlyn_spark.operators.dedup import _chunk_salted
from modlyn_spark.session import ensure_parallelism

_TOKEN_SPLIT = "\\s+"


def normalize_text(col: Column) -> Column:
    """lower → strip non-alphanumerics (keep spaces) → collapse/trim
    whitespace. Mirrored verbatim by the SQL oracle."""
    c = F.lower(col)
    c = F.regexp_replace(c, "[^a-z0-9 ]", " ")
    c = F.regexp_replace(c, "\\s+", " ")
    return F.trim(c)


def block_key(norm_col: Column, block_tokens: int) -> Column:
    """First ``block_tokens`` of the sorted token list, space-joined —
    order-insensitive blocking."""
    toks = F.array_sort(F.split(norm_col, _TOKEN_SPLIT))
    return F.array_join(F.slice(toks, 1, block_tokens), " ")


def linked_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    other: DataFrame | None = None,
    block_tokens: int = 1,
    min_sim: float | None = None,
    max_dist: int | None = None,
    hot_block_chunk: int | None = 256,
) -> DataFrame:
    """Fuzzy-matched pairs. Self mode (``other`` None): within ``df``,
    ``id1 < id2``. Cross mode: ``df`` x ``other`` (ids independent).

    Exactly one of ``min_sim`` (normalized similarity threshold in
    (0, 1]) or ``max_dist`` (absolute edit-distance cap) is required.
    Output: (id1, id2, dist, sim), sim = 1 − dist / max(len1, len2)
    (1.0 for two empty strings).

    ``hot_block_chunk`` (default ON at 256): EXACTNESS-PRESERVING skew
    guard, the dedup inverted-index pattern — a natural-language corpus
    concentrates block keys on common low tokens, and a hot block's
    pairs would all land on ONE reducer running the O(len²) distances
    serially. Blocks with > chunk rows get two-sided chunk salting on
    hash(id) (``dedup._chunk_salted``), so every pair meets on exactly
    one of m² keys carrying ~chunk² distances. Identical output to the
    unsalted join (pytest-pinned); None disables.

    The threshold predicate is pushed by Catalyst into the join
    condition, so the per-candidate ``levenshtein`` runs once where the
    candidates materialize; the output projection re-evaluates it only
    on the surviving (matched) pairs — at linkage thresholds a tiny
    fraction of candidates.
    """
    if (min_sim is None) == (max_dist is None):
        raise ValueError("pass exactly one of min_sim / max_dist")

    def prep(d: DataFrame, suffix: str) -> DataFrame:
        norm = normalize_text(F.col(text_col))
        # single-row-group sources scan as ONE partition; if the planner
        # then broadcasts the other side, the whole candidate loop (and
        # every per-candidate levenshtein) runs on one core. min_bytes=1
        # overrides ensure_parallelism's per-byte floor: a blocked
        # self-join amplifies work ~100-1000x past the input bytes
        # (sf0.1: 400KB of titles -> 1M candidate DPs; measured 200s
        # single-core vs ~6s spread), so even a sub-MB probe side is
        # worth one round-robin exchange
        return ensure_parallelism(
            d.select(
                F.col(id_col).alias(f"id{suffix}"),
                norm.alias(f"t{suffix}"),
                block_key(norm, block_tokens).alias("bk"),
            ).where(F.length(f"t{suffix}") > 0),
            min_bytes=1,
        )

    left = prep(df, "1")
    right = prep(other if other is not None else df, "2")
    join_keys = ["bk"]
    if hot_block_chunk is not None:
        # block cardinality from the larger join input drives m; both
        # sides must agree on m per key, so it is computed once.
        # Self mode: both sides are the SAME prep, so count one side and
        # double — identical counts (hence identical hot set and m) for
        # half the aggregation input, and the normalize/block pass runs
        # one fewer time.
        if other is None:
            counts = (
                left.select("bk")
                .groupBy("bk")
                .agg((F.count(F.lit(1)) * 2).alias("count"))
            )
        else:
            counts = (
                left.select("bk")
                .unionByName(right.select("bk"))
                .groupBy("bk")
                .count()
            )
        left, right = _chunk_salted(
            left, right, counts, "bk", int(hot_block_chunk),
            F.xxhash64(F.col("id1").cast("string")),
            F.xxhash64(F.col("id2").cast("string")),
        )
        join_keys = ["bk", "kx", "ky"]
    cand = left.join(right, on=join_keys)
    if other is None:
        cand = cand.where(F.col("id1") < F.col("id2"))
    l1, l2 = F.length("t1"), F.length("t2")
    gap = F.abs(l1 - l2)
    mx = F.greatest(l1, l2)
    # levenshtein >= |len1 - len2|: prune before the quadratic distance
    if max_dist is not None:
        cand = cand.where(gap <= F.lit(int(max_dist)))
    else:
        cand = cand.where(
            gap.cast("double") <= (1.0 - float(min_sim)) * mx
        )
    # the threshold predicate deliberately references the raw expression:
    # Catalyst pushes it INTO the join condition, so the per-candidate
    # levenshtein runs exactly once where the candidates materialize
    # (plan-asserted); the output projection re-evaluates only on the
    # tiny survivor set.
    #
    # BANDED distance: 3-arg levenshtein(t1, t2, thr) runs the
    # O(len x thr) banded DP with early abandon instead of the full
    # O(len^2) matrix, returning -1 when the distance exceeds thr and
    # the exact distance otherwise. Rejected candidates dominate a
    # blocked join, so bounding the band is the win. thr carries +1
    # slack in min_sim mode so float rounding in the ORIGINAL predicate
    # (re-applied below, unchanged — the survivor set is decided by the
    # same float comparison as before) can never disagree with the
    # integer band: any dist admitted by 1 - dist/mx >= min_sim
    # satisfies dist <= (1-min_sim)*mx up to ULPs, and the band only
    # needs to cover every admissible dist.
    if max_dist is not None:
        thr = F.lit(int(max_dist))
    else:
        thr = (
            F.floor(F.lit(1.0 - float(min_sim)) * mx).cast("int") + F.lit(1)
        )
    dist = F.call_function("levenshtein", F.col("t1"), F.col("t2"), thr)
    sim = F.when(mx > 0, 1.0 - dist / mx).otherwise(F.lit(1.0))
    cand = cand.where(dist >= 0)
    if max_dist is not None:
        cand = cand.where(dist <= int(max_dist))
    else:
        cand = cand.where(sim >= float(min_sim))
    return cand.select(
        "id1", "id2", dist.alias("dist"), sim.alias("sim")
    )
