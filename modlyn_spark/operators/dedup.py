"""Document deduplication operators: exact, n-gram Jaccard, MinHash+LSH,
SimHash, embedding-cosine.

Scale design notes (the 100 TB story):

- exact: one map-side-combinable groupBy on a 128-bit content fingerprint —
  the minimum possible: no row ever compares against another directly.
- n-gram Jaccard: EXACT Jaccard without a cross join, via an inverted
  shingle index: explode distinct shingles, self-join on shingle (pairs
  only share work where they share content), count common shingles c,
  jaccard = c / (|A| + |B| - c). Skew guard: exact two-sided chunk
  salting of ultra-frequent shingles (stop-shingles).
- MinHash+LSH: k-lane signatures (vectorized numpy UDF), banded
  bucketing; only bucket-colliding pairs are candidates, verified by
  signature agreement.
  Sub-quadratic: cost ~ sum over buckets of bucket^2, controlled by bands.
- SimHash: 64-bit near-dup with hamming radius; Manku-style multi-block
  pigeonhole keys (radius r, m blocks: hashes within r agree on some
  (m-r)-subset of blocks) so candidate pairs come from ONE equi-join on
  subset-combination keys, never a cross join; key width scales with the
  radius instead of collapsing to ~7-bit blocks.
- embedding cosine: exact threshold pairs via block-nested join only in
  the small case; the scale path is LSH bucketing from
  modlyn_spark.operators.similarity.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

import numpy as np
import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType

from modlyn_spark.functions.text import (
    char_shingles,
    doc_fingerprint,
    minhash_signature_udf,
    simhash64_udf,
)
from modlyn_spark.session import ensure_parallelism

# corpus_line_dedup broadcast_hot=None: force-broadcast the hot-unit set
# only when the INPUT's compressed scan estimate is at most this (the hot
# set is bounded by corpus text volume; above it, AQE decides from the
# hot set's actual runtime size)
_BROADCAST_HOT_MAX_BYTES = 64 << 20


def _packed_jaccard_col(psh1: str, psh2: str) -> Column:
    """Exact Jaccard of two SORTED-unique packed-shingle arrays as a pure
    JVM expression (array_intersect; identical value to the string-shingle
    formulation — packing is a bijection, ~1/4 the bytes per row through
    the verification joins).

    CAVEAT measured in context: Catalyst does NOT common-subexpression-
    eliminate array expressions, and this when-guard references the
    intersect three times — applied directly as the verify filter it
    re-intersects every candidate pair ~3x and ran SLOWER than the pandas
    UDF it replaced. Use it only behind ``_jaccard_verified``'s algebraic
    pre-filter, which evaluates ONE intersect per rejected pair and leaves
    this full form to the handful of survivors. Both-empty shingle sets
    yield 0.0 (the when-guard also keeps ANSI mode from a division by
    zero)."""
    c = F.size(F.array_intersect(psh1, psh2))
    denom = F.size(psh1) + F.size(psh2) - c
    return F.when(denom > 0, c.cast("double") / denom).otherwise(F.lit(0.0))


def _jaccard_verified(
    joined: DataFrame, threshold: float, out_cols: list[str]
) -> DataFrame:
    """Exact-Jaccard filter for a (.., psh1, psh2) join, >= ``threshold``.

    Two stages so each REJECTED pair costs exactly one array_intersect:
    an algebraic pre-filter on the intersection count alone —
    j >= t  <=>  c >= t*(|A|+|B|)/(1+t), applied as
    c*(1+t) >= t*(|A|+|B|) - 1e-9 (the epsilon absorbs float rounding so
    the pre-filter is a strict superset; codegen short-circuits the AND,
    so the division form below never runs for pre-rejected rows) — then
    the exact division on survivors, bit-identical to the SQL oracle's
    c/(|A|+|B|-c) >= t. In-context A/B at sf0.1/sf1: the naive
    when-guard verify ran 8.5-26s, this form 6.2-13.3s (pandas-UDF
    parity at the small tier, JVM-only stage at scale)."""
    t = float(threshold)
    c = F.size(F.array_intersect("psh1", "psh2"))
    pre = c.cast("double") * (1.0 + t) >= (
        F.size("psh1") + F.size("psh2")
    ).cast("double") * t - 1e-9
    return (
        joined.where(pre)
        .select(
            *out_cols, _packed_jaccard_col("psh1", "psh2").alias("jaccard")
        )
        .where(F.col("jaccard") >= t)
    )


def _est_jaccard_col(sig1: str, sig2: str) -> Column:
    """Estimated Jaccard = fraction of equal minhash lanes, as a pure JVM
    column expression (whole-stage codegen).

    This replaced an Arrow-batched pandas UDF: on the sf1 bench corpus the
    candidate stage feeds ~19.6M pairs x two 96-lane arrays through this
    filter, and shipping ~30 GB of signature longs across the Arrow
    boundary cost 6.6x the wall time of comparing them JVM-side (86s ->
    13s, identical surviving pair set). Fixed-width lane equality is the
    case where the JVM higher-order form wins.
    """
    eq = F.zip_with(sig1, sig2, lambda x, y: x == y)
    return F.size(F.filter(eq, lambda e: e)) / F.size(F.col(sig1))


def _signatures(
    df: DataFrame, id_col: str, text_col: str, k: int, n: int
) -> DataFrame:
    """(did, sig) table of k-lane MinHash signatures (vectorized numpy UDF).

    Shingle-less documents (NULL text, or text shorter than n) are DROPPED
    here: the UDF emits the same all-sentinel signature for them, so
    without the filter every pair of contentless docs would collide in
    every band and est-score 1.0 — while their exact Jaccard is 0 (empty
    sets). Dropping matches the exact inverted-index semantics (no
    shingles -> no postings -> no pairs)."""
    from modlyn_spark.functions.text import _MERSENNE31

    # signature building is the CPU-bound per-byte stage: make sure an
    # under-partitioned source (single-row-group file) doesn't serialize it
    src = ensure_parallelism(df.select(F.col(id_col).alias("did"), text_col))
    sig = minhash_signature_udf(src, text_col, "sig", k=k, n=n).select(
        "did", "sig"
    )
    sentinel = F.array(*[F.lit(_MERSENNE31)] * k)
    return sig.where(F.col("sig").isNotNull() & (F.col("sig") != sentinel))


def _band_keys(sig: DataFrame, k: int, bands: int) -> DataFrame:
    """(did, bh): one row per (document, LSH band) of a (did, sig) table,
    bh = xxhash64 of the band index and that band's k/bands lanes. The
    band index is baked into the key, so ONE equi-join on bh finds
    collisions in any band — the banding rule every MinHash operator here
    shares, so self-join and cross-join candidates cannot drift apart."""
    rows_per_band = k // bands
    return sig.select(
        "did",
        F.explode(
            F.array(
                *[
                    F.xxhash64(
                        F.lit(b),
                        *[
                            F.col("sig")[i]
                            for i in range(b * rows_per_band, (b + 1) * rows_per_band)
                        ],
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bh"),
    )


def _chunk_salted(
    left: DataFrame,
    right: DataFrame,
    counts: DataFrame,
    key: str,
    chunk: int,
    left_hash: Column,
    right_hash: Column,
) -> tuple[DataFrame, DataFrame]:
    """EXACTNESS-PRESERVING two-sided chunk salting of an equi-join on
    ``key``: a key shared by f rows forces ~f^2 pairs — inherent to exact
    semantics — but landing them on ONE reducer is not.

    ``counts`` is (key, count), the caller's per-key join cardinality;
    keys with count > ``chunk`` get m = ceil(count / chunk) through one
    broadcast left join (every other key m = 1). Each row takes chunk
    c = pmod(hash, m) from its side's hash column; the left side
    replicates to (kx, ky) = (c, 0..m-1), the right to (0..m-1, c). Joined
    on (key, kx, ky), every pair meets on exactly one of the key's m^2
    sub-keys, each carrying ~chunk^2 pairs: output identical to the
    unsalted join, replication m on hot rows only. Both sides read m from
    the same counts, so they agree on it per key."""
    hot = counts.where(F.col("count") > chunk).select(
        key, F.ceil(F.col("count") / chunk).cast("int").alias("m")
    )

    def salt(d: DataFrame, h: Column, mine_first: bool) -> DataFrame:
        s = d.join(F.broadcast(hot), key, "left").withColumn(
            "m", F.coalesce("m", F.lit(1))
        )
        c = F.pmod(h, F.col("m")).cast("int")
        o = F.explode(F.sequence(F.lit(0), F.col("m") - 1))
        kx, ky = (c, o) if mine_first else (o, c)
        return s.select(*d.columns, kx.alias("kx"), ky.alias("ky"))

    return salt(left, left_hash, True), salt(right, right_hash, False)


def _candidate_docs(
    df: DataFrame, id_col: str, cand: DataFrame, *cand_cols: str
) -> DataFrame:
    """Rows of ``df`` whose ``id_col`` appears in any of ``cand``'s
    ``cand_cols`` — a left-semi restriction, so per-document work that
    Catalyst cannot prune through a mapInPandas (shingle packing, K-gram
    explode) runs on candidate documents only. The candidate ids take the
    reserved alias ``__cand_id``: an id_col literally named like a
    candidate column ("did", "cid") would otherwise make the semi-join
    condition self-referential."""
    ids = cand.select(F.col(cand_cols[0]).alias("__cand_id"))
    for c in cand_cols[1:]:
        ids = ids.unionByName(cand.select(F.col(c).alias("__cand_id")))
    return df.join(ids.distinct(), df[id_col] == F.col("__cand_id"), "left_semi")


def dedup_exact(
    df: DataFrame, id_col: str, text_col: str, fingerprint_col: str = "fp"
) -> DataFrame:
    """Keep one representative (min id) per canonical-content fingerprint.
    Returns the deduplicated rows (all original columns)."""
    w = Window.partitionBy(fingerprint_col).orderBy(F.col(id_col).asc())
    return (
        df.withColumn(fingerprint_col, doc_fingerprint(F.col(text_col)))
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn", fingerprint_col)
    )


def duplicate_groups(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Exact-duplicate groups: (fingerprint, n_dups, keep_id) for groups with
    more than one member."""
    return (
        df.select(F.col(id_col), doc_fingerprint(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(
            F.count(F.lit(1)).alias("n_dups"),
            F.min(id_col).alias("keep_id"),
        )
        .where(F.col("n_dups") > 1)
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    threshold: float = 0.8,
    hot_shingle_chunk: int | None = 4096,
) -> DataFrame:
    """Exact character-n-gram Jaccard similar pairs via inverted index.

    Returns (id1, id2, jaccard) with id1 < id2 and jaccard >= threshold.

    ``hot_shingle_chunk`` (default ON at 4096): exactness-preserving skew
    guard for stop-shingles — postings of a shingle shared by more than
    chunk documents get two-sided chunk salting on hash(doc)
    (``_chunk_salted``), so its ~f^2/2 candidate pairs spread over m^2
    reducer keys instead of one. Output is identical to the unsalted join
    (None).
    """
    sh = ensure_parallelism(
        df.select(
            F.col(id_col).alias("did"),
            char_shingles(F.col(text_col), n).alias("sh"),
        )
    ).withColumn("sz", F.size("sh"))
    sizes = sh.select("did", "sz")
    inv = sh.select("did", F.explode("sh").alias("s"))
    a, b, join_keys = inv, inv, ["s"]
    if hot_shingle_chunk is not None:
        h = F.xxhash64("did")
        a, b = _chunk_salted(
            inv, inv, inv.groupBy("s").count(), "s", hot_shingle_chunk, h, h
        )
        join_keys = ["s", "kx", "ky"]
    a = a.withColumnRenamed("did", "id1")
    b = b.withColumnRenamed("did", "id2")
    common = (
        a.join(b, join_keys)
        .where(F.col("id1") < F.col("id2"))
        .groupBy("id1", "id2")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    s1 = sizes.select(F.col("did").alias("id1"), F.col("sz").alias("sz1"))
    s2 = sizes.select(F.col("did").alias("id2"), F.col("sz").alias("sz2"))
    return (
        common.join(s1, "id1")
        .join(s2, "id2")
        .select(
            "id1",
            "id2",
            (
                F.col("c") / (F.col("sz1") + F.col("sz2") - F.col("c"))
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 32,
    bands: int = 8,
    n: int = 3,
    threshold: float = 0.7,
) -> DataFrame:
    """MinHash + banded LSH near-duplicate pairs.

    Banding: k/bands lanes hashed per band; docs colliding in ANY band
    become candidates; candidates are scored by exact signature agreement
    (estimated Jaccard) and filtered at ``threshold``.
    Returns (id1, id2, est_jaccard).
    """
    sig = _signatures(df, id_col, text_col, k, n).cache()
    # CANDIDATES TRAVEL LIGHT: the banded self-join and the pair dedup move
    # only (id, band-hash) / (id1, id2) — never the k-lane signatures. An
    # earlier formulation carried both 64-lane arrays through the join and
    # dropDuplicates, turning a noisy corpus's millions of candidate pairs
    # into gigabytes of shuffle; signatures are joined back exactly once
    # per DISTINCT pair (band index is baked into the bucket hash).
    banded = _band_keys(sig, k, bands)
    a = banded.select(F.col("did").alias("id1"), "bh")
    b = banded.select(F.col("did").alias("id2"), "bh")
    cand = (
        a.join(b, "bh")
        .where(F.col("id1") < F.col("id2"))
        .select("id1", "id2")
        .dropDuplicates(["id1", "id2"])
    )
    s1 = sig.select(F.col("did").alias("id1"), F.col("sig").alias("sig1"))
    s2 = sig.select(F.col("did").alias("id2"), F.col("sig").alias("sig2"))
    return (
        cand.join(s1, "id1")
        .join(s2, "id2")
        .select("id1", "id2", _est_jaccard_col("sig1", "sig2").alias("est_jaccard"))
        .where(F.col("est_jaccard") >= threshold)
    )


def minhash_dedup_groups(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 32,
    bands: int = 4,
    n: int = 3,
    threshold: float = 0.9,
) -> DataFrame:
    """Scalable near-duplicate GROUPING via MinHash-LSH star edges.

    ``minhash_lsh_pairs`` enumerates every colliding pair — O(bucket^2)
    inside a cluster of mutually-similar documents, which explodes on
    template-heavy corpora. For deduplication you only need one keeper per
    group: here every doc links only to its bucket's min-id representative
    (O(n x bands) edges total), links are verified by signature agreement at
    ``threshold``, and each doc keeps its smallest verified representative.

    Returns (doc_id, keep_id, est_jaccard): one row per document that is a
    near-duplicate of a smaller-id representative (keep_id < doc_id).

    Shuffle design — the same travels-light rule as ``minhash_lsh_pairs``:
    the bucket shuffle moves only (did, band-hash); bucket representatives
    come from a map-side-combinable groupBy(bh).min(did); the k-lane
    signatures join in exactly TWICE (once per edge endpoint), i.e. n sig
    rows per join instead of n x bands copies through a bucket window.
    Measured at sf0.1 local[32] the window-carry variant and this one are
    wall-time equal (6.1s vs 6.2-7.7s, hash-identical output; an earlier
    "re-join 3x slower" measurement predates the light-candidates
    refactor) — at web scale this variant shuffles ~bands/2 x fewer bytes.

    Transitive chains collapse to the chain's bucket-level minimum; like all
    LSH dedup this is approximate — recall rises with ``bands``.
    """
    sig = _signatures(df, id_col, text_col, k, n).cache()
    banded = _band_keys(sig, k, bands)
    reps = banded.groupBy("bh").agg(F.min("did").alias("rep"))
    edges = (
        banded.join(reps, "bh")
        .where(F.col("did") > F.col("rep"))
        .select("did", "rep")
        .dropDuplicates(["did", "rep"])
    )
    rep_sig = sig.select(F.col("did").alias("rep"), F.col("sig").alias("rep_sig"))
    verified = (
        edges.join(sig, "did")
        .join(rep_sig, "rep")
        .select("did", "rep", _est_jaccard_col("sig", "rep_sig").alias("est_jaccard"))
        .where(F.col("est_jaccard") >= threshold)
    )
    w2 = Window.partitionBy("did").orderBy(F.col("rep").asc())
    return (
        verified.withColumn("__rn", F.row_number().over(w2))
        .where(F.col("__rn") == 1)
        .select(
            F.col("did").alias("doc_id"),
            F.col("rep").alias("keep_id"),
            "est_jaccard",
        )
    )


def connected_components(
    edges: DataFrame,
    src: str = "id1",
    dst: str = "id2",
    *,
    max_iter: int = 25,
) -> DataFrame:
    """Connected components of an undirected pair graph — the transitive
    closure production dedup needs on top of pairwise output: A~B and B~C
    must collapse to ONE keeper even when A~C was never emitted.

    Algorithm: iterative minimum-label propagation with POINTER DOUBLING.
    Each round every node takes the min of (its label, neighbors' labels)
    — one shuffle over the edge list — then labels follow their own
    parent's label (label <- label[label], one self-join), which halves
    the remaining path length. Doubling gives O(log(diameter)) rounds on
    chains, where plain propagation needs O(diameter). Each round's
    labels are localCheckpoint()ed: persist alone leaves the logical plan
    growing two joins per round, and iterative plans blow up the
    analyzer/optimizer (OOM building plan strings) long before the data
    is large — checkpointing truncates lineage so every round plans
    against a flat scan. Convergence is a change count; the loop hard-
    stops at ``max_iter`` (2^25-long chains exceed any real dup cluster).

    Returns (node, component) for every node appearing in an edge, with
    component = the minimum node id reachable from it.
    """
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    # materialize the symmetrized edge list ONCE: it is consumed by the
    # label-init distinct AND by every round's neighbor join, and it is
    # output-sized (dup pairs), not corpus-sized — uncached, each round
    # re-ran the whole upstream pair pipeline (measured: canonical_docs
    # spent ~2/3 of its 20s re-deriving the minhash pair graph per round)
    sym = e.unionByName(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).localCheckpoint()
    labels = (
        sym.select(F.col("u").alias("node"))
        .distinct()
        .withColumn("comp", F.col("node"))
        .localCheckpoint()
    )
    ckpt = labels  # handle to the round's checkpointed DF (for unpersist)
    for _ in range(max_iter):
        # neighbor minimum: every edge carries its endpoint's current label
        neigh = (
            sym.join(labels, sym.u == labels.node)
            .select(F.col("v").alias("node"), F.col("comp"))
            .groupBy("node")
            .agg(F.min("comp").alias("ncomp"))
        )
        # carry the pre-step label through the round so convergence is a
        # flat filter over the checkpointed result — the old formulation
        # paid an extra labels-join per round just to count changes
        stepped = (
            labels.join(neigh, "node", "left")
            .select(
                "node",
                F.col("comp").alias("old"),
                F.least(F.col("comp"), F.coalesce("ncomp", F.col("comp"))).alias(
                    "comp"
                ),
            )
        )
        # pointer doubling: comp <- comp's own comp
        parent = stepped.select(
            F.col("node").alias("comp"), F.col("comp").alias("gcomp")
        )
        doubled = (
            stepped.join(parent, "comp", "left")
            .select(
                "node",
                "old",
                F.least(F.col("comp"), F.coalesce("gcomp", F.col("comp"))).alias(
                    "comp"
                ),
            )
            .localCheckpoint()
        )
        changed = doubled.where(F.col("comp") != F.col("old")).count()
        # release the superseded round's checkpoint blocks (doubled is
        # already materialized, so nothing recomputes through the old one)
        ckpt.unpersist()
        ckpt = doubled
        labels = doubled.select("node", "comp")
        if changed == 0:
            break
    sym.unpersist()
    return labels.select("node", F.col("comp").alias("component"))


def hash_hamming_pairs(
    df: DataFrame,
    id_col: str,
    hash_col: str,
    *,
    max_hamming: int = 3,
    n_blocks: int | None = None,
) -> DataFrame:
    """Pairs of rows whose int64 ``hash_col`` values lie within a hamming
    radius — the generic multi-block pigeonhole join (Manku, Jain & Das
    Sarma, WWW'07 §3) behind ``simhash_pairs``, exposed directly for
    PRECOMPUTED 64-bit perceptual hashes: the image table's ``phash``
    column is exactly this shape (near-identical images at 10^12 rows,
    deduped without ever touching ``bytes``).

    The hash splits into ``m = n_blocks`` blocks; two hashes within
    hamming ``r`` can disagree on at most ``r`` blocks, so they MUST
    agree exactly on at least one specific (m-r)-subset. Every row is
    keyed by each of the C(m, m-r) subset-value combinations (xxhash64 of
    combo index + the subset's block values); candidates come from one
    equi-join on that key; exact ``bit_count(xor)`` verifies. Recall
    within the radius is EXACT for any m > r.

    m trades row replication (C(m, m-r) keys per row) against candidate
    noise (random pairs collide with prob ~ C(m, m-r) * 2^-(64*(m-r)/m)):

        r=8, m=9  ->   9 keys x  7.1-bit  (P_rand ~ 6.7e-2: QUADRATIC
                       candidate volume on a web corpus — the r <= 3
                       design silently degrades at larger radii)
        r=8, m=10 ->  45 keys x 12.8-bit  (P_rand ~ 6.3e-3)
        r=8, m=11 -> 165 keys x 17.5-bit  (P_rand ~ 9.2e-4)

    Default: m = r+1 for r <= 3 (the classic single-block key is optimal
    there: widest blocks, fewest keys), else m = r+2. NULL hashes are
    never bucketed. Returns (id1, id2, hamming), id1 < id2."""
    from itertools import combinations
    from math import comb

    if not 0 <= max_hamming <= 16:
        raise ValueError("max_hamming must be in [0, 16]")
    if n_blocks is None:
        n_blocks = max_hamming + 1 if max_hamming <= 3 else max_hamming + 2
    if not max_hamming < n_blocks <= 64:
        raise ValueError("need max_hamming < n_blocks <= 64")
    subset = n_blocks - max_hamming
    if comb(n_blocks, subset) > 1024:
        raise ValueError(
            f"C({n_blocks}, {subset}) keys per row — lower n_blocks"
        )
    base, extra = divmod(64, n_blocks)
    widths = [base + (1 if i < extra else 0) for i in range(n_blocks)]
    offsets = [sum(widths[:i]) for i in range(n_blocks)]

    def _block(i: int):
        # full-width block (max_hamming=0, n_blocks=1): the value IS the
        # hash — a 64-bit mask literal would overflow LongType
        if widths[i] == 64:
            return F.col("sh")
        return (
            F.shiftrightunsigned(F.col("sh"), offsets[i])
            .bitwiseAND(F.lit((1 << widths[i]) - 1))
        )

    sh = df.select(
        F.col(id_col).alias("did"), F.col(hash_col).cast("long").alias("sh")
    ).where(F.col("sh").isNotNull())
    combos = list(combinations(range(n_blocks), subset))
    keys = [
        F.xxhash64(F.lit(ci), *[_block(i) for i in combo])
        for ci, combo in enumerate(combos)
    ]

    def _combo_mask(combo: tuple[int, ...]) -> int:
        m = 0
        for i in combo:
            m |= ((1 << widths[i]) - 1) << offsets[i]
        return m - (1 << 64) if m >= (1 << 63) else m  # signed LongType

    # SINGLE-EXCHANGE SELF-JOIN: both join sides are the SAME repartitioned
    # DataFrame (identical projection, renamed only through the a/b
    # aliases), not two differently-projected branches. Two payoffs, both
    # measured (single-session A/B, sf0.1, identical 88051-pair output):
    # (a) the differently-projected branches planned a BroadcastExchange
    #     whose driver-blocking build serialized a full hash+explode pass
    #     BEHIND the probe side's identical pass — as shuffle map stages
    #     the two sides run concurrently, and with the default
    #     spark.sql.exchange.reuse the canonically-equal exchanges
    #     additionally dedupe to ONE hash+explode pass;
    # (b) shuffle-by-key is the only shape that survives when the table is
    #     too big to broadcast — at 10^12 rows the hash pass (a Python
    #     stage for simhash) is the dominant term and must not run twice.
    blocks = sh.select(
        "did", "sh", F.posexplode(F.array(*keys)).alias("ci", "bh")
    ).repartition(F.col("bh"))
    # FIRST-MATCH emission: a near-identical pair agrees on almost every
    # block, so it collides on up to C(m, m-r) subset keys — every copy
    # used to flow through the verify + pair-dedup exchange (~45x row
    # amplification at r=8/m=10 on a template corpus). The smallest
    # matching combo is a pure function of xor(sh1, sh2): keep a joined
    # row only when ITS combo index is that first match — exactly one
    # row survives per pair (block equality => key equality, so the
    # first-match row is always present), making the trailing
    # dropDuplicates a no-op safety net instead of a 45x shuffle.
    x = F.col("a.sh").bitwiseXOR(F.col("b.sh"))
    first = F.when(x.bitwiseAND(F.lit(_combo_mask(combos[0]))) == 0, 0)
    for ci in range(1, len(combos)):
        first = first.when(
            x.bitwiseAND(F.lit(_combo_mask(combos[ci]))) == 0, ci
        )
    first = first.otherwise(F.lit(-1))
    return (
        blocks.alias("a")
        .join(blocks.alias("b"), F.col("a.bh") == F.col("b.bh"))
        # predicate order matters: the cheap bit_count radius test drops
        # key-collision noise first; the mask chain then runs only on
        # the radius-passing (duplicated) rows
        .where(
            (F.col("a.did") < F.col("b.did"))
            & (F.bit_count(x) <= max_hamming)
            & (F.col("a.ci") == first)
        )
        .select(
            F.col("a.did").alias("id1"),
            F.col("b.did").alias("id2"),
            F.bit_count(F.col("a.sh").bitwiseXOR(F.col("b.sh"))).alias(
                "hamming"
            ),
        )
        .dropDuplicates(["id1", "id2"])
    )


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    max_hamming: int = 3,
    n_blocks: int | None = None,
) -> DataFrame:
    """SimHash near-duplicate pairs within a hamming radius: compute the
    64-bit simhash per document (batch-vectorized FNV-1a token votes),
    then the generic multi-block pigeonhole join — see
    ``hash_hamming_pairs`` for the key design and its m/noise tradeoff.
    Contentless docs hash to NULL (see simhash64_udf) and are never
    bucketed. Returns (id1, id2, hamming)."""
    sh = simhash64_udf(
        ensure_parallelism(df.select(F.col(id_col).alias("did"), text_col)),
        text_col,
        "sh",
    ).select("did", "sh")
    return hash_hamming_pairs(
        sh, "did", "sh", max_hamming=max_hamming, n_blocks=n_blocks
    )


def _packed_shingle_arrays(
    df: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    """(did, psh): each document's DISTINCT character n-grams packed into
    sorted int64s — n codepoints x 21 bits, a bijection with the
    character-shingle set, so set sizes and intersections are exactly
    those of ``char_shingles``. Only n <= 3 fits 63 bits: at n = 4 the top
    shift reaches 63 and packing wraps, colliding distinct shingles, so
    larger n raises. Codepoints (not utf-8 bytes) keep the bijection on
    non-ASCII text; lowercasing happens JVM-side (F.lower) BEFORE the UDF
    so locale-sensitive mappings (Greek final sigma etc.) match the
    string-shingle path exactly; NULL text packs to the empty set, exactly
    like char_shingles on NULL."""
    from pyspark.sql.types import ArrayType as _Arr, LongType as _Long
    from pyspark.sql.types import StructField as _SF, StructType as _ST

    if not 1 <= n <= 3:
        raise ValueError("packed codepoint shingles support 1 <= n <= 3")
    schema = _ST([df.schema[id_col], _SF("psh", _Arr(_Long()))])

    def run(batches):
        shifts = (np.arange(n - 1, -1, -1, dtype=np.int64) * 21)
        for pdf in batches:
            if pdf.empty:
                continue
            out = []
            for t in pdf["__lowered"]:
                if t is None or (isinstance(t, float) and pd.isna(t)):
                    out.append([])
                    continue
                cp = np.frombuffer(
                    t.encode("utf-32-le"), dtype=np.uint32
                ).astype(np.int64)
                if len(cp) < n:
                    out.append([])
                    continue
                w = np.lib.stride_tricks.sliding_window_view(cp, n)
                packed = (w << shifts).sum(axis=1)
                out.append(np.unique(packed).tolist())
            yield pd.DataFrame({id_col: pdf[id_col].to_numpy(), "psh": out})

    return (
        ensure_parallelism(
            df.select(id_col, F.lower(F.col(text_col)).alias("__lowered"))
        )
        .mapInPandas(run, schema=schema)
        .select(F.col(id_col).alias("did"), "psh")
    )


def _verify_pairs_exact_jaccard(
    df: DataFrame,
    cand: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int,
    threshold: float,
) -> DataFrame:
    """Re-score candidate (id1, id2) pairs with EXACT character-n-gram
    Jaccard and keep pairs >= threshold.

    The candidates-then-verify shape is the production near-dup contract:
    the approximate stage (MinHash bands / SimHash blocks) only prunes the
    pair space; every emitted pair carries the exact similarity, so
    precision is 1.0 by construction and recall is the only approximation.
    Shingle sets are joined in for candidates only — O(|candidates|)
    intersections, never O(n^2) — as packed sorted int64 arrays
    (``_packed_shingle_arrays``: bijective with the string shingles, ~4x
    lighter through the two joins; n <= 3).
    """
    sh = _packed_shingle_arrays(df, id_col, text_col, n)
    p1 = sh.select(F.col("did").alias("id1"), F.col("psh").alias("psh1"))
    p2 = sh.select(F.col("did").alias("id2"), F.col("psh").alias("psh2"))
    return _jaccard_verified(
        cand.join(p1, "id1").join(p2, "id2"), threshold, ["id1", "id2"]
    )


def minhash_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 96,
    bands: int = 16,
    n: int = 3,
    threshold: float = 0.8,
    est_margin: float = 0.15,
) -> DataFrame:
    """MinHash-LSH candidates verified by EXACT n-gram Jaccard.

    Unlike ``minhash_lsh_pairs`` (which scores by estimated signature
    agreement), every output pair carries the exact Jaccard — so on a
    corpus where banding recall is 1.0 the result set equals the exact
    inverted-index join's, at candidate-pair cost. Miss probability for a
    pair at Jaccard j is (1 - j^(k/bands))^bands — at the defaults (96/16,
    6 rows per band) a j=0.9 pair is missed with p ~ 5e-6 and a j=0.85
    pair with p ~ 5e-4, while sub-threshold noise (the j~0.5 template
    cloud that dominates web corpora) collides in only ~20% of cases —
    rows-per-band is the noise-rejection knob, bands the recall knob.

    ``est_margin``: banded buckets also admit a long tail of sub-threshold
    noise pairs (4 shared lanes is a weak filter); before the exact verify
    touches shingle arrays, candidates are pre-filtered by estimated
    Jaccard >= threshold - est_margin — a cheap fixed-k signature compare
    that cuts the noise tail by orders of magnitude. The margin keeps the
    estimator's sampling error (std ~ sqrt(j(1-j)/k), ~0.045 at j=0.85,
    k=64) several sigmas away from dropping a true pair: at the defaults a
    j=0.85 pair fails the 0.65 pre-filter with p ~ 3e-6.
    Returns (id1, id2, jaccard).
    """
    cand = minhash_lsh_pairs(
        df, id_col, text_col, k=k, bands=bands, n=n,
        threshold=max(threshold - est_margin, 0.0),
    ).select("id1", "id2")
    return _verify_pairs_exact_jaccard(
        df, cand, id_col, text_col, n=n, threshold=threshold
    )


def simhash_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    max_hamming: int = 8,
    n: int = 3,
    threshold: float = 0.8,
    n_blocks: int | None = None,
) -> DataFrame:
    """SimHash candidates (multi-block pigeonhole keys, exact within the
    hamming radius) verified by EXACT n-gram Jaccard. Recall misses only
    pairs whose simhash hamming exceeds ``max_hamming`` while their n-gram
    Jaccard still clears ``threshold`` — radius 8 covers Jaccard-0.8 pairs
    comfortably on word-shuffled near-dups. Returns (id1, id2, jaccard)."""
    cand = simhash_pairs(
        df, id_col, text_col, max_hamming=max_hamming, n_blocks=n_blocks
    ).select("id1", "id2")
    return _verify_pairs_exact_jaccard(
        df, cand, id_col, text_col, n=n, threshold=threshold
    )


def minhash_contamination(
    corpus: DataFrame,
    probe: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 96,
    bands: int = 16,
    n: int = 3,
    threshold: float = 0.8,
    est_margin: float = 0.15,
    eager: bool = True,
) -> DataFrame:
    """CROSS-corpus near-duplicate detection — the benchmark-contamination
    check: which ``probe`` documents (e.g. an eval set) appear
    near-verbatim in ``corpus`` (e.g. the training set)?

    ``eager=True`` (default, same contract as spans.span_dup_pairs)
    materializes the (output-sized) result via localCheckpoint and
    UNPERSISTS the signature/candidate caches before returning — the
    corpus-side MinHash signature table is k longs per document, held in
    MEMORY_AND_DISK for the caller's lifetime otherwise. Pass
    eager=False when composing into a larger lazy plan (curate_corpus
    does).

    Same candidates-then-exact-verify contract as
    ``minhash_near_dup_pairs``, but the banded join is BETWEEN the two
    tables (never within either), so cost is sum-over-buckets of
    |corpus bucket| x |probe bucket| — linear in the corpora for bounded
    buckets, and the probe side is typically tiny (an eval set), making
    the join a near-broadcast. Candidates travel as bare id pairs; exact
    packed-shingle Jaccard verifies each. Ids may overlap between the two
    tables (they are independent id spaces).

    Returns (corpus_id, probe_id, jaccard) with jaccard >= threshold.
    """
    # cache: each signature table feeds the banded join AND the est
    # pre-filter join — uncached, the per-byte MinHash UDF would run twice
    # over each corpus
    csig = _signatures(corpus, id_col, text_col, k, n).cache()
    psig = _signatures(probe, id_col, text_col, k, n).cache()
    cand = (
        _band_keys(csig, k, bands)
        .withColumnRenamed("did", "corpus_id")
        .join(_band_keys(psig, k, bands).withColumnRenamed("did", "probe_id"), "bh")
        .select("corpus_id", "probe_id")
        .dropDuplicates(["corpus_id", "probe_id"])
    )
    # est-Jaccard pre-filter (cheap fixed-k compare) before shingle arrays
    s1 = csig.select(F.col("did").alias("corpus_id"), F.col("sig").alias("sig1"))
    s2 = psig.select(F.col("did").alias("probe_id"), F.col("sig").alias("sig2"))
    cand = (
        cand.join(s1, "corpus_id")
        .join(s2, "probe_id")
        .where(
            _est_jaccard_col("sig1", "sig2")
            >= max(threshold - est_margin, 0.0)
        )
        .select("corpus_id", "probe_id")
    )
    cand = cand.cache()
    # shingle-pack only the documents that survived as candidates: the
    # packing UDF cannot be pruned by Catalyst through mapInPandas, so
    # without the left-semi the whole training corpus would be packed to
    # verify a handful of pairs
    csh = _packed_shingle_arrays(
        _candidate_docs(corpus, id_col, cand, "corpus_id"), id_col, text_col, n
    ).select(F.col("did").alias("corpus_id"), F.col("psh").alias("psh1"))
    psh = _packed_shingle_arrays(
        _candidate_docs(probe, id_col, cand, "probe_id"), id_col, text_col, n
    ).select(F.col("did").alias("probe_id"), F.col("psh").alias("psh2"))
    out = _jaccard_verified(
        cand.join(csh, "corpus_id").join(psh, "probe_id"),
        threshold,
        ["corpus_id", "probe_id"],
    )
    if eager:
        out = out.localCheckpoint(eager=True)
        csig.unpersist()
        psig.unpersist()
        cand.unpersist()
    return out


def embedding_dup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    threshold: float = 0.95,
    bits: int = 8,
    tables: int = 8,
    dim: int | None = None,
    seed: int = 42,
) -> DataFrame:
    """Embedding near-duplicate pairs: cosine >= threshold. APPROXIMATE in
    recall (precision is exact: every emitted pair carries verified
    cosine >= threshold).

    Bucketed, never a cartesian product: candidates are pairs sharing a
    (table, hyperplane-signature) bucket in any of ``tables`` LSH tables
    (signatures from one numpy GEMM per Arrow batch — see
    operators.similarity.with_lsh_signatures), then exact cosine verifies
    each candidate and the threshold filters. Cost ~ sum of bucket sizes
    squared, not |df|^2.

    Recall, quantitatively: a pair at cosine c collides per table with
    p = (1 - arccos(c)/pi)^bits and is missed with (1-p)^tables. At
    bits=8 for a THRESHOLD-BOUNDARY pair (c = 0.95, p ~ 0.43):

        tables=4  -> ~11%  missed
        tables=8  -> ~1.2% missed   (the default)
        tables=16 -> ~0.01% missed

    Misses concentrate at the boundary — at c = 0.99 (p ~ 0.77) even
    tables=4 misses only ~0.3%. Exact duplicates and scaled copies share
    signatures structurally (sign of dot is scale-invariant) and are
    ALWAYS recalled. Raise ``tables`` (cost is linear in it) when
    boundary recall matters more than throughput.
    Returns (id1, id2, cosine).
    """
    from modlyn_spark.operators.similarity import _cosine_udf, _vec_dim, with_lsh_signatures

    if dim is None:
        dim = _vec_dim(df, vec_col)
    sigs = with_lsh_signatures(
        df, id_col, vec_col, dim=dim, bits=bits, tables=tables, seed=seed,
        out_vec="__v",
    )
    # candidates travel light (same rule as minhash_lsh_pairs): the bucket
    # self-join and pair dedup move only ids + bucket keys; the (possibly
    # high-dimensional) vectors join back once per DISTINCT pair for the
    # exact cosine verification.
    # NOTE (r6, measured): the hash_hamming_pairs single-exchange
    # restructure was tried here and REVERTED — LSH bucket keys on a
    # clustered corpus are SKEWED (template clusters share buckets), and
    # repartitioning by (tbl, sig) concentrates each hot bucket's
    # quadratic pair fan-out on one reducer (sf1 A/B: 6.8-10.1s vs
    # 5.1-5.5s for this broadcast form, identical 15,092,224 candidates).
    # The broadcast join spreads bucket^2 work across the probe side's
    # round-robin partitions regardless of key skew.
    a = sigs.select(F.col(id_col).alias("id1"), "tbl", "sig")
    b = sigs.select(F.col(id_col).alias("id2"), "tbl", "sig")
    cand = (
        a.join(b, ["tbl", "sig"])
        .where(F.col("id1") < F.col("id2"))
        .select("id1", "id2")
        .dropDuplicates(["id1", "id2"])
    )
    vecs = df.select(
        F.col(id_col),
        F.transform(vec_col, lambda x: x.cast("double")).alias("__v"),
    )
    v1 = vecs.select(F.col(id_col).alias("id1"), F.col("__v").alias("v1"))
    v2 = vecs.select(F.col(id_col).alias("id2"), F.col("__v").alias("v2"))
    return (
        cand.join(v1, "id1")
        .join(v2, "id2")
        .select("id1", "id2", _cosine_udf(F.col("v1"), F.col("v2")).alias("cosine"))
        .where(F.col("cosine") >= threshold)
    )


def corpus_line_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    delim: str = "\n",
    chunk_words: int | None = None,
    min_count: int = 2,
    broadcast_hot: bool | None = None,
    out_col: str | None = None,
) -> DataFrame:
    """C4/RefinedWeb-style corpus-level boilerplate removal.

    Splits every document into units — lines on ``delim`` by default, or
    consecutive non-overlapping ``chunk_words``-word chunks when the corpus
    has no line structure — removes EVERY occurrence of any unit whose
    exact value appears >= ``min_count`` times corpus-wide (nav bars,
    cookie banners, boilerplate), and reassembles each document preserving
    unit order. Documents reduced to nothing keep an empty string.

    NOTE on chunk mode's text canonicalization: units are built from the
    lowercased, whitespace-split word stream, so the REBUILT text is
    lowercase with single spaces even when nothing was removed (that
    canonical form is also what the global counts match on). Line mode
    preserves the original bytes of surviving lines — with one exception:
    blank/whitespace-only lines are ALWAYS removed (they are filtered
    before the explode, so they count in neither ``n_units_kept`` nor
    ``n_units_removed``). Use line mode when byte fidelity of the
    surviving non-blank lines matters.

    Returns the input columns with ``out_col`` (default: ``text_col``
    replaced) plus ``n_units_kept`` / ``n_units_removed``.

    Scale shape: posexplode -> ONE map-side-combinable groupBy on the unit
    value for global counts (shuffle volume = distinct units, not
    occurrences) -> anti-join against the hot set -> one groupBy(id) to
    reassemble. No cross joins, no per-row Python.

    ``broadcast_hot=None`` (default) decides FROM SIZE: the hot set is
    bounded by the corpus text volume, so when the input's Catalyst scan
    estimate is small (<= 64 MB compressed) the anti-join side is forced
    broadcast; above that, no hint — AQE picks from the hot set's ACTUAL
    runtime size. The duplicated-unit set of a web corpus at
    min_count=2-3 is billions of distinct strings — an unconditional
    broadcast would OOM every executor, which is why "relatively tiny" is
    not a broadcast argument. True/False force the respective plan.
    """
    out_col = out_col or text_col
    if chunk_words is not None:
        k = int(chunk_words)
        sep = " "
        # chunk assembly is per-unit string building — the allocation-bound
        # JVM transform/slice/array_join shape (measured 13.5s of the 21s
        # sf1 query); build it in an Arrow-batched map instead
        from pyspark.sql.types import (
            ArrayType as _Arr,
            StringType as _Str,
            StructField as _SF,
            StructType as _ST,
        )

        schema = _ST([df.schema[id_col], _SF("__units", _Arr(_Str()))])

        def _chunks(batches):
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
                    w = [x for x in ws.split(str(t).lower()) if x]
                    out.append(
                        [" ".join(w[i : i + k]) for i in range(0, len(w), k)]
                    )
                yield pd.DataFrame(
                    {id_col: pdf[id_col].to_numpy(), "__units": out}
                )

        unit_rows = (
            ensure_parallelism(
                df.select(id_col, text_col), min_bytes=64 << 10
            )
            .mapInPandas(_chunks, schema=schema)
            .select(
                F.col(id_col),
                F.posexplode_outer("__units").alias("__pos", "__unit"),
            )
        )
    else:
        import re as _re

        units = F.filter(
            F.split(F.col(text_col), _re.escape(delim), -1),
            lambda t: F.trim(t) != "",
        )
        sep = delim
        unit_rows = df.select(
            F.col(id_col), F.posexplode_outer(units).alias("__pos", "__unit")
        )

    ex = unit_rows
    hot = (
        ex.where(F.col("__unit").isNotNull())
        .groupBy("__unit")
        .agg(F.count(F.lit(1)).alias("__n"))
        .where(F.col("__n") >= min_count)
        .select("__unit")
    )
    if broadcast_hot is None:
        # same stats probe as session.ensure_parallelism: a driver-side
        # lookup, no plan execution
        try:
            est = int(
                df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
            )
            broadcast_hot = est <= _BROADCAST_HOT_MAX_BYTES
        except Exception:
            broadcast_hot = False
    if broadcast_hot:
        hot = F.broadcast(hot)
    kept = ex.where(F.col("__unit").isNotNull()).join(
        hot, "__unit", "left_anti"
    )
    totals = ex.groupBy(id_col).agg(
        F.sum(
            F.when(F.col("__unit").isNotNull(), 1).otherwise(0)
        ).alias("__total")
    )
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("__pos", "__unit"))
                ),
                lambda s: s["__unit"],
            ),
            sep,
        ).alias("__clean"),
        F.count(F.lit(1)).alias("__kept"),
    )
    return (
        df.drop(out_col)
        .join(totals, id_col, "left")
        .join(rebuilt, id_col, "left")
        .withColumn(out_col, F.coalesce(F.col("__clean"), F.lit("")))
        .withColumn(
            "n_units_kept", F.coalesce(F.col("__kept"), F.lit(0)).cast("long")
        )
        .withColumn(
            "n_units_removed",
            (F.coalesce(F.col("__total"), F.lit(0)) - F.coalesce(F.col("__kept"), F.lit(0))).cast("long"),
        )
        .drop("__clean", "__kept", "__total")
    )
