"""Text analysis + dedup + similarity over the real documents/embeddings
tables, cross-checked against DuckDB (independent implementation)."""

from __future__ import annotations

import duckdb
import numpy as np
import pytest
from pyspark.sql import functions as F

from modlyn_spark.functions.text import (
    doc_fingerprint,
    lang_id,
    quality_features,
    quality_score,
    token_count,
)
from modlyn_spark.operators.dedup import (
    dedup_exact,
    duplicate_groups,
    embedding_dup_pairs,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from modlyn_spark.operators.similarity import cosine_topk, lsh_cosine_topk

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").cache()


def test_token_count_vs_duckdb(docs):
    got = (
        docs.select("doc_id", token_count(F.col("text")).alias("n_tokens"))
        .toPandas()
        .sort_values("doc_id")
    )
    exp = duckdb.sql(
        f"""SELECT doc_id, len(regexp_extract_all(text,
            '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS n_tokens
            FROM '{SF}/documents.parquet' ORDER BY doc_id"""
    ).df()
    assert (got["n_tokens"].values == exp["n_tokens"].values).all()


def test_fingerprint_vs_duckdb(docs):
    got = (
        docs.select("doc_id", doc_fingerprint(F.col("text")).alias("fp"))
        .toPandas()
        .sort_values("doc_id")
    )
    exp = duckdb.sql(
        f"""SELECT doc_id, md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
            FROM '{SF}/documents.parquet' ORDER BY doc_id"""
    ).df()
    assert (got["fp"].values == exp["fp"].values).all()


def test_quality_features_ranges(docs):
    q = quality_features(F.col("text"))
    pdf = docs.select(
        *[v.alias(k) for k, v in q.items()], quality_score(F.col("text")).alias("q")
    ).toPandas()
    for c in ["punct_ratio", "digit_ratio", "upper_ratio", "stopword_ratio"]:
        assert pdf[c].between(0, 1).all(), c
    assert pdf["q"].between(0, 1).all()
    assert (pdf["n_chars"] > 0).all()


def test_lang_id_heuristic(spark):
    rows = [
        (1, "the cat and the dog went to the house and it was good"),
        (2, "der hund und die katze sind nicht mit dem mann"),
        (3, "le chat et le chien sont pour la maison et une porte"),
        (4, "el perro y el gato en la casa por una puerta"),
        (5, "zzz qqq xxx"),
    ]
    df = spark.createDataFrame(rows, ["id", "text"])
    got = dict(
        df.select("id", lang_id(F.col("text")).alias("lang")).toPandas().values
    )
    assert got == {1: "en", 2: "de", 3: "fr", 4: "es", 5: "und"}


def test_dedup_exact_and_groups(spark, docs):
    # plant exact duplicates (differing only by case/whitespace)
    extra = spark.createDataFrame(
        [(100001, "  HELLO   world  "), (100002, "hello world"), (100003, "unique snowflake")],
        ["doc_id", "text"],
    )
    base = docs.select("doc_id", "text").unionByName(extra)
    kept = dedup_exact(base, "doc_id", "text")
    groups = duplicate_groups(base, "doc_id", "text").toPandas()
    assert kept.count() == base.count() - int((groups["n_dups"] - 1).sum())
    planted = groups[groups["keep_id"] == 100001]
    assert len(planted) == 1 and planted["n_dups"].iloc[0] == 2
    # representative is the min id
    kept_ids = set(kept.toPandas()["doc_id"])
    assert 100001 in kept_ids and 100002 not in kept_ids


def test_ngram_jaccard_vs_duckdb(spark):
    rows = [
        (1, "abcdefghij"),
        (2, "abcdefghiX"),  # near-dup of 1
        (3, "totally different content"),
        (4, "abcdefghij"),  # exact dup of 1
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = (
        ngram_jaccard_pairs(df, "doc_id", "text", n=3, threshold=0.3)
        .toPandas()
        .sort_values(["id1", "id2"])
        .reset_index(drop=True)
    )
    exp = duckdb.sql(
        """
        WITH docs(doc_id, text) AS (VALUES (1,'abcdefghij'),(2,'abcdefghiX'),
                                          (3,'totally different content'),(4,'abcdefghij')),
        sh AS (
          SELECT doc_id, list_distinct(list_transform(generate_series(1, len(lower(text))-2),
                 i -> substr(lower(text), CAST(i AS INT), 3))) AS s
          FROM docs),
        ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
        c AS (SELECT a.doc_id id1, b.doc_id id2, count(*) c
              FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1,2)
        SELECT id1, id2, c * 1.0 / (len(s1.s) + len(s2.s) - c) AS jaccard
        FROM c JOIN sh s1 ON s1.doc_id = id1 JOIN sh s2 ON s2.doc_id = id2
        WHERE c * 1.0 / (len(s1.s) + len(s2.s) - c) >= 0.3
        ORDER BY id1, id2
        """
    ).df()
    assert len(got) == len(exp)
    assert (got["id1"].values == exp["id1"].values).all()
    assert np.allclose(got["jaccard"].values, exp["jaccard"].values)
    # exact dup pair (1,4) has jaccard 1.0
    assert got.set_index(["id1", "id2"]).loc[(1, 4), "jaccard"] == 1.0


def test_minhash_lsh_finds_planted_near_dups(spark, docs):
    # plant near-duplicates of real documents
    src = docs.limit(5).toPandas()
    planted = [
        (int(r.doc_id) + 1_000_000, r.text + " extra tail words")
        for r in src.itertuples()
    ]
    base = docs.select("doc_id", "text").unionByName(
        spark.createDataFrame(planted, ["doc_id", "text"])
    )
    pairs = minhash_lsh_pairs(
        base, "doc_id", "text", k=32, bands=8, threshold=0.5
    ).toPandas()
    found = set(zip(pairs["id1"], pairs["id2"]))
    for r in src.itertuples():
        assert (int(r.doc_id), int(r.doc_id) + 1_000_000) in found
    assert pairs["est_jaccard"].between(0, 1).all()


def test_simhash_finds_planted_near_dups(spark, docs):
    src = docs.limit(3).toPandas()
    planted = [
        (int(r.doc_id) + 1_000_000, r.text + " tail") for r in src.itertuples()
    ]
    base = docs.select("doc_id", "text").unionByName(
        spark.createDataFrame(planted, ["doc_id", "text"])
    )
    pairs = simhash_pairs(base, "doc_id", "text", max_hamming=8).toPandas()
    found = set(zip(pairs["id1"], pairs["id2"]))
    hit = sum(
        (int(r.doc_id), int(r.doc_id) + 1_000_000) in found for r in src.itertuples()
    )
    assert hit >= 2  # simhash is approximate; most planted pairs must surface
    assert (pairs["hamming"] <= 8).all()


def test_embedding_dup_pairs_vs_duckdb(spark, emb):
    """LSH-bucketed near-dup pairs == DuckDB's exact all-pairs join on a
    corpus with planted half-scale copies (0.5x is exact in IEEE floats, so
    the copy's direction — and therefore its hyperplane signature — is
    bit-identical and recall is structural, not statistical)."""
    base = emb.limit(60).select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    copies = base.select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform("v", lambda x: x * 0.5).alias("v"),
    )
    got = (
        embedding_dup_pairs(
            base.unionByName(copies), "vec_id", "v", threshold=0.99,
            bits=8, tables=4,
        )
        .toPandas()
        .sort_values(["id1", "id2"])
        .reset_index(drop=True)
    )
    exp = duckdb.sql(
        f"""
        WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v
                    FROM '{SF}/embeddings.parquet' LIMIT 60),
        e AS (SELECT * FROM e0 UNION ALL
              SELECT vec_id + 1000000, list_transform(v, x -> x * 0.5) FROM e0)
        SELECT a.vec_id id1, b.vec_id id2,
               list_cosine_similarity(a.v, b.v) AS cosine
        FROM e a JOIN e b ON a.vec_id < b.vec_id
        WHERE list_cosine_similarity(a.v, b.v) >= 0.99
        ORDER BY 1, 2
        """
    ).df()
    assert len(got) == len(exp) == 60
    assert got["id1"].tolist() == exp["id1"].tolist()
    assert got["id2"].tolist() == exp["id2"].tolist()
    assert np.allclose(got["cosine"].values, exp["cosine"].values, atol=1e-5)
    # and the plan must be bucketed — no cartesian/broadcast-nested-loop join
    plan = embedding_dup_pairs(
        base.unionByName(copies), "vec_id", "v", threshold=0.99
    )._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_cosine_topk_vs_duckdb(emb):
    queries = emb.limit(5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    corpus = emb.select(
        F.col("vec_id").alias("corpus_id"), F.col("embedding").alias("cvec")
    )
    got = (
        cosine_topk(queries, corpus, k=5)
        .toPandas()
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
    )
    exp = duckdb.sql(
        f"""
        WITH q AS (SELECT vec_id qid, embedding qv FROM '{SF}/embeddings.parquet' LIMIT 5),
             c AS (SELECT vec_id cid, embedding cv FROM '{SF}/embeddings.parquet'),
        s AS (SELECT qid, cid, list_cosine_similarity(qv, cv) AS cosine,
                     row_number() OVER (PARTITION BY qid ORDER BY list_cosine_similarity(qv, cv) DESC, cid) AS rank
              FROM q, c)
        SELECT qid, cid, cosine, rank FROM s WHERE rank <= 5 ORDER BY qid, rank
        """
    ).df()
    assert (got["corpus_id"].values == exp["cid"].values).all()
    assert np.allclose(got["cosine"].values, exp["cosine"].values, atol=1e-5)


def test_ivf_topk_recall(emb):
    from modlyn_spark.operators.similarity import ivf_cosine_topk

    queries = emb.limit(10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    corpus = emb.select(
        F.col("vec_id").alias("corpus_id"), F.col("embedding").alias("cvec")
    )
    exact = cosine_topk(queries, corpus, k=5).toPandas()
    approx = ivf_cosine_topk(
        queries, corpus, k=5, n_centroids=8, nprobe=4
    ).toPandas()
    e = set(zip(exact["query_id"], exact["corpus_id"]))
    a = set(zip(approx["query_id"], approx["corpus_id"]))
    recall = len(e & a) / len(e)
    assert recall >= 0.5, recall
    # self-match: a query's own cell is always its top probe -> rank 1
    self_rows = approx[approx["query_id"] == approx["corpus_id"]]
    assert len(self_rows) == 10 and (self_rows["rank"] == 1).all()


def test_lsh_topk_recall(emb):
    queries = emb.limit(10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    corpus = emb.select(
        F.col("vec_id").alias("corpus_id"), F.col("embedding").alias("cvec")
    )
    exact = cosine_topk(queries, corpus, k=5).toPandas()
    approx = lsh_cosine_topk(
        queries, corpus, k=5, bits=4, tables=12
    ).toPandas()
    # recall@5 of the approximate index vs exact
    e = set(zip(exact["query_id"], exact["corpus_id"]))
    a = set(zip(approx["query_id"], approx["corpus_id"]))
    recall = len(e & a) / len(e)
    assert recall >= 0.5, recall
    # self-match must always be found (cosine 1.0 in its own bucket)
    self_rows = approx[approx["query_id"] == approx["corpus_id"]]
    assert len(self_rows) == 10
    assert (self_rows["rank"] == 1).all()


def test_ngram_hot_shingle_salting_is_exact(spark):
    """Two-sided chunk salting for stop-shingles returns the IDENTICAL
    pair set as the unsalted join — forced here with a chunk size far
    below every shingle's document frequency."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plain = (
        ngram_jaccard_pairs(
            docs, "doc_id", "text", n=3, threshold=0.5, hot_shingle_chunk=None
        )
        .toPandas()
        .sort_values(["id1", "id2"])
        .reset_index(drop=True)
    )
    salted = (
        ngram_jaccard_pairs(
            docs, "doc_id", "text", n=3, threshold=0.5, hot_shingle_chunk=5
        )
        .toPandas()
        .sort_values(["id1", "id2"])
        .reset_index(drop=True)
    )
    assert len(plain) == len(salted) and len(plain) > 0
    assert plain["id1"].tolist() == salted["id1"].tolist()
    assert plain["id2"].tolist() == salted["id2"].tolist()
    assert np.allclose(plain["jaccard"].values, salted["jaccard"].values)


def test_simhash_radius_zero_and_sixteen(spark, docs):
    """Edge radii: max_hamming=0 (one 64-bit block — exact-simhash match;
    a naive 64-bit mask literal would overflow LongType) and the maximum
    radius 16 (17 narrow blocks) both plan and run."""
    base = docs.select("doc_id", "text").limit(30)
    dup = base.withColumn("doc_id", F.col("doc_id") + 1_000_000)
    both = base.unionByName(dup)
    z = simhash_pairs(both, "doc_id", "text", max_hamming=0).toPandas()
    # exact copies have identical simhash -> hamming 0 pairs found
    assert len(z) >= 30 and (z["hamming"] == 0).all()
    wide = simhash_pairs(base, "doc_id", "text", max_hamming=16).toPandas()
    assert (wide["hamming"] <= 16).all()
    with pytest.raises(ValueError, match="max_hamming"):
        simhash_pairs(base, "doc_id", "text", max_hamming=17)


def _uf_components(edges):
    """Union-find oracle (pure python)."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    return {n: find(n) for n in parent}


def test_connected_components_chain_star_random(spark):
    import random

    from modlyn_spark.operators.dedup import connected_components

    # long chain (pointer doubling must collapse it), a star, an isolated
    # pair, plus random graphs
    cases = [
        [(i, i + 1) for i in range(40)],                       # 41-chain
        [(100, x) for x in range(101, 110)] + [(200, 201)],    # star + pair
    ]
    rng = random.Random(7)
    for _ in range(3):
        n = rng.randint(5, 60)
        cases.append(
            [(rng.randint(0, n), rng.randint(0, n)) for _ in range(n)]
        )
    for edges in cases:
        edges = [(u, v) for u, v in edges if u != v]
        if not edges:
            continue
        df = spark.createDataFrame(edges, ["id1", "id2"])
        got = {
            r["node"]: r["component"]
            for r in connected_components(df).collect()
        }
        exp = _uf_components(edges)
        # min-reachable labels: normalize oracle to min-of-component
        comp_min = {}
        for node, root in exp.items():
            comp_min.setdefault(root, node)
            comp_min[root] = min(comp_min[root], node)
        exp_min = {n: comp_min[r] for n, r in exp.items()}
        assert got == exp_min, edges


def test_contentless_docs_never_pair(spark):
    """NULL text, empty text, sub-shingle text and token-less text must
    NEVER be emitted as near-duplicates of each other by ANY est-scored or
    verified path (the str(None)-fabricates-tokens / all-sentinel-signature
    / simhash-0 collapse traps). Real planted dups in the same corpus must
    still be found."""
    import pandas as pd

    from modlyn_spark.operators.dedup import (
        minhash_dedup_groups,
        minhash_lsh_pairs,
        minhash_near_dup_pairs,
        simhash_near_dup_pairs,
        simhash_pairs,
    )

    base = "the quick brown fox jumps over the lazy dog again and again"
    pdf = pd.DataFrame(
        {
            "doc_id": [0, 1, 2, 3, 4, 5, 6, 7],
            "text": [None, None, "", "ab", "!!! ???", base, base + " zz",
                     "completely different content about spark engines"],
        }
    )
    df = spark.createDataFrame(pdf)
    contentless = {0, 1, 2, 3, 4}

    for fn, kw in [
        (minhash_lsh_pairs, dict(threshold=0.5)),
        (minhash_near_dup_pairs, dict(threshold=0.5)),
        (simhash_pairs, dict(max_hamming=16)),
        (simhash_near_dup_pairs, dict(max_hamming=16, threshold=0.5)),
    ]:
        rows = fn(df, "doc_id", "text", **kw).collect()
        pairs = {(r["id1"], r["id2"]) for r in rows}
        bad = {p for p in pairs if p[0] in contentless or p[1] in contentless}
        assert not bad, f"{fn.__name__} paired contentless docs: {bad}"
        assert (5, 6) in pairs, f"{fn.__name__} lost the planted dup"

    groups = minhash_dedup_groups(df, "doc_id", "text", threshold=0.5).collect()
    assert all(
        r["doc_id"] not in contentless and r["keep_id"] not in contentless
        for r in groups
    )
    assert any(r["doc_id"] == 6 and r["keep_id"] == 5 for r in groups)


def test_simhash_udf_null_semantics(spark):
    """simhash64_udf: NULL for NULL/token-less text, unchanged values for
    real text (the vectorized batch path must not shift segment indexes
    when empty docs interleave with real ones)."""
    import pandas as pd

    from modlyn_spark.functions.text import simhash64_udf

    pdf = pd.DataFrame(
        {"doc_id": [0, 1, 2, 3], "text": ["hello world", None, "...", "hello world"]}
    )
    out = {
        r["doc_id"]: r["sh"]
        for r in simhash64_udf(spark.createDataFrame(pdf), "text", "sh").collect()
    }
    assert out[1] is None and out[2] is None
    assert out[0] is not None and out[0] == out[3]


def test_minhash_contamination_vs_duckdb_exact(spark):
    """Cross-corpus contamination: engine output == DuckDB's EXACT
    cross-corpus 3-gram Jaccard pair set at the threshold (hash-match
    doubles as a 100%-recall proof on this corpus), never pairs within a
    corpus, and survives overlapping id spaces."""
    import pandas as pd

    from modlyn_spark.operators.dedup import minhash_contamination

    docs = pd.read_parquet("/root/testdata/sf0.001/documents.parquet")
    corpus = docs.iloc[: len(docs) // 2][["doc_id", "text"]].reset_index(drop=True)
    # probe: some contaminated rows (verbatim + lightly mutated corpus
    # texts) + clean rows; ids deliberately REUSE corpus ids (0, 1, ...)
    probe_rows = []
    for i in range(8):
        t = corpus["text"].iloc[i]
        probe_rows.append({"doc_id": i, "text": t if i % 2 == 0 else t + " zz"})
    for i in range(8, 16):
        probe_rows.append({"doc_id": i, "text": f"clean probe number {i} about nothing at all {i}"})
    probe = pd.DataFrame(probe_rows)

    got = (
        minhash_contamination(
            spark.createDataFrame(corpus),
            spark.createDataFrame(probe),
            "doc_id",
            "text",
            threshold=0.8,
        )
        .select("corpus_id", "probe_id", F.round("jaccard", 4).alias("j"))
        .toPandas()
        .sort_values(["corpus_id", "probe_id"])
        .reset_index(drop=True)
    )

    con = duckdb.connect()
    con.register("corpus", corpus)
    con.register("probe", probe)
    exp = con.sql(
        """
        WITH cs AS (
          SELECT doc_id, list_distinct(list_transform(
                   generate_series(1, len(lower(text)) - 2),
                   i -> substr(lower(text), CAST(i AS INT), 3))) AS s
          FROM corpus),
        ps AS (
          SELECT doc_id, list_distinct(list_transform(
                   generate_series(1, len(lower(text)) - 2),
                   i -> substr(lower(text), CAST(i AS INT), 3))) AS s
          FROM probe),
        ce AS (SELECT doc_id, unnest(s) AS g FROM cs),
        pe AS (SELECT doc_id, unnest(s) AS g FROM ps),
        c AS (SELECT ce.doc_id AS corpus_id, pe.doc_id AS probe_id, count(*) AS c
              FROM ce JOIN pe ON ce.g = pe.g GROUP BY 1, 2)
        SELECT corpus_id, probe_id,
               round(c * 1.0 / (len(cs.s) + len(ps.s) - c), 4) AS j
        FROM c JOIN cs ON cs.doc_id = corpus_id JOIN ps ON ps.doc_id = probe_id
        WHERE c * 1.0 / (len(cs.s) + len(ps.s) - c) >= 0.8
        ORDER BY corpus_id, probe_id
        """
    ).df()
    assert len(got) == len(exp) >= 8  # all 8 planted contaminations found
    assert (got["corpus_id"].values == exp["corpus_id"].values).all()
    assert (got["probe_id"].values == exp["probe_id"].values).all()
    assert np.allclose(got["j"].values, exp["j"].values)


def test_packed_shingle_verify_rejects_n_above_3(spark):
    """Packing n codepoints at 21 bits each wraps int64 from n = 4 on, so
    distinct shingles would collide: both packed-verify operators raise
    instead of returning wrong Jaccard values."""
    from modlyn_spark.operators.dedup import (
        minhash_contamination,
        minhash_near_dup_pairs,
    )

    df = spark.createDataFrame([(0, "some text"), (1, "some text!")], ["doc_id", "text"])
    with pytest.raises(ValueError, match="n <= 3"):
        minhash_near_dup_pairs(df, "doc_id", "text", n=4)
    with pytest.raises(ValueError, match="n <= 3"):
        minhash_contamination(df, df, "doc_id", "text", n=4)
    spark.catalog.clearCache()


def test_contamination_self_probe_equals_near_dup_pairs(spark, docs):
    """The cross-join path and the self-join path band signatures with the
    same keys: probing a corpus against itself returns every
    minhash_near_dup_pairs pair in both orientations, plus (i, i) for each
    doc with at least n codepoints — nothing else. k=32/bands=4 at 0.5 is
    a low-recall banding, so drifting band keys change the pair sets."""
    from modlyn_spark.operators.dedup import (
        minhash_contamination,
        minhash_near_dup_pairs,
    )

    src = docs.select("doc_id", "text")
    planted = spark.createDataFrame(
        [(r.doc_id + 1_000_000, r.text[: len(r.text) * 3 // 4] + " tail")
         for r in src.limit(20).collect()]
        + [(2_000_000, None), (2_000_001, "ab"), (2_000_002, "abc")],
        "doc_id long, text string",
    )
    corpus = src.unionByName(planted)
    kw = dict(k=32, bands=4, n=3, threshold=0.5)
    pairs = minhash_near_dup_pairs(corpus, "doc_id", "text", **kw).collect()
    cross = minhash_contamination(corpus, corpus, "doc_id", "text", **kw).collect()

    expected = {(r["id1"], r["id2"]) for r in pairs}
    expected |= {(b, a) for a, b in expected}
    expected |= {
        (r["doc_id"], r["doc_id"])
        for r in corpus.where(F.length(F.lower("text")) >= 3).collect()
    }
    got = [(r["corpus_id"], r["probe_id"]) for r in cross]
    assert len(got) == len(set(got))
    assert set(got) == expected
    assert len(pairs) >= 20  # the planted near-dups take part
