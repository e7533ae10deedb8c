"""Oracle answers, computed once per seed outside the timed region.

pit_features
    The point-in-time feature table recomputed in pandas from the
    generated inputs with the reference temporal operators
    (``oracle_sessionize``/``oracle_backfill`` and ``oracle_asof``; the
    phash lag is taken in int64), then the selection answers on it:
    ``oracle_f_statistic``, ``oracle_logreg``, ``oracle_wilcoxon`` and
    ``oracle_jaccard`` over the three score matrices.

corpus_curation
    Exact character-3-gram Jaccard computed within each planted family
    (the generator keeps unrelated documents far below every threshold,
    which ``_check_families_apart`` re-checks on a sample), then the
    curation rules applied in order (exact dedup, ``pairs`` near-dup drop,
    quality gate, md5 split) and the canonical map
    (connected components of the >= 0.8 pairs, longest then smallest id).
    Each answer is a row count plus a sha256 over its sorted rows.
"""

from __future__ import annotations

import hashlib
import re

import numpy as np
import pandas as pd

from modlyn_spark.oracle.pandas_oracle import (
    oracle_asof,
    oracle_backfill,
    oracle_f_statistic,
    oracle_jaccard,
    oracle_logreg,
    oracle_sessionize,
    oracle_wilcoxon,
)
from modlyn_spark.scoring.logreg import assign_batches_pandas

FEATURES = [
    "phash_hamming",
    "version",
    "session_id",
    "n_in_session_so_far",
    "px_mean_ffill",
    "state_age_sec",
]
GAP_SECONDS = 600  # image_feature_pipeline default
ROLL_ROWS = 1000  # image_state_features' rolling window
N_BATCHES = 6
MAX_EPOCHS = 1
N_TOP = [1, 2, 3]
NEAR_DUP_THRESHOLD = 0.9  # curate_corpus default
PAIRS_THRESHOLD = 0.8  # minhash_near_dup_pairs default
MIN_QUALITY = 0.3  # curate_corpus default
SPLITS = (("train", 0.9), ("val", 0.95))  # curate_corpus default, cumulative
EN_STOPWORDS = {"the", "and", "of", "to", "in", "is", "that", "it", "was", "for"}


def rows_digest(rows) -> str:
    h = hashlib.sha256()
    for r in sorted(rows):
        h.update(repr(r).encode())
    return h.hexdigest()


# -- pit_features --------------------------------------------------------------


def _popcount64(x: np.ndarray) -> np.ndarray:
    b = x.astype(np.uint64).view(np.uint8).reshape(-1, 8)
    return np.unpackbits(b, axis=1).sum(axis=1)


def _epoch_s(ts: pd.Series) -> np.ndarray:
    micros = ts.astype("datetime64[us]").to_numpy()
    return np.where(np.isnat(micros), np.nan, micros.astype(np.int64) / 1e6)


def pit_feature_table(images: pd.DataFrame, requests: pd.DataFrame) -> pd.DataFrame:
    """(image_id, feature_ts, label, f0..f5) as image_feature_pipeline defines them."""
    st = images[["image_id", "ts", "version", "phash"]].sort_values(
        ["image_id", "ts"], kind="mergesort"
    )
    # the lag in int64: a NaN-padded shift would round 64-bit hashes
    ph = st["phash"].to_numpy()
    key = st["image_id"].to_numpy()
    has_lag = np.r_[False, key[1:] == key[:-1]]
    lag = np.r_[ph[:1], ph[:-1]]
    ham = np.where(has_lag, _popcount64(ph ^ lag), 0)
    st = st.assign(phash_hamming=ham.astype(np.float64))
    st = oracle_sessionize(st, "image_id", "ts", GAP_SECONDS)
    rank = st.groupby("image_id", sort=False).cumcount().to_numpy()
    st = st.assign(n_in_session_so_far=np.minimum(rank + 1, ROLL_ROWS).astype(np.float64))
    # Spark's long % keeps the dividend's sign, like C fmod
    px = np.fmod(st["phash"].to_numpy(), 256).astype(np.float64)
    st = st.assign(px_raw=np.where(st["version"].to_numpy() % 2 == 1, px, np.nan))
    st = oracle_backfill(st, "image_id", "ts", "px_raw")
    st = st.assign(
        px_mean_ffill=st["px_raw_ffill"].fillna(0.0),
        session_id=st["session_id"].astype(np.float64),
        version=st["version"].astype(np.float64),
        state_ts=st["ts"],
    )
    payload = ["phash_hamming", "version", "session_id", "n_in_session_so_far",
               "px_mean_ffill", "state_ts"]
    j = oracle_asof(requests, st, "image_id", "feature_ts", "ts", payload)
    # as Spark computes it: each timestamp to epoch seconds (micros / 1e6
    # in double), then the difference
    age = _epoch_s(j["feature_ts"]) - _epoch_s(j["state_ts"])
    out = j[["image_id", "feature_ts", "label"]].copy()
    for i, name in enumerate(FEATURES[:5]):
        out[f"f{i}"] = j[name].astype(np.float64).fillna(-1.0).to_numpy()
    out["f5"] = np.where(np.isnan(age), -1.0, age)
    return out


def f_matrix(f_stat: pd.DataFrame, classes) -> pd.DataFrame:
    """The F-statistic as a classes x features score matrix: one ranking,
    the same for every class."""
    f = f_stat.sort_values("pos")["f_stat"].to_numpy()
    wide = pd.DataFrame([f] * len(classes), index=[str(c) for c in classes], columns=FEATURES)
    wide.attrs["method_name"] = "f_statistic"
    return wide


def wilcoxon_matrix(w: pd.DataFrame) -> pd.DataFrame:
    wide = w.assign(label=w["label"].astype(str)).pivot(index="label", columns="pos", values="z")
    wide = wide.sort_index()
    wide.columns = [FEATURES[int(p)] for p in wide.columns]
    wide.attrs["method_name"] = "wilcoxon"
    return wide


def logreg_matrix(weights_long: pd.DataFrame) -> pd.DataFrame:
    wide = weights_long.assign(label=weights_long["label"].astype(str)).pivot(
        index="label", columns="pos", values="weight"
    )
    wide = wide.sort_index()
    wide.columns = [FEATURES[int(p)] for p in wide.columns]
    wide.attrs["method_name"] = "modlyn_logreg"
    return wide


def pit_oracle(tables: dict[str, pd.DataFrame]) -> dict:
    feats = pit_feature_table(tables["images"], tables["requests"])
    X = feats[[f"f{i}" for i in range(6)]].to_numpy()
    labels = feats["label"]
    batch = assign_batches_pandas(feats, ["image_id"], N_BATCHES)
    weights, _ = oracle_logreg(X, labels, batch, max_steps=3000, n_epochs=MAX_EPOCHS)
    wil = oracle_wilcoxon(X, labels)
    f_stat = oracle_f_statistic(X, labels)
    classes = sorted(labels.unique())
    jac = oracle_jaccard(
        [logreg_matrix(weights), f_matrix(f_stat, classes), wilcoxon_matrix(wil)], N_TOP
    )
    return {
        "features": feats,
        "f_stat": f_stat,
        "weights": weights,
        "wilcoxon": wil,
        "jaccard": jac,
    }


# -- corpus_curation -------------------------------------------------------------


def _shingles(text: str, n: int = 3) -> frozenset:
    t = text.lower()
    return frozenset(t[i:i + n] for i in range(len(t) - n + 1))


def _jaccard(a: frozenset, b: frozenset) -> float:
    inter = len(a & b)
    union = len(a) + len(b) - inter
    return inter / union if union else 0.0


def _family_pairs(ids, sh, fams, threshold: float) -> set[tuple[int, int]]:
    """All (smaller id, larger id) pairs in one family with jaccard >= t."""
    by_fam: dict[int, list[int]] = {}
    for i, f in enumerate(fams):
        by_fam.setdefault(int(f), []).append(i)
    pairs = set()
    for members in by_fam.values():
        for x in range(len(members)):
            for y in range(x + 1, len(members)):
                a, b = members[x], members[y]
                if _jaccard(sh[a], sh[b]) >= threshold:
                    pairs.add((min(ids[a], ids[b]), max(ids[a], ids[b])))
    return pairs


def _check_families_apart(sh, fams, rng, n_pairs: int = 2000, limit: float = 0.5) -> None:
    """Sampled pairs from different families must be far below every threshold."""
    n = len(sh)
    a = rng.integers(0, n, size=n_pairs)
    b = rng.integers(0, n, size=n_pairs)
    worst = max(
        (_jaccard(sh[i], sh[j]) for i, j in zip(a, b) if fams[i] != fams[j]), default=0.0
    )
    if worst >= limit:
        raise RuntimeError(f"generator planted a cross-family pair at jaccard {worst:.3f}")


def _quality(text: str) -> float:
    n_chars = len(text)
    toks = [t for t in re.split("[^a-z0-9]+", text.lower()) if t]
    n_punct = len(re.findall(r"[^A-Za-z0-9\s]", text))
    stop = sum(t in EN_STOPWORDS for t in toks) / len(toks) if toks else 0.0
    punct = n_punct / n_chars if n_chars else 0.0
    return (min(n_chars / 200.0, 1.0) + max(1.0 - punct * 4.0, 0.0) + min(stop * 4.0, 1.0)) / 3.0


def _split(doc_id: int) -> str:
    u = int(hashlib.md5(f"{doc_id}|".encode()).hexdigest()[:8], 16) / 2**32
    for name, edge in SPLITS:
        if u < edge:
            return name
    return "test"


def _components(pairs: set[tuple[int, int]]) -> dict[int, int]:
    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def curation_oracle(tables: dict[str, pd.DataFrame], seed: int) -> dict:
    docs = tables["documents"]
    ids = docs["doc_id"].to_numpy()
    texts = docs["text"].tolist()
    fams = docs["family"].to_numpy()
    sh = [_shingles(t) for t in texts]
    _check_families_apart(sh, fams, np.random.default_rng([seed, 3]))

    # curate_corpus(near_dup_mode="pairs")
    fp_keep: dict[str, int] = {}
    for i, t in enumerate(texts):
        key = re.sub(r"\s+", " ", t.lower()).strip()
        fp_keep[key] = min(fp_keep.get(key, ids[i]), ids[i])
    alive = {int(v) for v in fp_keep.values()}
    idx = [i for i in range(len(ids)) if int(ids[i]) in alive]
    near = _family_pairs([int(ids[i]) for i in idx], [sh[i] for i in idx],
                         [fams[i] for i in idx], NEAR_DUP_THRESHOLD)
    alive -= {b for _, b in near}
    alive = {d for d, t in zip(ids, texts) if int(d) in alive and _quality(t) >= MIN_QUALITY}
    curated = [(int(d), _split(int(d))) for d in sorted(alive)]

    # canonical map over minhash_near_dup_pairs -> connected_components
    pairs = _family_pairs([int(i) for i in ids], sh, fams, PAIRS_THRESHOLD)
    comp = _components(pairs)
    n_chars = dict(zip(ids.tolist(), docs["n_chars"].tolist()))
    best: dict[int, int] = {}
    for d in ids.tolist():
        c = comp.get(d, d)
        cur = best.get(c)
        if cur is None or (n_chars[d], -d) > (n_chars[cur], -cur):
            best[c] = d
    canonical = [
        (d, comp.get(d, d), best[comp.get(d, d)], d == best[comp.get(d, d)])
        for d in ids.tolist()
    ]
    return {
        "curated_rows": len(curated),
        "curated_digest": rows_digest(curated),
        "pairs": len(pairs),
        "canonical_rows": len(canonical),
        "canonical_digest": rows_digest(canonical),
    }
