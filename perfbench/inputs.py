"""Seeded input generators for the benchmark workloads.

The benchmark owns its inputs: nothing here imports ``modlyn_spark``, so a
change to the library's own synthetic sources cannot change a workload.
Every table is a pure function of ``(workload, seed, size)``. Each run
regenerates the frames, hashes them and fails loudly if the hash differs
from the one pinned in ``pins.json`` (seeds 0-63 at full size, 1-3 tiny).
The parquet is written once per hash, into a cache directory named after
it, so a changed generator can never read another generator's files.

pit_features
    ``images``: the input_hint image-state schema (image_id, bytes, w, h,
    fmt, caption, phash) plus ``ts`` and ``version``. One entity in 20 is
    hot with 30x the versions. Payload bytes are present so the scan's
    column pruning has something to prune.
    ``requests``: two per state row, one at the state's timestamp (exact
    match) and one up to a second before it (previous state, or none).

corpus_curation
    ``documents``: a synthetic word corpus (doc_id, text, lang, source,
    n_chars) with planted near-duplicate families and exact duplicates,
    replicated with a per-replica bijective a-z rotation (within-replica
    shingle equality is kept, cross-replica shingle sets decorrelate), plus
    one template family whose members share most of their text, so one
    LSH band bucket per band runs hot.
    The generator also returns each document's planted family, which the
    oracle uses to bound its exact-Jaccard search.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import string

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
PINS_PATH = os.path.join(HERE, "pins.json")

SIZES = {
    "full": {
        "pit_features": {"entities": 1000},
        "corpus_curation": {
            "base_docs": 400,
            "replicas": 2,
            "template_docs": 150,
        },
    },
    "tiny": {
        "pit_features": {"entities": 60},
        "corpus_curation": {
            "base_docs": 60,
            "replicas": 2,
            "template_docs": 16,
        },
    },
}

# files per table: the scan splits into this many tasks at k=4
N_FILES = 4
HOT_EVERY = 20
HOT_FACTOR = 30
_BASE_EPOCH = np.datetime64("2024-01-01T00:00:00", "us")
STOPWORDS = ["the", "and", "of", "to", "in", "is", "that", "it", "was", "for"]


class InputMismatch(RuntimeError):
    """A regenerated input differs from its pinned content hash."""


# -- pit_features -------------------------------------------------------------


def pit_tables(seed: int, size: str) -> dict[str, pd.DataFrame]:
    n = SIZES[size]["pit_features"]["entities"]
    rng = np.random.default_rng([seed, 1])
    # versions per entity: 1-5 in equal shares, dealt in seeded order, so
    # every seed has the same row count
    hot = np.arange(n) % HOT_EVERY == int(rng.integers(0, HOT_EVERY))
    n_versions = np.empty(n, dtype=np.int64)
    n_versions[hot] = HOT_FACTOR * rng.permutation(np.resize(np.arange(1, 6), hot.sum()))
    n_versions[~hot] = rng.permutation(np.resize(np.arange(1, 6), (~hot).sum()))
    total = int(n_versions.sum())
    entity = np.repeat(np.arange(n), n_versions)
    first = np.r_[0, np.cumsum(n_versions)[:-1]]
    version = np.arange(total) - np.repeat(first, n_versions)

    # strictly increasing per entity: bursts of 1-5 s, session breaks >= 1 h
    gaps = rng.choice([1, 2, 3, 5, 3600, 7200], size=total,
                      p=[0.3, 0.2, 0.2, 0.1, 0.1, 0.1]).astype(np.int64)
    gaps[first] = rng.integers(0, 86400, size=n)
    offs = np.cumsum(gaps) - np.repeat(np.cumsum(gaps)[first] - gaps[first], n_versions)
    ts = _BASE_EPOCH + offs.astype("timedelta64[s]")

    # phash drifts by a few bit flips per version
    flips = np.zeros(total, dtype=np.uint64)
    for _ in range(3):
        flips ^= np.left_shift(np.uint64(1), rng.integers(0, 64, size=total).astype(np.uint64))
    start = rng.integers(0, 2**63 - 1, size=n, dtype=np.int64).astype(np.uint64)
    flips[first] = start
    phash = np.bitwise_xor.accumulate(flips)  # running xor across all rows ...
    # ... restarted per entity: xor out everything before the entity's first row
    prefix = np.r_[np.uint64(0), phash[first[1:] - 1]] if n > 1 else np.zeros(1, np.uint64)
    phash = (phash ^ np.repeat(prefix, n_versions)).view(np.int64)

    sizes = np.array([8, 16, 32], dtype=np.int32)
    fmts = np.array(["png", "jpeg", "qpng"], dtype=object)
    plen = rng.integers(128, 513, size=total)
    blob = rng.bytes(int(plen.sum()))
    cut = np.r_[0, np.cumsum(plen)]
    ids = np.array([f"img_{i:07d}" for i in range(n)], dtype=object)
    images = pd.DataFrame(
        {
            "image_id": ids[entity],
            "bytes": [blob[cut[i]:cut[i + 1]] for i in range(total)],
            "w": np.repeat(sizes[rng.integers(0, 3, size=n)], n_versions),
            "h": np.repeat(sizes[rng.integers(0, 3, size=n)], n_versions),
            "fmt": np.repeat(fmts[rng.integers(0, 3, size=n)], n_versions),
            "caption": [f"image {e} version {v}" for e, v in zip(entity, version)],
            "phash": phash,
            "ts": ts,
            "version": version.astype(np.int64),
        }
    )

    before = rng.integers(1, 1000, size=total).astype("timedelta64[ms]")
    classes = np.array(["c0", "c1", "c2", "c3", "c_rare"], dtype=object)
    req_ids = np.r_[ids[entity], ids[entity]]
    req_ts = np.r_[ts, ts - before]
    label = classes[rng.choice(5, size=2 * total, p=[0.3, 0.3, 0.2, 0.19, 0.01])]
    requests = pd.DataFrame(
        {"image_id": req_ids, "feature_ts": req_ts, "label": label}
    )
    return {"images": images, "requests": requests}


# -- corpus_curation ----------------------------------------------------------


def _vocabulary(rng: np.random.Generator, n_words: int) -> np.ndarray:
    cons = list("bcdfghjklmnprstvwz")
    vows = list("aeiou")
    words = set()
    while len(words) < n_words:
        k = int(rng.integers(2, 5))
        words.add("".join(rng.choice(cons) + rng.choice(vows) for _ in range(k)))
    return np.array(sorted(words), dtype=object)


def _sentence(rng: np.random.Generator, vocab: np.ndarray, n_words: int) -> list[str]:
    """Content words with an English stopword every third slot."""
    out = list(rng.choice(vocab, size=n_words))
    for i in range(2, n_words, 3):
        out[i] = STOPWORDS[int(rng.integers(0, len(STOPWORDS)))]
    return out


def _edit_one_letter(rng: np.random.Generator, text: str) -> str:
    """Replace one letter of one content word (a near-duplicate variant)."""
    words = text.split(" ")
    cand = [i for i, w in enumerate(words) if w not in STOPWORDS and len(w) > 3]
    i = cand[int(rng.integers(0, len(cand)))]
    w = words[i]
    j = int(rng.integers(1, len(w) - 1))
    repl = "q" if w[j] != "q" else "x"
    words[i] = w[:j] + repl + w[j + 1:]
    return " ".join(words)


def _rot_table(r: int) -> dict:
    return {
        ord(ch): ord(alpha[(i + r) % 26])
        for alpha in (string.ascii_lowercase, string.ascii_uppercase)
        for i, ch in enumerate(alpha)
    }


def curation_tables(seed: int, size: str) -> dict[str, pd.DataFrame]:
    cfg = SIZES[size]["corpus_curation"]
    rng = np.random.default_rng([seed, 2])
    vocab = _vocabulary(rng, 3000)

    # one replica: (text, family) rows; families are planted groups in fixed
    # shares (per 20: 15 singletons, 3 near-duplicate triples, 2 exact pairs)
    # dealt in seeded order
    kinds = rng.permutation(
        np.resize(np.repeat(["one", "near", "exact"], [15, 3, 2]), cfg["base_docs"])
    )
    texts: list[str] = []
    fams: list[int] = []
    for fam, kind in enumerate(kinds):
        if len(texts) >= cfg["base_docs"]:
            break
        base = " ".join(_sentence(rng, vocab, int(rng.integers(45, 80))))
        texts.append(base)
        fams.append(fam)
        if kind == "near":  # one-letter edits of the base
            for _ in range(2):
                texts.append(_edit_one_letter(rng, base))
                fams.append(fam)
        elif kind == "exact":  # the same text up to case and whitespace
            texts.append("  " + base.upper().replace(" ", "   ", 3))
            fams.append(fam)
    texts = texts[: cfg["base_docs"]]
    fams = fams[: cfg["base_docs"]]
    n_fam = len(kinds)

    doc_id, text, family = [], [], []
    for r in range(cfg["replicas"]):
        t = _rot_table(r)
        doc_id.extend(r * 1_000_000 + i for i in range(len(texts)))
        text.extend(s.translate(t) if r else s for s in texts)
        family.extend(r * n_fam + f for f in fams)
    # the template family: a shared body plus a short unique tail each
    template = " ".join(_sentence(rng, vocab, 40))
    tfam = cfg["replicas"] * n_fam
    for i in range(cfg["template_docs"]):
        doc_id.append(900_000_000 + i)
        text.append(template + " " + " ".join(_sentence(rng, vocab, 12)))
        family.append(tfam)

    order = rng.permutation(len(doc_id))
    doc_id = np.asarray(doc_id, dtype=np.int64)[order]
    text = np.asarray(text, dtype=object)[order]
    family = np.asarray(family, dtype=np.int64)[order]
    documents = pd.DataFrame(
        {
            "doc_id": doc_id,
            "text": text,
            "lang": np.array(["en", "de", "fr", "es"], dtype=object)[doc_id % 4],
            "source": np.array([f"src{i}" for i in range(8)], dtype=object)[doc_id % 8],
            "n_chars": np.array([len(s) for s in text], dtype=np.int64),
            "family": family,
        }
    )
    return {"documents": documents}


GENERATORS = {"pit_features": pit_tables, "corpus_curation": curation_tables}
# columns the oracle needs but the program never sees
HIDDEN_COLUMNS = {"family"}


# -- content hash, cache and pins ---------------------------------------------


def content_hash(tables: dict[str, pd.DataFrame]) -> str:
    """sha256 over a canonical encoding of every table, column and value."""
    h = hashlib.sha256()
    for name in sorted(tables):
        df = tables[name]
        h.update(f"{name}:{len(df)}".encode())
        for col in df.columns:
            s = df[col]
            h.update(f"|{col}:{s.dtype}".encode())
            if s.dtype == object:
                for v in s:
                    b = v if isinstance(v, bytes) else str(v).encode()
                    h.update(len(b).to_bytes(8, "little"))
                    h.update(b)
            else:
                h.update(np.ascontiguousarray(s.to_numpy()).tobytes())
    return h.hexdigest()


def _load_pins() -> dict:
    if not os.path.exists(PINS_PATH):
        return {}
    with open(PINS_PATH) as f:
        return json.load(f)


def _write_table(df: pd.DataFrame, directory: str) -> None:
    os.makedirs(directory, exist_ok=True)
    df = df.drop(columns=[c for c in HIDDEN_COLUMNS if c in df.columns])
    table = pa.Table.from_pandas(df, preserve_index=False)
    step = -(-len(df) // N_FILES)
    for i in range(N_FILES):
        part = table.slice(i * step, step)
        pq.write_table(
            part, os.path.join(directory, f"part-{i:05d}.parquet"),
            coerce_timestamps="us", allow_truncated_timestamps=False,
        )


def materialize(
    workload: str, seed: int, size: str, cache_root: str
) -> tuple[dict[str, str], dict[str, pd.DataFrame], str]:
    """Generate the workload's tables, check them against the pinned hash,
    and write them as parquet once per hash.

    Returns ({table: parquet dir}, {table: frame}, content hash).
    Raises InputMismatch if the tables differ from the hash pinned for
    (workload, seed, size).
    """
    tables = GENERATORS[workload](seed, size)
    digest = content_hash(tables)
    key = f"{workload}/{size}/{seed}"
    pinned = _load_pins().get(key)
    if pinned is not None and pinned != digest:
        raise InputMismatch(f"{key}: generated {digest}, pinned {pinned}")
    root = os.path.join(cache_root, "inputs", workload, size, f"{seed}-{digest[:16]}")
    if not os.path.isdir(root):
        # write aside and rename, so an interrupted write leaves no cache entry
        tmp = f"{root}.tmp-{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        for name, df in tables.items():
            _write_table(df, os.path.join(tmp, name))
        try:
            os.rename(tmp, root)
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)
            if not os.path.isdir(root):  # not a concurrent writer's entry
                raise
    return {name: os.path.join(root, name) for name in tables}, tables, digest
