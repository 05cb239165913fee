"""Seeded input generator for the benchmark workloads.

Everything here is numpy + pyarrow, so the engine under test takes no
part in making its inputs; they are written after set-up, before the
first job, outside every timed phase. The same ``(seed, size)`` always
gives byte-identical tables; ``ensure_*`` write them once into a cache
directory and re-use them.

Layouts match what the program reads:

* ``documents.parquet/`` (doc_id:int64, text, lang, source, n_chars) and
  ``embeddings.parquet/`` (vec_id:int64 == doc_id, embedding:list<float>,
  label:int32): the tables ``load_token_sequences`` and ``prepare_corpus``
  read from ``<dir>/``;
* ``events.parquet/`` (event_id, ts, user_id, event_type, value, props).

Each table is split into several files so the scan has more than one
input split, as a real table would.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from audio_feature_extraction_spark.core.config import DEFAULT_TOKENIZER

N_SOURCES = 20
LANGS = ("en", "de", "fr", "es", "zh")
LANG_SHARES = (0.5, 0.15, 0.15, 0.1, 0.1)
EMB_DIM = 64
EPOCH_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z

# stated shares of the document generator (fractions of all docs)
DOC_SHARES = {
    "exact_dup": 0.03,   # byte-identical copy of an earlier doc
    "near_dup": 0.04,    # earlier doc with 1-3 words replaced
    "shared_span": 0.06, # a 30-word span shared with other docs
    "empty": 0.01,       # "" or whitespace only
}
SHARED_SPAN_WORDS = 30
N_SHARED_SPANS = 8

# stated properties of the events generator
EVENT_TYPES = ("view", "click", "purchase", "signup", "error")
EVENT_SHARES = (0.35, 0.30, 0.15, 0.10, 0.10)
HOT_ENTITY_SHARE = 0.08  # user_id 0
NEW_SESSION_P = 0.04     # chance that a gap opens a new session
SESSION_GAP_S = 1800     # sessionize's default gap


def tokenize(text: str) -> list[int]:
    """The documented word-hash tokenizer (``TokenizerSpec``), written
    out independently of the engine so checks have their own oracle."""
    s = DEFAULT_TOKENIZER
    return [
        (ord(w[0]) * s.first_mult + len(w) * s.len_mult + ord(w[-1])) % s.vocab
        for w in text.split(" ")
        if w
    ]


def _word_pool(rng: np.random.Generator, n: int = 4000) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lens = rng.integers(1, 12, size=n)
    return np.array(["".join(rng.choice(letters, size=k)) for k in lens])


def _zipf_p(n: int, a: float) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1) ** a
    return p / p.sum()


def _write_parts(table: pa.Table, path: str, parts: int) -> None:
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // parts)
    for i in range(parts):
        pq.write_table(
            table.slice(i * step, step), os.path.join(path, f"part-{i:05d}.parquet")
        )


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
    )


def _ready(path: str) -> dict | None:
    try:
        with open(os.path.join(path, "_props.json")) as f:
            return json.load(f)
    except FileNotFoundError:
        return None


def _publish(tmp: str, path: str, props: dict) -> dict:
    with open(os.path.join(tmp, "_props.json"), "w") as f:
        json.dump(props, f, indent=1)
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)
    return props


def make_documents(seed: int, n_docs: int, max_words: int = 3000):
    """Return (documents table, embeddings table, properties)."""
    rng = np.random.default_rng([seed, 1])
    pool = _word_pool(rng)
    wp = _zipf_p(len(pool), 1.05)
    # heavy-tailed lengths, lognormal (median 60 words, sigma 1.1), 3 .. max_words.
    # Taken at fixed quantiles and shuffled, so every seed gets the same
    # multiset of lengths: seeds change content, not the amount of work.
    q = (np.arange(n_docs) + 0.5) / n_docs
    z = np.array([statistics.NormalDist().inv_cdf(x) for x in q])
    lens = np.clip(np.rint(60 * np.exp(1.1 * z)), 3, max_words).astype(int)
    lens = rng.permutation(lens)
    texts = [" ".join(pool[rng.choice(len(pool), size=k, p=wp)]) for k in lens]
    spans = [
        " ".join(pool[rng.choice(len(pool), size=SHARED_SPAN_WORDS, p=wp)])
        for _ in range(N_SHARED_SPANS)
    ]
    kind = np.array(["plain"] * n_docs, dtype=object)
    # derived docs copy an earlier doc, so they start after the first 5%;
    # empty docs replace short ones only, to keep the token total fixed
    first = max(1, n_docs // 20)
    short = rng.permutation(np.flatnonzero((lens <= np.median(lens)) & (np.arange(n_docs) >= first)))
    m_empty = int(round(DOC_SHARES["empty"] * n_docs))
    kind[short[:m_empty]] = "empty"
    cand = rng.permutation(np.flatnonzero((kind == "plain") & (np.arange(n_docs) >= first)))
    pos = 0
    for k in ("exact_dup", "near_dup", "shared_span"):
        m = int(round(DOC_SHARES[k] * n_docs))
        kind[cand[pos : pos + m]] = k
        pos += m
    origin = np.full(n_docs, -1)
    for i in range(n_docs):
        k = kind[i]
        if k in ("exact_dup", "near_dup"):
            # the earlier plain doc closest in length (near dups need 20+
            # words so a few edits keep Jaccard high)
            prev = np.flatnonzero(kind[:i] == "plain")
            if k == "near_dup" and (lens[prev] >= 20).any():
                prev = prev[lens[prev] >= 20]
            d = np.abs(lens[prev] - lens[i]) + rng.random(len(prev))
            origin[i] = j = int(prev[np.argmin(d)])
        if k == "exact_dup":
            texts[i] = texts[j]
        elif k == "near_dup":
            words = texts[j].split(" ")
            for p in rng.choice(len(words), size=int(rng.integers(1, 4)), replace=False):
                words[p] = pool[rng.integers(len(pool))]
            texts[i] = " ".join(words)
        elif k == "shared_span":
            words = texts[i].split(" ")
            at = int(rng.integers(0, len(words) + 1))
            words[at:at] = [spans[int(rng.integers(N_SHARED_SPANS))]]
            texts[i] = " ".join(words)
        elif k == "empty":
            texts[i] = "" if rng.random() < 0.5 else " " * int(rng.integers(1, 4))
    src_p = _zipf_p(N_SOURCES, 0.8)
    sources = np.array([f"src{i}" for i in range(N_SOURCES)])[
        rng.choice(N_SOURCES, size=n_docs, p=src_p)
    ]
    langs = np.array(LANGS)[rng.choice(len(LANGS), size=n_docs, p=LANG_SHARES)]
    docs = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(langs, pa.string()),
            "source": pa.array(sources, pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    # embeddings: random unit-ish vectors; copies sit next to their origin
    vecs = rng.normal(0.0, 1.0, (n_docs, EMB_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    for i in np.flatnonzero(origin >= 0):
        vecs[i] = vecs[origin[i]] + rng.normal(0.0, 0.01, EMB_DIM).astype(np.float32)
    emb = pa.table(
        {
            "vec_id": pa.array(np.arange(n_docs), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_docs), pa.int32()),
        }
    )
    n_tok = np.array([len(tokenize(t)) for t in texts])
    props = {
        "docs": n_docs,
        "tokens": int(n_tok.sum()),
        "doc_tokens_p50": float(np.median(n_tok)),
        "doc_tokens_p99": float(np.percentile(n_tok, 99)),
        "doc_tokens_max": int(n_tok.max()),
        "shares_stated": DOC_SHARES,
        "shares_measured": {
            k: float(np.mean(kind == k)) for k in DOC_SHARES
        },
        "source_shares": {
            s: float(np.mean(sources == s)) for s in sorted(set(sources))
        },
    }
    return docs, emb, props


def hot_position_share(token_lists, k: int, min_count: int = 2) -> float:
    """Share of k-gram start positions whose gram occurs >= min_count
    times in the corpus: the quantity ``duplicate_gram_spans`` compares
    against its gather/direct threshold."""
    counts: dict = {}
    grams = []
    for toks in token_lists:
        g = [tuple(toks[i : i + k]) for i in range(len(toks) - k + 1)]
        grams.append(g)
        for x in g:
            counts[x] = counts.get(x, 0) + 1
    total = sum(len(g) for g in grams)
    hot = sum(1 for g in grams for x in g if counts[x] >= min_count)
    return hot / max(total, 1)


def ensure_documents(root: str, seed: int, n_docs: int, k: int | None = None) -> tuple[str, dict]:
    """Cached documents + embeddings for (seed, n_docs); returns (dir, props)."""
    path = os.path.join(root, f"docs-s{seed}-n{n_docs}")
    props = _ready(path)
    if props is None:
        docs, emb, props = make_documents(seed, n_docs)
        tmp = path + f".tmp{os.getpid()}"
        _write_parts(docs, os.path.join(tmp, "documents.parquet"), 8)
        _write_parts(emb, os.path.join(tmp, "embeddings.parquet"), 4)
        if k is not None:
            props["hot_position_share_input"] = hot_position_share(
                [tokenize(t) for t in docs.column("text").to_pylist()], k
            )
        props["bytes"] = {
            t: dir_bytes(os.path.join(tmp, f"{t}.parquet"))
            for t in ("documents", "embeddings")
        }
        props = _publish(tmp, path, props)
    return path, props


def make_events(seed: int, n_events: int, n_users: int):
    """Return (events table, properties).

    Zipf-skewed (a=0.8) entities plus one hot entity (user_id 0) holding
    ``HOT_ENTITY_SHARE`` of the rows; bursty sessions separated by gaps
    longer than 30 minutes; event ids shuffled against time order;
    NULL ``value`` on every view row."""
    rng = np.random.default_rng([seed, 2])
    n_hot = int(round(HOT_ENTITY_SHARE * n_events))
    # per-entity row counts are the Zipf expectation (largest remainder),
    # and user k always gets the k-th largest count: every seed puts the
    # same number of rows on each entity, so on each shuffle partition,
    # and seeds change content, not the amount or placement of work
    share = _zipf_p(n_users - 1, 0.8) * (n_events - n_hot)
    counts = np.floor(share).astype(np.int64)
    counts[np.argsort(counts - share)[: n_events - n_hot - counts.sum()]] += 1
    users = np.concatenate(
        [np.zeros(n_hot, dtype=np.int64), np.repeat(np.arange(1, n_users), counts)]
    )
    new_sess = rng.random(n_events) < NEW_SESSION_P
    gaps = np.where(
        new_sess,
        SESSION_GAP_S + 1 + rng.exponential(4 * 3600, n_events),
        np.minimum(rng.exponential(120, n_events), SESSION_GAP_S - 1),
    )
    gaps_us = np.rint(gaps * 1e6).astype(np.int64)
    first = np.r_[True, users[1:] != users[:-1]]
    starts = rng.integers(0, 30 * 86400 * 10**6, n_events)
    gaps_us[first] = starts[first]
    # per-entity cumulative sum: subtract the running total at each start
    cs = np.cumsum(gaps_us)
    base = np.maximum.accumulate(np.where(first, cs - gaps_us, 0))
    ts_us = EPOCH_US + cs - base
    etype = np.array(EVENT_TYPES)[rng.choice(len(EVENT_TYPES), size=n_events, p=EVENT_SHARES)]
    value = np.round(rng.gamma(2.0, 50.0, n_events), 2)
    is_view = etype == "view"
    order = rng.permutation(n_events)  # rows land in the file out of order
    event_id = rng.permutation(n_events)  # ids unrelated to time order
    tbl = pa.table(
        {
            "event_id": pa.array(event_id[order], pa.int64()),
            "ts": pa.array(ts_us[order], pa.timestamp("us")),
            "user_id": pa.array(users[order], pa.int64()),
            "event_type": pa.array(etype[order], pa.string()),
            "value": pa.array(value[order], pa.float64(), mask=is_view[order]),
            "props": pa.array(
                [f'{{"k": {int(x)}}}' for x in rng.integers(0, 100, n_events)],
                pa.string(),
            ),
        }
    )
    per_user = np.bincount(users)
    props = {
        "events": n_events,
        "entities": int((per_user > 0).sum()),
        "hot_entity_share": float(per_user[0] / n_events),
        "max_cold_entity_rows": int(per_user[1:].max()),
        "view_share": float(is_view.mean()),
        "sessions": int(first.sum() + (new_sess & ~first).sum()),
    }
    return tbl, props


def ensure_events(root: str, seed: int, n_events: int, n_users: int) -> tuple[str, dict]:
    path = os.path.join(root, f"events-s{seed}-n{n_events}-u{n_users}")
    props = _ready(path)
    if props is None:
        tbl, props = make_events(seed, n_events, n_users)
        tmp = path + f".tmp{os.getpid()}"
        _write_parts(tbl, os.path.join(tmp, "events.parquet"), 8)
        props["bytes"] = dir_bytes(os.path.join(tmp, "events.parquet"))
        props = _publish(tmp, path, props)
    return path, props
