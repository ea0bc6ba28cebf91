"""Seeded corpus generator for the benchmark workloads.

Every corpus is a pure function of (workload, seed). It is written as two
parquet tables: ``pages`` (url, warc_ts, html, text, lang — the only table
the program reads) and ``truth`` (url plus the planted structure), so the
program never sees the answers it is checked against.

Planted structure:

* ``stream_ingest`` — short pages (~60 words). Most pages sit in
  cumulative-edit chains of three: each member is one word substitution
  away from its predecessor. Chain members alternate between the two
  micro-batches, so every chain spans both and the history probe has
  real work; the other pages are dealt at random. A chain's urls and
  timestamps follow its generation order. Chains are kept to three pages
  and there is no template farm so that the amount of work does not
  depend on the seed: a connected-components pass needs one round for
  any component of at most three pages, while longer chains and a farm
  needed a second or third round on some seeds only, with which
  ``curate_state`` ran 29 or 38 Spark jobs instead of 20 and
  ``curate_s`` swung by a quarter between seeds.
* ``curate_rewrite`` — longer pages (~120 words, each with its own topical
  word mix so hashed bag-of-words vectors stay apart). It plants
  near-duplicate clusters (for pair recall), paraphrase groups (the same
  words in another order: syntactically distinct, semantically identical),
  and shared passages of at least ``min_len`` characters, some repeated
  inside one document.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)

_CONS = "bcdfghklmnprstvz"
_VOWS = "aeiou"
_SYLL = [c + v for c in _CONS for v in _VOWS]
VOCAB = [a + b + c for a in _SYLL[:40] for b in _SYLL[40:] for c in ("", "n")][:4000]
# a few real stopwords so the quality gate sees natural-looking prose
STOPWORDS = ["the", "and", "of", "to", "in", "is", "that", "for", "it", "with"]

PARAMS = {
    "stream_ingest": {
        "batches": 2,
        "batch_docs": 120,
        "doc_words": 60,
        "chain_len": 3,
        "chain_share": 0.6,
    },
    "curate_rewrite": {
        "docs": 200,
        "doc_words": 120,
        "dup_clusters": 14,
        "dup_size": 3,
        "para_groups": 10,
        "para_size": 3,
        "passages": 14,
        "passage_words": 16,
        "passage_holders": (2, 4),
        "repeat_every": 4,
        "min_len": 48,
    },
}


def _words(rng: np.random.Generator, n: int) -> list[str]:
    """``n`` words with a document-specific topical mix: half the tokens
    come from 12 topic words, the rest from the whole vocabulary, with a
    stopword every ~8 tokens."""
    topic = rng.choice(len(VOCAB), 12, replace=False)
    out = []
    for i in range(n):
        if i % 8 == 3:
            out.append(STOPWORDS[int(rng.integers(len(STOPWORDS)))])
        elif rng.random() < 0.5:
            out.append(VOCAB[int(topic[rng.integers(12)])])
        else:
            out.append(VOCAB[int(rng.integers(len(VOCAB)))])
    return out


def _frame(docs: list[tuple[list[str], str]], rng, tag: str) -> pd.DataFrame:
    """[(words, truth_cluster)] → pages+truth frame in a seeded random
    order, so url order carries no cluster structure."""
    order = rng.permutation(len(docs))
    rows = []
    for rank, i in enumerate(order):
        words, cluster = docs[int(i)]
        text = " ".join(words)
        url = f"https://site{int(rng.integers(1000)):03d}.example/{tag}/{rank:06d}"
        title = " ".join(words[:6])
        html = f"<html><head><title>{title}</title></head><body><p>{text}</p></body></html>"
        rows.append((url, EPOCH + dt.timedelta(seconds=rank), html.encode(), text,
                     ("en", "de", "fr", "es")[rank % 4], cluster))
    df = pd.DataFrame(
        rows, columns=["url", "warc_ts", "html", "text", "lang", "truth_cluster"]
    )
    df["member"] = order
    return df


def _order_groups(df: pd.DataFrame, prefix: str) -> None:
    """Within each planted group whose truth cluster starts with
    ``prefix``, hand out the group's urls and timestamps in generation
    order. The group's positions in the corpus stay random."""
    grouped = df[df["truth_cluster"].str.startswith(prefix)]
    for _, g in grouped.groupby("truth_cluster"):
        g = g.sort_values("member")
        df.loc[g.index, "url"] = sorted(g["url"])
        df.loc[g.index, "warc_ts"] = sorted(g["warc_ts"])


def stream_corpus(seed: int) -> tuple[pd.DataFrame, dict]:
    p = PARAMS["stream_ingest"]
    rng = np.random.default_rng([seed, 1])
    n = p["batches"] * p["batch_docs"]
    docs = []
    n_chains = int(n * p["chain_share"]) // p["chain_len"]
    for c in range(n_chains):
        w = _words(rng, p["doc_words"])
        for _ in range(p["chain_len"]):
            docs.append((list(w), f"chain{c}"))
            w[int(rng.integers(len(w)))] = VOCAB[int(rng.integers(len(VOCAB)))]
    while len(docs) < n:
        docs.append((_words(rng, p["doc_words"]), f"single{len(docs)}"))
    df = _frame(docs, rng, "s")
    _order_groups(df, "chain")
    # chain members alternate between batches along the chain; the other
    # pages fill the remaining slots at random, so batches stay equal
    chained = df["truth_cluster"].str.startswith("chain")
    pos = df[chained].groupby("truth_cluster")["member"].rank(method="first").astype(int)
    df["batch"] = -1
    df.loc[chained, "batch"] = pos % p["batches"]
    taken = np.bincount(df.loc[chained, "batch"], minlength=p["batches"])
    free = np.repeat(np.arange(p["batches"]), p["batch_docs"] - taken)
    df.loc[~chained, "batch"] = rng.permutation(free)
    return df, {**p, "docs": n, "chains": n_chains,
                "dup_share": n_chains * p["chain_len"] / n}


def curate_corpus(seed: int) -> tuple[pd.DataFrame, dict]:
    p = PARAMS["curate_rewrite"]
    rng = np.random.default_rng([seed, 2])
    docs: list[tuple[list[str], str]] = []
    for c in range(p["dup_clusters"]):
        base = _words(rng, p["doc_words"])
        docs.append((list(base), f"dup{c}"))
        for m in range(1, p["dup_size"]):
            w = list(base)
            at = int(rng.integers(len(w)))
            word = VOCAB[int(rng.integers(len(VOCAB)))]
            if m % 2:
                w[at] = word
            else:
                w.insert(at, word)
            docs.append((w, f"dup{c}"))
    paraphrase = {}
    for g in range(p["para_groups"]):
        base = _words(rng, p["doc_words"])
        for m in range(p["para_size"]):
            # a paraphrase keeps the bag of words and changes the order
            paraphrase[len(docs)] = g
            docs.append(([base[int(i)] for i in rng.permutation(len(base))],
                         f"para{g}.{m}"))
    first_single = len(docs)
    while len(docs) < p["docs"]:
        docs.append((_words(rng, p["doc_words"]), f"single{len(docs)}"))
    # shared passages go into singleton pages only, so the dedup truth
    # is untouched; every repeat_every-th passage appears twice in its
    # first holder
    passage_of = {}
    singles = np.arange(first_single, len(docs))
    holders_all = rng.permutation(singles)
    pos = 0
    for q in range(p["passages"]):
        k = int(rng.integers(p["passage_holders"][0], p["passage_holders"][1] + 1))
        holders = holders_all[pos:pos + k]
        pos += k
        passage = [VOCAB[int(i)] for i in rng.integers(len(VOCAB), size=p["passage_words"])]
        for h_i, h in enumerate(holders):
            words, cluster = docs[int(h)]
            times = 2 if (q % p["repeat_every"] == 0 and h_i == 0) else 1
            for _ in range(times):
                at = int(rng.integers(len(words)))
                words = words[:at] + passage + words[at:]
            docs[int(h)] = (words, cluster)
            passage_of[int(h)] = q
    df = _frame(docs, rng, "c")
    # map planted passages/paraphrases onto the shuffled rows
    order_cluster = {c: i for i, (_, c) in enumerate(docs)}
    idx = df["truth_cluster"].map(order_cluster)
    df["passage"] = idx.map(lambda i: passage_of.get(i, -1)).astype("int64")
    df["para_group"] = idx.map(lambda i: paraphrase.get(i, -1)).astype("int64")
    return df, {**p, "dup_share": p["dup_clusters"] * p["dup_size"] / len(docs),
                "passage_len_chars": p["passage_words"] * 7}


GENERATORS = {"stream_ingest": stream_corpus, "curate_rewrite": curate_corpus}

PAGE_COLS = ["url", "warc_ts", "html", "text", "lang"]
_PAGES_SCHEMA = pa.schema([
    ("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string()),
])


def write_pages(df: pd.DataFrame, path: str, files: int = 4) -> None:
    """Write the pages columns as ``files`` parquet files (one Spark input
    split each)."""
    os.makedirs(path, exist_ok=True)
    for i, part in enumerate(np.array_split(np.arange(len(df)), files)):
        t = pa.Table.from_pandas(
            df.iloc[part][PAGE_COLS], schema=_PAGES_SCHEMA, preserve_index=False
        )
        pq.write_table(t, os.path.join(path, f"part-{i:03d}.parquet"))


def write_corpus(workload: str, seed: int, root: str) -> tuple[pd.DataFrame, dict]:
    """Generate and write one workload's corpus under ``root``: ``pages``
    (or ``pages/batch=<i>`` for stream_ingest) and ``truth.parquet``.
    Returns the truth frame (with the page columns) and the recorded
    corpus properties."""
    df, props = GENERATORS[workload](seed)
    if "batch" in df.columns:
        for b in range(props["batches"]):
            write_pages(df[df["batch"] == b], os.path.join(root, "pages", f"batch={b}"))
    else:
        write_pages(df, os.path.join(root, "pages"))
    df.drop(columns=["html"]).to_parquet(os.path.join(root, "truth.parquet"))
    return df, props
