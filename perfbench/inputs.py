"""Seeded inputs for the benchmark: the transcript corpus, the query
lists, and the three small catalog tables (documents, embeddings,
events).

Everything here is a pure function of the seed. The corpus comes from
`fixtures/datagen.py`'s vectorized generator and is made in the
benchmark's own process: Spark workers only receive the generated
table, never the `fixtures` package. Generated inputs are cached by seed under
`.perfbench_cache/`; engine outputs (indexes) are never cached.
"""

from __future__ import annotations

import itertools
from pathlib import Path

import numpy as np
import pandas as pd

from fixtures.datagen import _gen_conv_range, _vocab, _zipf_probs

CACHE = Path(".perfbench_cache")

# The serve traffic's term distributions. There is no public trace of
# queries against agent transcripts, so both are assumptions, and
# gains claimed on the serve workloads hold for them:
# - serve_hot asks about what the transcripts say most: terms in
#   proportion to their corpus frequency, restricted to the head that
#   makes up HOT_MASS of all tokens (127 of the generator's 5000 terms).
#   That is far below the serve tier's 2048-term row LRU
#   (plans/serve.py), so the head stays resident after warm-up.
# - serve_tail draws every vocabulary term equally often, so the
#   distinct terms a run touches exceed the LRU and most lookups read
#   and decode segment rows.
HOT_MASS = 0.7
HOT_TERMS = int(np.searchsorted(np.cumsum(_zipf_probs(len(_vocab()))),
                                HOT_MASS)) + 1

# Query types of the serve loops, one 9-request cycle in a fixed order,
# so every run mixes the kernels in the same shares and its p50 does not
# move with the draw. The shares and shapes are bench.py's mixed batch
# (2 match, 2 phrase, 2 near with slop 3 and 5, 2 bool: should+filter
# and filter+must_not) plus one facet request, the daemon request type
# the batch lacks.
SERVE_CYCLE = ("match", "phrase", "near", "bool", "match", "phrase", "near",
               "bool", "facet")


def corpus(seed: int, n_convs: int) -> pd.DataFrame:
    """Transcript table (conv_id, turn_idx, role, text, tool, ts)."""
    path = CACHE / f"corpus_{seed}_{n_convs}.parquet"
    if path.exists():
        return pd.read_parquet(path)
    df = _gen_conv_range(0, n_convs, seed)
    df["ts"] = df["ts"].astype("datetime64[us]")
    CACHE.mkdir(exist_ok=True)
    tmp = path.with_suffix(".tmp")
    df.to_parquet(tmp, index=False)
    tmp.rename(path)
    return df


def delta(seed: int, base_convs: int, i: int, n_convs: int,
          marker: str) -> pd.DataFrame:
    """The i-th small append batch: fresh conversations after the base
    range, with `marker` (a token no other turn holds) appended to the
    first turn so the batch's visibility can be observed."""
    start = base_convs + i * n_convs
    df = _gen_conv_range(start, start + n_convs, seed)
    df["ts"] = df["ts"].astype("datetime64[us]")
    df.loc[0, "text"] = df.loc[0, "text"] + " " + marker
    return df


def _term_blocks(rng, vocab, probs):
    """Endless term draws in blocks: each block holds every term in
    proportion to `probs` (largest-remainder quotas), shuffled. Unlike
    independent draws, a run's term frequencies then do not vary from
    seed to seed, so neither does its share of costly terms."""
    block = max(len(vocab), 1000)
    quota = probs * block
    counts = np.floor(quota).astype(int)
    short = block - counts.sum()
    counts[np.argsort(counts - quota)[:short]] += 1
    multiset = np.repeat(np.arange(len(vocab)), counts)
    while True:
        for i in rng.permutation(multiset):
            yield str(vocab[i])


def request_stream(seed: int, stream: int, tail: bool):
    """Endless daemon request bodies. Hot: terms from the Zipf head
    only, in Zipf proportions. Tail: every vocabulary term equally
    often, so the distinct terms a run touches exceed the term-row LRU.
    Query texts are mostly distinct, so the daemon's 256-entry request
    cache rarely hits. `stream` separates the warm-up, 1-connection and
    2-connection streams."""
    rng = np.random.default_rng([seed, stream, int(tail)])
    vocab = _vocab()
    if tail:
        probs = np.full(len(vocab), 1.0 / len(vocab))
    else:
        vocab = vocab[:HOT_TERMS]
        probs = _zipf_probs(len(_vocab()))[:HOT_TERMS]
        probs = probs / probs.sum()
    terms = _term_blocks(rng, vocab, probs)

    def words(m: int) -> list[str]:
        out: list[str] = []
        while len(out) < m:
            t = next(terms)
            if t not in out:
                out.append(t)
        return out

    for i in itertools.count():
        t = SERVE_CYCLE[i % len(SERVE_CYCLE)]
        second = i % len(SERVE_CYCLE) >= 4  # the cycle's second half
        if t == "match":
            # 1-4 terms, the range of bench.py's match queries
            yield {"type": "match",
                   "q": " ".join(words(int(rng.integers(1, 5)))), "k": 10}
        elif t == "phrase":
            yield {"type": "phrase", "q": " ".join(words(2)), "k": 10}
        elif t == "near":
            yield {"type": "near", "q": " ".join(words(2)),
                   "slop": 5 if second else 3, "k": 10}
        elif t == "bool" and not second:
            a, b, c = words(3)
            yield {"type": "bool", "should": f"{a} {b}", "filter": c,
                   "k": 10}
        elif t == "bool":
            a, b, c = words(3)
            yield {"type": "bool", "filter": f"{a} {b}", "must_not": c,
                   "k": 10}
        else:
            a, b = words(2)
            yield {"type": "facet", "should": f"{a} {b}", "field": "role"}


def request_terms(req: dict) -> set[str]:
    return set(" ".join(str(req.get(f, "")) for f in
                        ("q", "should", "filter", "must_not")).split())


# ---- catalog tables (the schemas the catalog leaves read) ----

DOC_WORDS = np.array(
    "a the spark merge table scan key agg row slow fast value part hash "
    "batch window order data column join small line customer query big "
    "stream sort filter group vector".split())
LANGS = np.array(["en", "en", "en", "zh", "es", "de", "fr"])
EVENT_TYPES = np.array(["view", "click", "purchase", "signup", "error"])


def catalog_dir(seed: int, n_docs: int = 1000, n_vecs: int = 500,
                n_events: int = 10_000) -> str:
    """Write documents / embeddings / events parquet for `seed` (cached)
    and return the directory. One in ten documents and embeddings is a
    near copy of an earlier one, so the dedup and cosine-dup leaves
    return pairs."""
    d = CACHE / f"catalog_{seed}_{n_docs}_{n_vecs}_{n_events}"
    if (d / "events.parquet").exists():
        return str(d)
    rng = np.random.default_rng([seed, 7])
    d.mkdir(parents=True, exist_ok=True)

    texts = []
    for i in range(n_docs):
        if i >= 10 and rng.random() < 0.1:
            src = texts[int(rng.integers(0, i))].split()
            j = int(rng.integers(0, len(src)))
            src[j] = str(DOC_WORDS[int(rng.integers(0, len(DOC_WORDS)))])
            texts.append(" ".join(src))
        else:
            n = int(rng.integers(8, 80))
            texts.append(" ".join(DOC_WORDS[rng.integers(0, len(DOC_WORDS),
                                                         size=n)]))
    docs = pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": LANGS[rng.integers(0, len(LANGS), size=n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })

    centers = rng.normal(size=(10, 64))
    labels = rng.integers(0, 10, size=n_vecs).astype(np.int32)
    vecs = centers[labels] * 0.3 + rng.normal(size=(n_vecs, 64))
    for i in range(10, n_vecs):
        if rng.random() < 0.1:
            vecs[i] = vecs[int(rng.integers(0, i))] + rng.normal(
                scale=0.05, size=64)
    emb = pd.DataFrame({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": [v.astype(np.float32) for v in vecs * 0.1],
        "label": labels,
    })

    gaps = rng.exponential(scale=260.0, size=n_events)
    ts = (np.datetime64("2024-01-01T00:00:00", "us")
          + (np.cumsum(gaps) * 1e6).astype("timedelta64[us]"))
    events = pd.DataFrame({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, 150, size=n_events).astype(np.int64),
        "event_type": EVENT_TYPES[rng.integers(0, 5, size=n_events)],
        "value": np.round(rng.uniform(0, 20, size=n_events), 2),
        "props": [f'{{"k": {int(k)}}}'
                  for k in rng.integers(0, 100, size=n_events)],
    })

    docs.to_parquet(d / "documents.parquet", index=False)
    emb.to_parquet(d / "embeddings.parquet", index=False)
    events.to_parquet(d / "events.parquet", index=False)
    return str(d)
