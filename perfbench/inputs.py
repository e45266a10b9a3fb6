"""Seeded inputs: corpora, request streams and the conveyor's source table.

Everything here is a pure function of the seed, so the same seed gives the
same documents, the same ops in the same order and the same source pages.
The program under test only ever receives these generated inputs.
"""

from __future__ import annotations

import hashlib
import json

import numpy as np
import pandas as pd

from conveyorbelt_spark.corpus import generate_corpus, vocabulary, zipf_probs
from conveyorbelt_spark.textutils import tokenize

LANGS = ("en", "de", "fr", "es")
# numpy's RandomState takes seeds in [0, 2**32). The largest stream seed
# derived here is a burst seed, seed * 1000 + cycle + 303, so a command-line
# seed of any size or sign is folded below 2**22 first.
SEED_SPACE = 2**22


def fold_seed(seed: int) -> int:
    return seed % SEED_SPACE


def corpus_pdf(n_docs: int, seed: int, n_parts: int) -> pd.DataFrame:
    """The driver-side twin of ``corpus_spark_df(spark, n_docs, seed,
    n_parts)``: the same generator, called per partition the same way."""
    per_part = n_docs // n_parts
    return pd.concat(
        [generate_corpus(per_part, seed=seed, part=p) for p in range(n_parts)],
        ignore_index=True,
    )


def frame_digest(pdf: pd.DataFrame) -> str:
    h = hashlib.sha256()
    for col in pdf.columns:
        h.update(col.encode())
        h.update(pd.util.hash_pandas_object(pdf[col].astype(str), index=False).values.tobytes())
    return h.hexdigest()


def ops_digest(ops: list[dict]) -> str:
    return hashlib.sha256(json.dumps(ops, sort_keys=True).encode()).hexdigest()


class TermDraw:
    """Zipf(1.2) draws from the corpus vocabulary, the same law the corpus
    was generated with, so head terms dominate requests as they do text.

    Draws are stratified: a batch of n terms takes one uniform from each
    n-quantile of the law, in random order. Every seed's requests then
    cover head and tail in the same proportions, and run-to-run spread
    comes from the system, not from a lucky draw of head terms."""

    def __init__(self, rng: np.random.RandomState) -> None:
        self.rng = rng
        self.vocab = vocabulary()
        self.cdf = np.cumsum(zipf_probs())

    def _strata(self, n: int) -> np.ndarray:
        return self.rng.permutation((np.arange(n) + self.rng.random_sample(n)) / n)

    def terms(self, n: int) -> list[str]:
        idx = np.minimum(np.searchsorted(self.cdf, self._strata(n)), len(self.vocab) - 1)
        return [str(t) for t in self.vocab[idx]]

    def queries(self, n: int, lo: int, hi: int) -> list[str]:
        """``n`` queries of ``lo``..``hi`` terms, each length equally often."""
        lens = self.rng.permutation(np.resize(np.arange(lo, hi + 1), n))
        it = iter(self.terms(int(lens.sum())))
        return [" ".join(next(it) for _ in range(m)) for m in lens]

    def excluded(self, n: int) -> list[str]:
        """must_not terms from ranks 50-1999: excluding a head term would
        empty nearly every result list."""
        return [str(self.vocab[50 + int(u * 1950)]) for u in self._strata(n)]


def _typo(rng: np.random.RandomState, term: str) -> str:
    """The term with its last digit substituted: an edit-distance-1
    neighbour that a fuzzy query must expand back to real terms. Always the
    last digit, so every typo has the same ten-term neighbourhood shape."""
    d = str((int(term[-1]) + 1 + rng.randint(0, 9)) % 10)
    return term[:-1] + d


def serve_stream(seed: int, texts: list[str], mix: dict[str, int]) -> list[dict]:
    """One pass of the serving request stream: exactly ``mix[op]`` ops of
    each type, in a seeded order."""
    unknown = set(mix) - {"bm25", "docs", "bool", "filtered", "phrase", "fuzzy", "aggs", "dsl"}
    if unknown:
        raise ValueError(f"unknown op types {sorted(unknown)}")
    rng = np.random.RandomState(seed + 101)
    draw = TermDraw(rng)
    ops: list[dict] = []
    for op in ("bm25", "docs"):
        ops += [{"op": op, "q": q} for q in draw.queries(mix.get(op, 0), 1, 4)]
    n = mix.get("bool", 0)
    for q, must, must_not, m in zip(draw.queries(n, 2, 3), draw.terms(n), draw.excluded(n),
                                    rng.permutation(np.resize([0, 1], n))):
        ops.append({"op": "bool", "q": q, "must": must, "must_not": must_not,
                    "min_should": int(m)})
    n = mix.get("dsl", 0)
    for q, must, must_not in zip(draw.queries(n, 2, 3), draw.terms(n), draw.excluded(n)):
        ops.append({"op": "dsl", "q": q, "must": must, "must_not": must_not})
    n = mix.get("filtered", 0)
    for q, lang in zip(draw.queries(n, 1, 3), rng.permutation(np.resize(LANGS, n))):
        ops.append({"op": "filtered", "q": q, "lang": str(lang)})
    ops += [{"op": "fuzzy", "q": _typo(rng, t)} for t in draw.terms(mix.get("fuzzy", 0))]
    ops += [{"op": "aggs", "q": q} for q in draw.queries(mix.get("aggs", 0), 1, 2)]
    for _ in range(mix.get("phrase", 0)):
        toks: list[str] = []
        while len(toks) < 2:
            toks = tokenize(texts[rng.randint(0, len(texts))])
        i = rng.randint(0, len(toks) - 1)
        ops.append({"op": "phrase", "q": f"{toks[i]} {toks[i + 1]}"})
    order = rng.permutation(len(ops))
    return [ops[i] for i in order]


def query_stream(seed: int, n: int) -> list[str]:
    """``n`` seeded BM25 queries of 1-3 Zipf-drawn terms."""
    return TermDraw(np.random.RandomState(seed + 303)).queries(n, 1, 3)


def burst_streams(seed: int, n_cycles: int, n: int) -> list[list[str]]:
    """The conveyor's query bursts: one stratified draw per cycle, so every
    burst mixes head and tail terms alike."""
    return [query_stream(seed * 1000 + c, n) for c in range(n_cycles)]


def source_pages(n_docs: int, seed: int, n_parts: int) -> pd.DataFrame:
    """Raw pages for the conveyor's source table: url, warc_ts, html, lang
    and no text, one page per second of ``warc_ts`` (60 per minute)."""
    return corpus_pdf(n_docs, seed, n_parts).drop(columns=["text"])
