"""Seeded synthetic code corpus and query sets for the warehouse benchmark.

Everything here is a pure function of the seed.  The program under test
only ever sees the parquet file written by `write_parquet`; the token-id
arrays stay in the benchmark process, where `model.py` scores against them.

Make-up (see README.md for the figures it yields):
- `content` is lowercase ASCII tokens joined by single spaces, so every
  token is exactly one indexed term at consecutive positions;
- tokens are KEYWORDS (a keyword-like slot of KEYWORD_SHARE of all tokens,
  Zipf s=1 among themselves) or identifiers drawn Zipf(s=ZIPF_S) from a
  pool of POOL identifiers whose spelling and rank order come from the seed;
- document lengths are log-normal (median DOC_LEN_MEDIAN tokens), clipped.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass

import numpy as np

KEYWORDS = (
    "def", "return", "self", "if", "import", "for", "in", "class",
    "none", "else", "while", "try", "with", "from", "true", "false",
)
POOL = 50_000
ZIPF_S = 1.1
KEYWORD_SHARE = 0.2
DOC_LEN_MEDIAN = 60
DOC_LEN_SIGMA = 0.6
DOC_LEN_MIN, DOC_LEN_MAX = 5, 400
LANGS = ("python", "java", "go", "rust", "c", "javascript")

# query classes: tf bands over the generated corpus
ANCHOR_TF = (5, 20)   # rare anchor of a selective query
HOT_SELECTIVE = 100   # hot partners of an anchor come from this many top terms
HOT_BATCH = 40        # hot batch queries draw from this many top terms
PHRASE_MIN_DOCS = 10  # a hot phrase must match at least this many docs
_LETTERS = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", dtype=np.uint8)
_DIGITS = np.frombuffer(b"0123456789", dtype=np.uint8)


@dataclass
class Corpus:
    """Token ids per document (CSR) plus the vocabulary they index."""

    vocab: np.ndarray   # object array of term strings, id -> term
    tokens: np.ndarray  # int32 flat token ids, documents back to back
    offsets: np.ndarray  # int64, len ndocs+1
    docids: np.ndarray  # int64 docid of each document (1-based)

    @property
    def ndocs(self) -> int:
        return len(self.docids)

    @property
    def doclens(self) -> np.ndarray:
        return np.diff(self.offsets)

    def doc_tokens(self, i: int) -> np.ndarray:
        return self.tokens[self.offsets[i]:self.offsets[i + 1]]

    def text(self, i: int) -> str:
        return " ".join(self.vocab[self.doc_tokens(i)])


def _identifiers(rng: np.random.Generator, n: int) -> list[str]:
    """n distinct lowercase identifiers (a letter, then letters, and a
    digit suffix on some), none equal to a keyword."""
    out: list[str] = []
    seen = set(KEYWORDS)
    while len(out) < n:
        m = 2 * (n - len(out)) + 64
        lens = rng.integers(3, 10, size=m)
        letters = _LETTERS[rng.integers(0, 26, size=(m, 10))]
        digit = _DIGITS[rng.integers(0, 10, size=m)]
        has_digit = rng.random(m) < 0.3
        for j in range(m):
            s = letters[j, :lens[j]].tobytes().decode()
            if has_digit[j]:
                s += chr(digit[j])
            if s not in seen:
                seen.add(s)
                out.append(s)
                if len(out) == n:
                    break
    return out


def _zipf_p(n: int, s: float) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    return p / p.sum()


def generate(seed: int, ndocs: int) -> Corpus:
    rng = np.random.default_rng([seed, 0xC0DE])
    vocab = np.array(list(KEYWORDS) + _identifiers(rng, POOL), dtype=object)
    lens = np.clip(
        np.round(rng.lognormal(np.log(DOC_LEN_MEDIAN), DOC_LEN_SIGMA, ndocs)),
        DOC_LEN_MIN, DOC_LEN_MAX,
    ).astype(np.int64)
    total = int(lens.sum())
    kw = rng.random(total) < KEYWORD_SHARE
    ids = np.empty(total, dtype=np.int32)
    nkw = int(kw.sum())
    ids[kw] = rng.choice(len(KEYWORDS), size=nkw, p=_zipf_p(len(KEYWORDS), 1.0))
    ids[~kw] = len(KEYWORDS) + rng.choice(
        POOL, size=total - nkw, p=_zipf_p(POOL, ZIPF_S)
    )
    offsets = np.concatenate(([0], np.cumsum(lens)))
    return Corpus(vocab=vocab, tokens=ids, offsets=offsets,
                  docids=np.arange(1, ndocs + 1, dtype=np.int64))


def to_arrow(corpus: Corpus, seed: int):
    """The program's input table: (docid, repo, path, commit, lang, content)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    rng = np.random.default_rng([seed, 0xF11E])
    n = corpus.ndocs
    words = pa.array(corpus.vocab.tolist(), pa.string()).take(
        pa.array(corpus.tokens)
    )
    content = pc.binary_join(
        pa.ListArray.from_arrays(pa.array(corpus.offsets), words), " "
    )
    repo_no = rng.integers(0, max(1, n // 50), size=n)
    repo = [f"org{r % 97}/repo{r}" for r in repo_no.tolist()]
    path = [f"src/mod{r % 13}/file{i}.src" for i, r in enumerate(repo_no.tolist())]
    commit = [
        hashlib.sha1(f"{seed}:{i}".encode()).hexdigest() for i in range(n)
    ]
    lang = np.array(LANGS, dtype=object)[rng.integers(0, len(LANGS), size=n)]
    return pa.table({
        "docid": pa.array(corpus.docids),
        "repo": pa.array(repo, pa.string()),
        "path": pa.array(path, pa.string()),
        "commit": pa.array(commit, pa.string()),
        "lang": pa.array(lang.tolist(), pa.string()),
        "content": content,
    })


def write_parquet(corpus: Corpus, seed: int, path: str) -> int:
    """Write the input table; returns its size in bytes."""
    import pyarrow.parquet as pq

    pq.write_table(to_arrow(corpus, seed), path)
    return os.path.getsize(path)


# -- query sets ---------------------------------------------------------------

def selective_queries(model, rng: np.random.Generator,
                      partners: list[int]) -> list[list[int]]:
    """One query per entry of `partners`: an anchor (tf in ANCHOR_TF,
    distinct across the set) plus that many distinct terms of the
    HOT_SELECTIVE hottest."""
    lo, hi = ANCHOR_TF
    anchors = np.flatnonzero((model.tf >= lo) & (model.tf <= hi))
    n = len(partners)
    if len(anchors) < n:
        raise ValueError(f"only {len(anchors)} anchor terms for {n} queries")
    picked = rng.choice(anchors, size=n, replace=False)
    hot = model.hottest(HOT_SELECTIVE)
    return [[a] + rng.choice(hot, size=p, replace=False).tolist()
            for a, p in zip(picked.tolist(), partners)]


def hot_queries(model, rng: np.random.Generator, n: int) -> list[list[int]]:
    """n queries of 2-4 distinct terms of the HOT_BATCH hottest."""
    hot = model.hottest(HOT_BATCH)
    return [
        rng.choice(hot, size=int(rng.integers(2, 5)), replace=False).tolist()
        for _ in range(n)
    ]


def hot_phrases(model, rng: np.random.Generator,
                n: int) -> list[tuple[int, int]]:
    """n distinct two-term phrases (a, b), a != b, both among the HOT_BATCH
    hottest, each matching at least PHRASE_MIN_DOCS documents."""
    hot = model.hottest(HOT_BATCH)
    out: list[tuple[int, int]] = []
    seen: set[tuple[int, int]] = set()
    for _ in range(200 * n):
        a, b = (int(x) for x in rng.choice(hot, size=2, replace=False))
        if (a, b) in seen:
            continue
        seen.add((a, b))
        if len(model.phrase_docs(a, b)) >= PHRASE_MIN_DOCS:
            out.append((a, b))
            if len(out) == n:
                return out
    raise ValueError(f"found only {len(out)} hot phrases for {n}")
