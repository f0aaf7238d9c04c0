"""Seeded input generator: corpus, deltas and query mixes.

Everything the program receives is produced here from ``--seed`` during
set-up and written to parquet (documents) or held as pandas frames
(queries), so the same seed always gives the same inputs and no timed
operation generates data.

Corpus shape (one document per conversation turn, doc order =
``(conv_id, turn_idx)``): a Zipf-distributed synthetic vocabulary,
~30% stopword draws, one head term in about half of the turns, some
capitalised words and punctuation, and a few degenerate turns (empty,
all-stopword, single-character tokens, non-ASCII scripts).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

TURNS_PER_CONV = 20
BASE_CONVS = 500            # 10,000 turns in the base corpus
DELTA_CONVS = 25            # 500 turns per serve delta
N_DELTAS = 16
BATCH_SIZE = 1024
N_BATCHES = 16              # batch_query cycles through these
N_SINGLE_QUERIES = 2048     # serve cycles through these
VOCAB_SIZE = 6000
ZIPF_S = 1.1
HEAD_TERM = "telemetry"     # in ~50% of turns: the skewed posting list
OOV_PREFIX = "zzq"          # generated words are consonant-vowel, never "zzq…"

# Lucene's English stopword set, the program's default ("en")
STOPWORDS = (
    "a", "an", "and", "are", "as", "at", "be", "but", "by", "for",
    "if", "in", "into", "is", "it", "no", "not", "of", "on", "or",
    "such", "that", "the", "their", "then", "there", "these", "they",
    "this", "to", "was", "will", "with",
)
_CONSONANTS = "bcdfghjklmnprstvwz"
_VOWELS = "aeiou"
_ROLES = ("user", "assistant", "tool")
_NON_ASCII = (
    "שלום עולם מבחן",
    "你好 世界 测试 文档",
    "Привет мир тест документ",
    "merhaba dünya test belgesi",
)
_SPECIAL_RATE = 0.002       # per kind: empty / all-stopword / 1-char / non-ASCII


@dataclass
class Vocab:
    words: np.ndarray       # rank order: words[0] is the most frequent
    probs: np.ndarray

    def rank(self) -> dict[str, int]:
        return {w: i for i, w in enumerate(self.words)}


def make_vocab(rng: np.random.Generator, size: int = VOCAB_SIZE) -> Vocab:
    stop = set(STOPWORDS)
    seen: set[str] = set()
    words: list[str] = []
    while len(words) < size:
        n_syl = int(rng.integers(2, 5))
        w = "".join(
            _CONSONANTS[rng.integers(len(_CONSONANTS))]
            + _VOWELS[rng.integers(len(_VOWELS))]
            for _ in range(n_syl)
        )
        if w in seen or w in stop or w == HEAD_TERM:
            continue
        seen.add(w)
        words.append(w)
    probs = 1.0 / np.arange(1, size + 1) ** ZIPF_S
    return Vocab(np.array(words, dtype=object), probs / probs.sum())


def _turn_texts(rng: np.random.Generator, vocab: Vocab, n: int) -> list[str]:
    lens = rng.integers(5, 41, n)
    total = int(lens.sum())
    content = vocab.words[rng.choice(len(vocab.words), total, p=vocab.probs)]
    stop_draw = np.array(STOPWORDS, dtype=object)[
        rng.integers(len(STOPWORDS), size=total)
    ]
    words = np.where(rng.random(total) < 0.30, stop_draw, content)
    caps = rng.random(total) < 0.08
    punct = rng.random(total) < 0.05
    head_at = np.where(rng.random(n) < 0.5, rng.integers(0, 41, n), -1)
    texts = []
    off = 0
    for i, ln in enumerate(lens):
        toks = []
        for j in range(off, off + ln):
            w = words[j]
            if caps[j]:
                w = w.capitalize()
            if punct[j]:
                w += ","
            toks.append(w)
        if head_at[i] >= 0:
            toks.insert(min(int(head_at[i]), len(toks)), HEAD_TERM)
        texts.append(" ".join(toks))
        off += ln
    for kind in range(4):
        for i in np.flatnonzero(rng.random(n) < _SPECIAL_RATE):
            texts[i] = (
                "",
                "the and of to a",
                "a b c x",
                _NON_ASCII[int(rng.integers(len(_NON_ASCII)))],
            )[kind]
    return texts


def make_turns(rng: np.random.Generator, vocab: Vocab, first_conv: int,
               n_convs: int, first_doc_id: int | None = None) -> pd.DataFrame:
    """``n_convs`` conversations of ``TURNS_PER_CONV`` turns, rows in doc
    order.  ``first_doc_id`` adds an explicit ``doc_id`` column (deltas
    continue past the index's high-water mark)."""
    n = n_convs * TURNS_PER_CONV
    g = np.arange(n)
    df = pd.DataFrame({
        "conv_id": [f"conv-{first_conv + c:06d}" for c in g // TURNS_PER_CONV],
        "turn_idx": (g % TURNS_PER_CONV).astype("int32"),
        "role": [_ROLES[i % 3] for i in g],
        "text": _turn_texts(rng, vocab, n),
    })
    if first_doc_id is not None:
        df.insert(0, "doc_id", (first_doc_id + g).astype("int64"))
    return df


def make_queries(rng: np.random.Generator, vocab: Vocab, texts: list[str],
                 n: int, prefix: str) -> pd.DataFrame:
    """The reference-style query mix: 70% spans of 3–12 words from a
    document, 10% a document prefix plus one out-of-vocabulary term, 5%
    all-stopword, 5% empty, 10% a single rare term taken from a
    document."""
    rank = vocab.rank()
    nonempty = [t for t in texts if t.split()]
    out = []
    for i in range(n):
        r = rng.random()
        if r < 0.70:
            words = nonempty[rng.integers(len(nonempty))].split()
            span = int(rng.integers(3, max(3, min(12, len(words))) + 1))
            start = int(rng.integers(max(1, len(words) - span + 1)))
            text = " ".join(words[start:start + span])
        elif r < 0.80:
            words = nonempty[rng.integers(len(nonempty))].split()
            oov = OOV_PREFIX + "".join(
                _CONSONANTS[j] for j in rng.integers(len(_CONSONANTS), size=4)
            )
            text = " ".join(words[:5] + [oov])
        elif r < 0.85:
            text = "the and of to a"
        elif r < 0.90:
            text = ""
        else:
            words = nonempty[rng.integers(len(nonempty))].split()
            known = [w.strip(",").lower() for w in words]
            known = [w for w in known if w in rank]
            text = max(known, key=rank.__getitem__) if known else HEAD_TERM
        out.append((f"{prefix}-{i:06d}", text))
    return pd.DataFrame(out, columns=["query_id", "text"])


@dataclass
class Inputs:
    corpus: pd.DataFrame                 # conv_id, turn_idx, role, text
    deltas: list[pd.DataFrame]           # doc_id, conv_id, turn_idx, role, text
    batches: list[pd.DataFrame]          # query_id, text
    singles: pd.DataFrame                # query_id, text


def generate(seed: int, workload: str) -> Inputs:
    rng = np.random.default_rng(seed)
    vocab = make_vocab(rng)
    corpus = make_turns(rng, vocab, 0, BASE_CONVS)
    deltas: list[pd.DataFrame] = []
    batches: list[pd.DataFrame] = []
    singles = pd.DataFrame(columns=["query_id", "text"])
    if workload == "serve":
        next_doc, next_conv = len(corpus), BASE_CONVS
        for _ in range(N_DELTAS):
            d = make_turns(rng, vocab, next_conv, DELTA_CONVS, next_doc)
            deltas.append(d)
            next_doc += len(d)
            next_conv += DELTA_CONVS
        pool = corpus["text"].tolist() + [
            t for d in deltas[:4] for t in d["text"]
        ]
        singles = make_queries(rng, vocab, pool, N_SINGLE_QUERIES, "s")
    else:
        qs = make_queries(rng, vocab, corpus["text"].tolist(),
                          BATCH_SIZE * N_BATCHES, "q")
        batches = [
            qs.iloc[i:i + BATCH_SIZE].reset_index(drop=True)
            for i in range(0, len(qs), BATCH_SIZE)
        ]
    return Inputs(corpus, deltas, batches, singles)
