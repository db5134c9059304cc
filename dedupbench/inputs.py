"""Seeded workload inputs with planted truth.

- code files come from the program's own `dedup.corpus.generate_corpus`
  (exact, type-2, type-3, boilerplate hot-key family and unique files),
  shuffled with the same seed so any slice holds near-dups of the rest;
- short documents are generated here: 50-550 character word salad over a
  ~30-word vocabulary (the shape of the `documents` table), with planted
  exact copies and one-edit near-dup variants of earlier documents.

Every generator is a pure function of its seed. Truth is one cluster label
per document; pairs inside a label are the planted duplicates.
"""

from __future__ import annotations

import random

import pandas as pd

_VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()

VARIANT_SHARE = 0.05   # one-edit near-dups of an earlier document
COPY_SHARE = 0.01      # byte-identical copies of an earlier document


def _doc(rng: random.Random) -> str:
    target = rng.randrange(50, 551)
    words: list[str] = []
    n = -1
    while n < target:
        w = rng.choice(_VOCAB)
        words.append(w)
        n += len(w) + 1
    return " ".join(words)


def _variant(rng: random.Random, text: str) -> str:
    """One edit that leaves a long common run, so the pair is a near-dup by
    the engine's own rule (Jaccard or common run) at any length."""
    words = text.split(" ")
    extra = rng.choice(_VOCAB)
    kind = rng.randrange(4) if len(text) >= 150 else rng.randrange(2)
    if kind == 0:
        words.append(extra)
    elif kind == 1:
        words.insert(0, extra)
    else:
        # interior edit in the outer fifth, keeping >= 4/5 of the text intact
        span = max(1, len(words) // 5)
        i = rng.randrange(span) if rng.random() < 0.5 else len(words) - 1 - rng.randrange(span)
        if kind == 2:
            words[i] = extra if words[i] != extra else rng.choice(_VOCAB[:-1])
        else:
            del words[i]
    out = " ".join(words)
    return out if out != text else out + " " + extra


def short_docs(n: int, seed: int) -> pd.DataFrame:
    """documents(doc_id, text, truth)."""
    rng = random.Random(seed)
    texts: list[str] = []
    truth: list[int] = []
    bases: list[int] = []
    for i in range(n):
        r = rng.random()
        if bases and r < VARIANT_SHARE + COPY_SHARE:
            b = bases[rng.randrange(len(bases))]
            texts.append(texts[b] if r < COPY_SHARE else _variant(rng, texts[b]))
            truth.append(truth[b])
        else:
            texts.append(_doc(rng))
            truth.append(i)
            bases.append(i)
    return pd.DataFrame({"doc_id": range(n), "text": texts, "truth": truth})


def code_files(n: int, seed: int) -> pd.DataFrame:
    """code_files(repo, path, commit, lang, content, truth), shuffled."""
    from dedup.corpus import generate_corpus

    c = generate_corpus(n, seed=seed)
    files = c.files.assign(truth=c.truth.truth_cluster_id.to_numpy())
    return files.sample(frac=1.0, random_state=seed).reset_index(drop=True)
