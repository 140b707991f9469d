"""Seeded workload inputs, cached under ``perfbench/.cache`` by
(workload, seed, size). The same seed always gives the same files; the
program under test only ever sees the files.

Sizes scale with the host's core count (see ``sizes``), so a run keeps the
same work per core on any host and is never tuned to a particular result.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd

#: mixed: extracted turns per core of the host.
MIXED_TURNS_PER_CORE = 2_500
#: dedup: documents (and embeddings) per core of the host.
DEDUP_DOCS_PER_CORE = 125

#: the documents table's vocabulary and shape follow the repo's contract
#: testdata: 10-99 words from 30 short words, five languages, 20 sources.
_DOC_VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
_LANGS = ("en", "de", "es", "fr", "zh")
_EMB_DIM = 64


def sizes(nproc: int) -> dict[str, int]:
    return {
        "mixed_turns": MIXED_TURNS_PER_CORE * nproc,
        "dedup_docs": DEDUP_DOCS_PER_CORE * nproc,
    }


def _publish(tmp: str, final: str) -> str:
    """Rename a finished build into place, so an interrupted build is never
    mistaken for a cached one."""
    if os.path.exists(final):
        shutil.rmtree(tmp, ignore_errors=True)
        return final
    os.replace(tmp, final)
    return final


def mixed_corpus(cache: str, seed: int, n_turns: int) -> str:
    """The fixture tool mix (html/grid/json/plain in equal shares, 5-40
    turns per conversation) from ``ocr_spark.fixtures``; returns its path."""
    from ocr_spark.fixtures import make_transcripts

    n_convs = max(1, round(n_turns / 22.5))  # 22.5 = mean of 5..40 turns
    final = os.path.join(cache, f"mixed-s{seed}-c{n_convs}")
    if os.path.exists(final):
        return final
    tmp = final + f".tmp{os.getpid()}"
    os.makedirs(tmp, exist_ok=True)
    df = make_transcripts(n_convs=n_convs, seed=seed)
    df.to_parquet(os.path.join(tmp, "transcripts.parquet"), index=False)
    return _publish(tmp, final)


def documents(seed: int, n_docs: int) -> pd.DataFrame:
    """Word-salad documents; every 10th document (id % 10 == 7) copies the
    document 7 ids before it with one word swapped for ``dup``, so the
    near-duplicate queries have true pairs to find."""
    rng = np.random.default_rng([seed, 1])
    texts = []
    for i in range(n_docs):
        words = [_DOC_VOCAB[k] for k in rng.integers(0, len(_DOC_VOCAB), int(rng.integers(10, 100)))]
        if i % 10 == 7 and i >= 7:
            words = texts[i - 7].split(" ")
            words[int(rng.integers(0, len(words)))] = "dup"
        texts.append(" ".join(words))
    return pd.DataFrame(
        {
            "doc_id": np.arange(n_docs, dtype="int64"),
            "text": texts,
            "lang": [_LANGS[k] for k in rng.choice(5, n_docs, p=[0.44, 0.14, 0.14, 0.13, 0.15])],
            "source": [f"src{k}" for k in rng.integers(0, 20, n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype="int64"),
        }
    )


def embeddings(seed: int, n_vecs: int) -> pd.DataFrame:
    """Unit vectors; every 10th (id % 10 == 9) is the vector 9 ids before it
    plus small noise, a near-duplicate for the cosine and image-hash queries."""
    rng = np.random.default_rng([seed, 2])
    vecs = rng.standard_normal((n_vecs, _EMB_DIM)).astype("float32")
    for i in range(9, n_vecs, 10):
        vecs[i] = vecs[i - 9] + 0.05 * rng.standard_normal(_EMB_DIM).astype("float32")
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pd.DataFrame(
        {
            "vec_id": np.arange(n_vecs, dtype="int64"),
            "embedding": list(vecs),
            "label": rng.integers(0, 10, n_vecs).astype("int32"),
        }
    )


def dedup_tables(cache: str, seed: int, n_docs: int) -> str:
    """A directory laid out like the contract testdata (one parquet file per
    table) holding ``documents`` and ``embeddings``; returns its path."""
    final = os.path.join(cache, f"dedup-s{seed}-d{n_docs}")
    if os.path.exists(final):
        return final
    tmp = final + f".tmp{os.getpid()}"
    os.makedirs(tmp, exist_ok=True)
    documents(seed, n_docs).to_parquet(os.path.join(tmp, "documents.parquet"), index=False)
    embeddings(seed, n_docs).to_parquet(os.path.join(tmp, "embeddings.parquet"), index=False)
    return _publish(tmp, final)
