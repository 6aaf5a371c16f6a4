"""Seeded input generation for the benchmark workloads.

Everything here is a pure function of a ``numpy.random.Generator``: the
same seed gives byte-identical inputs. The program under test sees only
the parquet files written from these frames.

The document shape follows the engine's sf0.1 ``documents`` table: texts
of 5-95 words drawn from a 30-word vocabulary, five languages, a handful
of sources. ``dup_share`` appends near-duplicate copies (one word
swapped) so MinHash dedup has clusters to collapse.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
NO_MATCH_TERM = "zzznomatch"


def documents(rng: np.random.Generator, n_docs: int,
              dup_share: float = 0.0) -> pd.DataFrame:
    """``(doc_id, text, lang, source, n_chars)``; the last
    ``round(n_docs * dup_share)`` rows are near-duplicates of earlier
    rows (same words, one position replaced)."""
    n_dup = int(round(n_docs * dup_share))
    n_base = n_docs - n_dup
    vocab = np.array(VOCAB)
    lens = rng.integers(5, 96, size=n_base)
    words = [list(vocab[rng.integers(0, len(vocab), size=n)]) for n in lens]
    src = rng.integers(0, n_base, size=n_dup)
    pos = rng.random(n_dup)
    repl = rng.integers(0, len(vocab), size=n_dup)
    for s, p, r in zip(src, pos, repl):
        w = list(words[s])
        w[int(p * len(w))] = vocab[r]
        words.append(w)
    texts = [" ".join(w) for w in words]
    langs = np.array(LANGS)[rng.choice(len(LANGS), size=n_docs, p=LANG_P)]
    return pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": langs,
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def mixture_vectors(rng: np.random.Generator, n: int, dim: int,
                    n_centers: int, spread: float = 0.35) -> np.ndarray:
    """``n`` unit float32 vectors around ``n_centers`` random unit
    centres (a Gaussian mixture on the sphere)."""
    centers = rng.standard_normal((n_centers, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    x = centers[rng.integers(0, n_centers, size=n)]
    x = x + spread * rng.standard_normal((n, dim)) / np.sqrt(dim)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return x.astype(np.float32)


def embeddings(rng: np.random.Generator, n: int, dim: int = 64,
               n_centers: int = 10) -> pd.DataFrame:
    """``(vec_id, embedding)`` like the engine's ``embeddings`` table."""
    vecs = mixture_vectors(rng, n, dim, n_centers)
    return pd.DataFrame({"vec_id": np.arange(n, dtype=np.int64),
                         "embedding": list(vecs)})


def rag_terms(rng: np.random.Generator, n_terms: int) -> list[str]:
    """``n_terms`` distinct corpus-vocabulary terms plus the no-match
    term last."""
    picked = rng.choice(len(VOCAB), size=n_terms, replace=False)
    return [VOCAB[i] for i in sorted(picked)] + [NO_MATCH_TERM]


def write_parquet(df: pd.DataFrame, path: str) -> None:
    """Write ``df``; vector columns as ``list<float>`` like the engine's
    ``embeddings`` table."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    vector_cols = ("embedding", "query_emb")
    table = pa.table({
        c: (pa.array([v.tolist() for v in df[c]], pa.list_(pa.float32()))
            if c in vector_cols else pa.array(df[c]))
        for c in df.columns
    })
    pq.write_table(table, path)
