"""Seeded corpus generation for the benchmark.

The ``documents`` table has the engine's declared schema
(``io.TABLE_SCHEMAS["documents"]``) and the value shape of its corpus
fixtures: 10-100 words drawn from a 30-word vocabulary, ~5% planted
near-copies (an original doc plus one appended token) and a few exact
copies, skewed ``lang`` and 20 ``source`` values. Everything comes from
one ``numpy`` generator seeded by the benchmark seed, so the same seed
gives the same rows and another seed gives other rows.

The table is built with ``pyarrow`` (no Spark needed), which keeps
generation well under a second and outside every timed region.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "sort", "spark", "stream",
         "table", "the", "value", "vector", "window", "small"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]


def _choice(rng: np.random.Generator, values: list[str], n: int,
            p: list[float] | None = None) -> pa.Array:
    idx = rng.choice(len(values), n, p=p)
    return pa.array(np.asarray(values, dtype=object)[idx], pa.string())


def documents(n_docs: int, seed: int) -> pa.Table:
    """The ``documents`` table, with planted near and exact copies."""
    rng = np.random.default_rng([seed, 2])
    vocab = np.asarray(VOCAB, dtype=object)
    texts: list[str] = []
    originals: list[int] = []
    for i in range(n_docs):
        u = rng.random()
        # copies are made of original docs only, so every near-dup
        # cluster is a star of depth one and the connected-components
        # rounds do not depend on the seed
        if originals and u < 0.05:
            texts.append(texts[originals[rng.integers(len(originals))]] + " dup")
        elif originals and u < 0.052:
            texts.append(texts[originals[rng.integers(len(originals))]])
        else:
            originals.append(i)
            texts.append(" ".join(vocab[rng.integers(0, len(VOCAB),
                                                     rng.integers(10, 101))]))
    return pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": _choice(rng, LANGS, n_docs, LANG_P),
        "source": pa.array(
            [f"src{k}" for k in rng.integers(0, 20, n_docs)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

