"""Text embedding (SURVEY §2.7 V1).

The reference calls Pinecone's hosted ``multilingual-e5-large`` (dim
1024, utils/upload_data_to_pinecone.py:42-46). The engine ships a
deterministic hashing featurizer so the whole vector path is testable
offline. One kernel, :func:`embed_one`, serves both sides: the index
build maps it over Arrow batches (the only hot-path Python the engine
sanctions, SURVEY §2.9) and a query is embedded on the driver. A
model-backed embedder swaps in behind the same two names.
"""

from __future__ import annotations

import hashlib
import re

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

EMBED_SEED = 11


def embed_one(text: str | None, dim: int = 64) -> list[float]:
    """Hashing featurizer: md5-bucket counts of the lower-cased tokens
    between ASCII whitespace (Java's ``\\s``, as Spark's ``split`` sees
    them: U+00A0 stays inside a token), L2-normalized. Null, empty and
    whitespace-only text give the zero vector."""
    toks = [t for t in re.split(r"\s+", (text or "").lower(), flags=re.ASCII) if t]
    counts = np.zeros(dim, dtype=np.float64)
    for t in toks:
        h = int(hashlib.md5(f"s{EMBED_SEED}:{t}".encode()).hexdigest()[:12], 16)
        counts[h % dim] += 1.0
    norm = float(np.sqrt((counts * counts).sum()))
    return (counts / norm).tolist() if norm > 0 else counts.tolist()


def embed_text_batch(dim: int = 64):
    """Arrow-batched pandas UDF of :func:`embed_one` over a string column."""

    @F.pandas_udf("array<double>")
    def _embed(s: pd.Series) -> pd.Series:
        return s.map(lambda t: embed_one(t, dim))

    return _embed
