"""The sf0.1-sized tables the query suite reads, generated from a seed.

The rows come from ``tools/make_sf_analog.py``'s generators, which follow
the shape of the sf0.1 test data: documents draw 10..100 words from a
30-word vocabulary with ~0.3 % planted exact duplicates, and embeddings
are unit-normalised 64-d vectors.  The same seed always writes the same
bytes.
"""

from __future__ import annotations

import contextlib
import os
import sys

from tools.make_sf_analog import gen_documents, gen_embeddings

# sf0.1 row counts
ROWS = {"documents": 5_000, "embeddings": 2_000}


def write_suite_tables(out_dir: str, seed: int, scale: float = 1.0) -> str:
    """Write <out_dir>/documents.parquet and <out_dir>/embeddings.parquet;
    `scale` shrinks every row count (self-check only)."""
    rows = {k: max(50, int(v * scale)) for k, v in ROWS.items()}
    os.makedirs(out_dir, exist_ok=True)
    # the generators report row counts on stdout, whose last line is the result
    with contextlib.redirect_stdout(sys.stderr):
        gen_documents(rows["documents"], out_dir, seed=seed)
        gen_embeddings(rows["embeddings"], out_dir, seed=seed)
    return out_dir
