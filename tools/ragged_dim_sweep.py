"""Ragged-dimension sweep: embedding arrays of the WRONG length,
plus malformed ``events.props`` JSON.

A 100 TB embedding column is never clean: re-embedding migrations mix
model dims, truncation bugs ship short vectors, and empty arrays ride
along. Two engine hazards:

- ANSI ``embedding[i]`` (GetArrayItem) over a ``sequence(0, 63)`` fold
  throws INVALID_ARRAY_INDEX the moment one array is shorter than the
  assumed dim (the bigram_nextword crash class, vector edition).
- numpy kernels that stack a batch (``np.array(list_of_lists)``) crash
  on inhomogeneous shapes, and centroid broadcasts ``(C - v)`` on a
  mismatched v.

Injects into embeddings (~1/8 of rows, cycling dims 0/1/32/63/65/128)
and events.props (~1/5 of rows, cycling ``not json{`` / empty string /
``[]`` / ``{"a":{"b":{"c":1}}}`` / bare number). The ``ragged`` row of
``tools/robustness_matrix.py`` runs the full oracle gate over this
corpus.
"""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pandas as pd

from tools.payload_sweeps import copy_unchanged

RAGGED_DIMS = (0, 1, 32, 63, 65, 128)
BAD_PROPS = ('not json{', '', '[]', '{"a":{"b":{"c":1}}}', '42')


def build_dataset(src: str, dst: Path) -> None:
    emb = pd.read_parquet(f"{src}/embeddings.parquet")
    rng = np.random.default_rng(11)
    vecs = list(emb["embedding"])
    for i in range(0, len(vecs), 8):
        d = RAGGED_DIMS[(i // 8) % len(RAGGED_DIMS)]
        vecs[i] = rng.normal(size=d).astype(np.float32).tolist()
    emb["embedding"] = vecs
    emb.to_parquet(str(dst / "embeddings.parquet"))

    ev = pd.read_parquet(f"{src}/events.parquet")
    props = list(ev["props"])
    for i in range(0, len(props), 5):
        props[i] = BAD_PROPS[(i // 5) % len(BAD_PROPS)]
    ev["props"] = props
    ev.to_parquet(str(dst / "events.parquet"))
    copy_unchanged(src, dst)

