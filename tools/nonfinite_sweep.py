"""Non-finite-float sweep: NaN / +Inf / -Inf in every float payload.

The NULL / empty / hostile-text sweeps covered missing and degenerate
values; this covers the remaining numeric-contract gap: non-finite
floats reaching numpy kernels (cosine norms divide by 0-norm vectors,
NaN poisons argmin/argsort), Spark sort orders (NaN sorts LAST and
NaN==NaN in Spark; DuckDB treats NaN similarly but Inf arithmetic can
raise under ANSI), and window/aggregate arithmetic (Inf - Inf = NaN).

Builds a sweep dataset from sf0.001 with:
  - embeddings: ~1/8 of rows get NaN in one dim, 1/8 get +Inf, 1/8 get
    -Inf, 1/16 get an ALL-NaN vector, 1/16 an all-zero vector (0-norm).
  - events.value: cycle of NaN / +Inf / -Inf / huge (1e308) on ~1/4 rows.
The ``nonfinite`` row of ``tools/robustness_matrix.py`` runs the full
oracle gate over this corpus.
"""

from __future__ import annotations

import math
from pathlib import Path

import numpy as np
import pandas as pd

from tools.payload_sweeps import copy_unchanged


def build_dataset(src: str, dst: Path) -> None:
    emb = pd.read_parquet(f"{src}/embeddings.parquet")
    rng = np.random.default_rng(7)
    vecs = [np.array(v, dtype=np.float32) for v in emb["embedding"]]
    n = len(vecs)
    for i in range(n):
        m = i % 16
        d = int(rng.integers(0, len(vecs[i])))
        if m == 0:
            vecs[i][d] = np.float32("nan")
        elif m == 1:
            vecs[i][d] = np.float32("inf")
        elif m == 2:
            vecs[i][d] = np.float32("-inf")
        elif m == 3:
            vecs[i][:] = np.float32("nan")
        elif m == 4:
            vecs[i][:] = 0.0
    emb["embedding"] = [v.tolist() for v in vecs]
    emb.to_parquet(str(dst / "embeddings.parquet"))

    ev = pd.read_parquet(f"{src}/events.parquet")
    bad = [math.nan, math.inf, -math.inf, 1e308]
    vals = ev["value"].to_numpy(dtype=np.float64, copy=True)
    for i in range(0, len(vals), 4):
        vals[i] = bad[(i // 4) % 4]
    ev["value"] = vals
    ev.to_parquet(str(dst / "events.parquet"))
    copy_unchanged(src, dst)

