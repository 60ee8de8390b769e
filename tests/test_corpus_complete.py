"""Every hostile corpus holds every table: each builder writes the
tables it mutates and ``payload_sweeps.copy_unchanged`` copies the
rest, so ``tools/selfcheck.py`` finds all of ``tables.TABLE_NAMES`` in
any robustness-matrix corpus."""

from __future__ import annotations

import inspect

import pytest
from conftest import SF_SMOKE

from llm_batch_processor_spark.tables import TABLE_NAMES
from tools import extreme_ts_sweep, nonfinite_sweep, payload_sweeps, ragged_dim_sweep
from tools.fuzz_corpus import build_fuzz
from tools.robustness_matrix import build_rowperm

CORPORA = {
    **{
        name.removeprefix("build_"): fn
        for name, fn in inspect.getmembers(payload_sweeps, inspect.isfunction)
        if name.startswith("build_")
    },
    "extremets": extreme_ts_sweep.build_dataset,
    "nonfinite": nonfinite_sweep.build_dataset,
    "ragged": ragged_dim_sweep.build_dataset,
    "rowperm": build_rowperm,
    "fuzz": lambda src, dst: build_fuzz(src, dst, 0),
}


@pytest.mark.parametrize("corpus", sorted(CORPORA))
def test_corpus_writes_one_file_per_table(tmp_path, corpus):
    CORPORA[corpus](SF_SMOKE, tmp_path)
    assert sorted(p.name for p in tmp_path.iterdir()) == sorted(
        f"{t}.parquet" for t in TABLE_NAMES
    )
