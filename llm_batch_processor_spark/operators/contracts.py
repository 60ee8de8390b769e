"""Data-contract validators — the prechecks a 100 TB ingest runs once
so every downstream keyed operator can assume its contract.

Motivated by the r6 duplicate-key sweep (`payload_sweeps --mode
dupkeys`, the re-crawl / retry-ingest shape): every query executes
crash-free on colliding primary keys and all but the keyed-ENTITY
families stay oracle-exact — PQ codebooks, kNN neighbor identity, the
near-dup pair/graph queries are semantically underdetermined when
one id names two different payloads ("pair (a, b)" has no single
jaccard when a is two texts). No engine can answer an ill-posed
query; the scalable posture is to validate the key contract at the
pipeline boundary, quarantine violations, and keep the operators
assumption-free-fast. Since r8 the keyed-entity queries are
SELF-DEFENDING: each loads its table with
``tables.load(..., unique=(key,))``, which invokes
:func:`require_unique` once per table snapshot (passes are memoized
beside the table's schema), so on a duplicate-key
corpus they fail typed with :class:`KeyContractError` instead of
returning an underdetermined answer — pinned per-query by
tests/test_dupkeys_contract.py and as a matrix row by
tools/robustness_matrix.py (dupkeys -> exactly that family, typed). (A synthetic per-row id would sidestep dup
keys but `monotonically_increasing_id` is partition-layout-dependent
— it would break the engine's parallelism-invariance guarantee, the
property that local[4]/7-partition runs hash-identically to
local[32]/64.)

Shapes: one map-side-combinable groupBy on the key — the cheapest
possible full-data pass; the violating-key frame is proportional to
VIOLATIONS, not data. `require_unique` collects a bounded sample
(default 20 rows) only on failure.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def unique_key_violations(df: DataFrame, key_cols: list[str]) -> DataFrame:
    """Keys that appear more than once: ``(key_cols..., n_rows)``.

    Empty result == the uniqueness contract holds. One aggregation
    shuffle on the key (partial counts map-side); output bounded by
    the number of VIOLATING keys.
    """
    return (
        df.groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .filter(F.col("n_rows") > 1)
    )


class KeyContractError(ValueError):
    """A key-uniqueness contract failed; carries a bounded sample."""

    def __init__(self, key_cols: list[str], sample: list, sample_rows: int = 20):
        self.key_cols = key_cols
        self.sample = sample
        # the sample came from limit(sample_rows): a full sample means
        # there may be more violations beyond the truncation point
        super().__init__(
            f"duplicate key(s) on {key_cols}: "
            + ", ".join(
                "(" + ", ".join(str(r[c]) for c in key_cols) + f") x{r['n_rows']}"
                for r in sample
            )
            + (" ..." if len(sample) >= sample_rows else "")
        )


def require_unique(
    df: DataFrame, key_cols: list[str], sample_rows: int = 20
) -> DataFrame:
    """Pass ``df`` through untouched if ``key_cols`` is unique; raise
    :class:`KeyContractError` with a bounded violation sample
    otherwise. The gate is one bounded ``limit(sample_rows).collect()``
    over the violations frame — zero cost added to the data path, no
    unbounded driver transfer on pathological inputs.
    """
    sample = unique_key_violations(df, key_cols).limit(sample_rows).collect()
    if sample:
        raise KeyContractError(key_cols, sample, sample_rows)
    return df
