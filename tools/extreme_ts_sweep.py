"""Extreme-timestamp/date sweep: sentinel dates real corpora carry.

Production event streams and scraped metadata are full of sentinel
timestamps — 1970-01-01 epoch zeros, 9999-12-31 "never expires",
0001-01-01 parser defaults. Two engine-level hazards:

- ``tables.load`` derives ``ts_ns = unix_micros(ts) * 1000`` — int64
  nanoseconds overflow for any timestamp outside 1677-09-21..2262-04-11,
  so ONE year-9999 row would crash every events query under ANSI.
- date/timestamp spine operators (``sequence(min, max)`` in gap-fill /
  resample / interpolation) build spines proportional to the span —
  a 0001..9999 span is ~3.65M days or ~2.5e11 seconds.

Injects (on ~10%% of rows, cycling): events.ts in
{9999-12-31, 0001-01-01, 2262-04-12 (just past ns-max),
1677-09-21 (just before ns-min), 1970-01-01} and
orders.o_orderdate / lineitem.l_shipdate in {0001-01-01, 9999-12-31}.
The ``extremets`` row of ``tools/robustness_matrix.py`` runs the full
oracle gate over this corpus.
"""

from __future__ import annotations

from pathlib import Path

from tools.payload_sweeps import copy_unchanged


def build_dataset(src: str, dst: Path) -> None:
    import duckdb

    con = duckdb.connect()
    con.sql(
        f"""COPY (SELECT event_id,
          CASE event_id % 50
            WHEN 0 THEN TIMESTAMP '9999-12-31 23:59:59'
            WHEN 10 THEN TIMESTAMP '0001-01-01 00:00:00'
            WHEN 20 THEN TIMESTAMP '2262-04-12 00:00:00'
            WHEN 30 THEN TIMESTAMP '1677-09-21 00:00:00'
            WHEN 40 THEN TIMESTAMP '1970-01-01 00:00:00'
            ELSE ts END AS ts,
          user_id, event_type, value, props
          FROM '{src}/events.parquet')
          TO '{dst}/events.parquet' (FORMAT PARQUET)"""
    )
    con.sql(
        f"""COPY (SELECT * REPLACE (CASE o_orderkey % 40
            WHEN 0 THEN DATE '9999-12-31'
            WHEN 20 THEN DATE '0001-01-01'
            ELSE o_orderdate END AS o_orderdate)
          FROM '{src}/orders.parquet')
          TO '{dst}/orders.parquet' (FORMAT PARQUET)"""
    )
    con.sql(
        f"""COPY (SELECT * REPLACE (
            CASE (l_orderkey * 10 + l_linenumber) % 40
              WHEN 0 THEN DATE '9999-12-31'
              WHEN 20 THEN DATE '0001-01-01'
              ELSE l_shipdate END AS l_shipdate)
          FROM '{src}/lineitem.parquet')
          TO '{dst}/lineitem.parquet' (FORMAT PARQUET)"""
    )
    con.close()
    copy_unchanged(src, dst)

