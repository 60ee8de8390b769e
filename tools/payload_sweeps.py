"""Hostile-corpus builders: NULL payloads, hostile text, empty tables,
pathological key skew, duplicate keys, extreme keys/money/ints and the
combined-hazard corpus.

Each ``build_<name>(src, dst)`` writes into ``dst`` the tables it
mutates and ends with :func:`copy_unchanged`, which copies every other
table from ``src``. ``tools/robustness_matrix.py`` runs the full oracle
gate (``tools/selfcheck.py``, which materializes every result with
``toPandas()``) over each corpus as one matrix row.
"""

from __future__ import annotations

import shutil
from pathlib import Path

from llm_batch_processor_spark.tables import TABLE_NAMES

HOSTILE_TEXTS = [
    "ordinary ascii words repeated words repeated words for baseline",
    "日本語のテキストです 形態素解析は難しい 単語 分割",
    "emoji soup \U0001F389\U0001F38A\U0001F973 mixed with words \U0001F680",
    "regex meta $^.*+?()[]{}|\\ chars embedded (in) [the] {text} a.b c*d",
    "backslash \\n literal and tab\there and newline\nyes inside",
    "مرحبا بالعالم نص عربي من اليمين إلى اليسار mixed in",
    "a",
    "   ",
    "",
    "x" * 5000,
    ("tok " * 400).strip(),
    "word \x00nul \x01soh \x7fdel ctrlchars embedded",
    "quotes \"double\" and 'single' and `backtick` and “smart”",
    "html <div class=\"x\">tags</div> &amp; entities &#123; inside",
    "url https://ex.am/ple?q=1&r=2#frag and email a.b@c-d.ef in text",
]


def copy_unchanged(src: str, dst: Path) -> None:
    """Copy from ``src`` every ``TABLE_NAMES`` table the builder did not
    write into ``dst``, so each corpus holds the full schema."""
    for t in TABLE_NAMES:
        out = Path(dst) / f"{t}.parquet"
        if not out.exists():
            shutil.copy(f"{src}/{t}.parquet", str(out))


def build_nulls(src: str, dst: Path) -> None:
    """NULLs in every nullable payload column; keys stay non-null
    (the r5 NULL-input sweep dataset)."""
    import duckdb

    con = duckdb.connect()
    con.sql(
        f"""COPY (SELECT doc_id,
            CASE WHEN doc_id % 7 = 3 THEN NULL ELSE text END AS text,
            CASE WHEN doc_id % 7 = 5 THEN NULL ELSE lang END AS lang,
            CASE WHEN doc_id % 7 = 6 THEN NULL ELSE source END AS source,
            CASE WHEN doc_id % 7 = 3 THEN NULL ELSE n_chars END AS n_chars
            FROM '{src}/documents.parquet')
            TO '{dst}/documents.parquet' (FORMAT PARQUET)"""
    )
    con.sql(
        f"""COPY (SELECT event_id, ts, user_id, event_type,
            CASE WHEN event_id % 5 = 2 THEN NULL ELSE value END AS value,
            CASE WHEN event_id % 5 = 4 THEN NULL ELSE props END AS props
            FROM '{src}/events.parquet')
            TO '{dst}/events.parquet' (FORMAT PARQUET)"""
    )
    con.sql(
        f"""COPY (SELECT vec_id,
            CASE WHEN vec_id % 11 = 7 THEN NULL ELSE embedding END AS embedding,
            CASE WHEN vec_id % 11 = 9 THEN NULL ELSE label END AS label
            FROM '{src}/embeddings.parquet')
            TO '{dst}/embeddings.parquet' (FORMAT PARQUET)"""
    )
    con.close()
    copy_unchanged(src, dst)


def build_hostile(src: str, dst: Path) -> None:
    """documents replaced by the unicode/RTL/emoji/metachar corpus
    (the r5 hostile-text sweep dataset)."""
    import pandas as pd

    rows = [
        {
            "doc_id": i,
            "text": t,
            "lang": ["en", "ja", "und", "ar"][i % 4],
            "source": ["web", "books", "code"][i % 3],
            "n_chars": len(t),
        }
        for i, t in enumerate(HOSTILE_TEXTS)
    ]
    pd.DataFrame(rows).to_parquet(str(dst / "documents.parquet"))
    copy_unchanged(src, dst)


def build_skew(src: str, dst: Path) -> None:
    """Pathological key skew — THE 100 TB hazard class: one dominant
    group everywhere. All documents one lang/source and half of them
    byte-identical text (one giant dedup group); all events one
    user/event_type (one session, one window partition); all
    embeddings one label; lineitem/orders re-keyed so ~half of all
    rows land on a single join/agg key. Crash-free execution proves
    the salted/banded/bounded kernels hold when every 'uniform'
    assumption breaks at once."""
    import duckdb

    con = duckdb.connect()
    con.sql(
        f"""COPY (SELECT doc_id,
            CASE WHEN doc_id % 2 = 0
                 THEN 'the same boilerplate page every crawler saw'
                 ELSE text END AS text,
            'en' AS lang, 'src0' AS source,
            CASE WHEN doc_id % 2 = 0 THEN 43 ELSE n_chars END AS n_chars
            FROM '{src}/documents.parquet')
            TO '{dst}/documents.parquet' (FORMAT PARQUET)"""
    )
    con.sql(
        f"""COPY (SELECT event_id, ts, 0 AS user_id,
            'click' AS event_type, value, props
            FROM '{src}/events.parquet')
            TO '{dst}/events.parquet' (FORMAT PARQUET)"""
    )
    con.sql(
        f"""COPY (SELECT vec_id, embedding, 'label_0' AS label
            FROM '{src}/embeddings.parquet')
            TO '{dst}/embeddings.parquet' (FORMAT PARQUET)"""
    )
    con.sql(
        f"""COPY (SELECT * REPLACE (
            CASE WHEN l_orderkey % 2 = 0 THEN 1 ELSE l_partkey END
              AS l_partkey,
            CASE WHEN l_orderkey % 2 = 0 THEN 1 ELSE l_suppkey END
              AS l_suppkey)
            FROM '{src}/lineitem.parquet')
            TO '{dst}/lineitem.parquet' (FORMAT PARQUET)"""
    )
    con.sql(
        f"""COPY (SELECT * REPLACE (
            CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE o_custkey END
              AS o_custkey)
            FROM '{src}/orders.parquet')
            TO '{dst}/orders.parquet' (FORMAT PARQUET)"""
    )
    con.close()
    copy_unchanged(src, dst)


def build_empty(src: str, dst: Path) -> None:
    """Schema-identical EMPTY tables — the daily-empty-partition case
    (the r5 empty-input sweep dataset)."""
    import duckdb

    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.sql(
            f"""COPY (SELECT * FROM '{src}/{t}.parquet' WHERE 1 = 0)
                TO '{dst}/{t}.parquet' (FORMAT PARQUET)"""
        )
    con.close()


def build_dupkeys(src: str, dst: Path) -> None:
    """Duplicate PRIMARY-KEY values — the re-crawl / retry-ingest /
    at-least-once-delivery shape every real pipeline sees: ~10% of
    ids collide with an EXISTING lower id while both rows keep their
    own payloads. Stresses two assumption classes: (a) id-uniqueness
    (dedup reps, joins fan out, "per-id" aggregations see 2 rows),
    (b) ORDER-BY-id determinism (window/order ties between two rows
    with the same key — any query whose result depends on tie ORDER
    rather than tie-insensitive math diverges between engines, which
    is exactly the partition-order hazard a cluster run has).
    Crash-freedom here + selfcheck parity on the same dir is the bar."""
    import duckdb

    con = duckdb.connect()
    con.sql(
        f"""COPY (SELECT
            CASE WHEN doc_id % 10 = 7 THEN doc_id - 5 ELSE doc_id END AS doc_id,
            text, lang, source, n_chars
            FROM '{src}/documents.parquet')
            TO '{dst}/documents.parquet' (FORMAT PARQUET)"""
    )
    con.sql(
        f"""COPY (SELECT
            CASE WHEN vec_id % 10 = 7 THEN vec_id - 5 ELSE vec_id END AS vec_id,
            embedding, label
            FROM '{src}/embeddings.parquet')
            TO '{dst}/embeddings.parquet' (FORMAT PARQUET)"""
    )
    con.sql(
        f"""COPY (SELECT
            CASE WHEN event_id % 10 = 7 THEN event_id - 5 ELSE event_id END
              AS event_id,
            ts, user_id, event_type, value, props
            FROM '{src}/events.parquet')
            TO '{dst}/events.parquet' (FORMAT PARQUET)"""
    )
    con.sql(
        f"""COPY (SELECT
            CASE WHEN o_orderkey % 10 = 7 THEN o_orderkey - 5
                 ELSE o_orderkey END AS o_orderkey,
            o_custkey, o_orderstatus, o_totalprice, o_orderdate,
            o_orderpriority
            FROM '{src}/orders.parquet')
            TO '{dst}/orders.parquet' (FORMAT PARQUET)"""
    )
    con.close()
    copy_unchanged(src, dst)


def build_extremekeys(src: str, dst: Path) -> None:
    """Extreme INTEGER keys — ids near int64 max and negative ids, the
    synthetic-id shapes real pipelines mint (snowflake ids ~2^63,
    hash-derived ids that went negative, tombstone sentinels): ~10% of
    ids remap to ``int64_max - id`` and another ~10% to ``-id`` (both
    bijective — uniqueness preserved; orders and lineitem transform
    o_orderkey/l_orderkey IDENTICALLY so join pairs survive). Stresses
    ANSI arithmetic ON KEYS: any ``id * c`` / ``id + c`` fold
    overflows at the rail, any ``sequence(min_id, max_id)`` explodes,
    ``%`` of a negative dividend flips sign (Spark and DuckDB both
    keep the dividend sign — but any engine-side pmod/hash-bucket
    mixing diverges), and min/max-id canonicalization meets negative
    representatives."""
    import duckdb

    i64 = 9223372036854775807
    remap = (
        f"CASE WHEN {{c}} % 10 = 7 THEN {i64} - {{c}} "
        f"WHEN {{c}} % 10 = 3 THEN -{{c}} ELSE {{c}} END"
    )
    con = duckdb.connect()
    con.sql(
        f"""COPY (SELECT {remap.format(c='doc_id')} AS doc_id,
            text, lang, source, n_chars
            FROM '{src}/documents.parquet')
            TO '{dst}/documents.parquet' (FORMAT PARQUET)"""
    )
    con.sql(
        f"""COPY (SELECT {remap.format(c='vec_id')} AS vec_id,
            embedding, label
            FROM '{src}/embeddings.parquet')
            TO '{dst}/embeddings.parquet' (FORMAT PARQUET)"""
    )
    con.sql(
        f"""COPY (SELECT {remap.format(c='event_id')} AS event_id,
            ts, {remap.format(c='user_id')} AS user_id,
            event_type, value, props
            FROM '{src}/events.parquet')
            TO '{dst}/events.parquet' (FORMAT PARQUET)"""
    )
    con.sql(
        f"""COPY (SELECT {remap.format(c='o_orderkey')} AS o_orderkey,
            o_custkey, o_orderstatus, o_totalprice, o_orderdate,
            o_orderpriority
            FROM '{src}/orders.parquet')
            TO '{dst}/orders.parquet' (FORMAT PARQUET)"""
    )
    con.sql(
        f"""COPY (SELECT * REPLACE (
            {remap.format(c='l_orderkey')} AS l_orderkey)
            FROM '{src}/lineitem.parquet')
            TO '{dst}/lineitem.parquet' (FORMAT PARQUET)"""
    )
    con.close()
    copy_unchanged(src, dst)


def build_extrememoney(src: str, dst: Path) -> None:
    """Hostile values in every FINANCIAL double column — the one payload
    family no prior domain mutated (nonfinite covered events.value and
    embeddings only). Real ledgers deliver all of these: zero and
    negative amounts (refunds, chargebacks, corrections), discounts
    outside [0,1] (promo stacking bugs), DECIMAL(18,6)-rail magnitudes
    (FX conversions of hyperinflated currencies), sub-cent dust, and
    NaN/Inf from upstream float bugs. Stresses the engine-wide
    dsum/davg TRY_CAST DECIMAL fold contract (ROBUSTNESS.md) on the
    columns it was actually written for, plus every ratio/margin
    query's division guards ((1-discount) hits exact zero, totals hit
    exact zero) and every money-ordered ranking's tie-break totality
    (mass ties on 0.0). Keys, dates and text stay pristine — a
    divergence here is a money-arithmetic divergence, nothing else."""
    import duckdb

    # cycle lanes are sparse (~1/5 of rows mutated) so aggregates keep
    # non-degenerate mass; the DECIMAL(18,6) rail is 999999999999.999999
    # and the over-rail lane (1e13) must TRY_CAST to NULL identically
    # in both engines
    money = (
        "CASE {k} % 25 "
        "WHEN 0 THEN 0.0 "
        "WHEN 5 THEN -98765.432101 "
        "WHEN 10 THEN 999999999999.999999 "
        "WHEN 15 THEN 0.000001 "
        "WHEN 20 THEN 10000000000000.0 "
        "ELSE {c} END"
    )
    nonfin = (
        "CASE {k} % 40 "
        "WHEN 7 THEN 'nan'::DOUBLE "
        "WHEN 17 THEN 'infinity'::DOUBLE "
        "WHEN 27 THEN '-infinity'::DOUBLE "
        "ELSE {c} END"
    )
    con = duckdb.connect()
    lk = "(l_orderkey * 10 + l_linenumber)"
    con.sql(
        f"""COPY (SELECT * REPLACE (
            CASE {lk} % 30 WHEN 0 THEN 0.0 WHEN 10 THEN -5.0
              WHEN 20 THEN 1000000.0 ELSE l_quantity END AS l_quantity,
            {nonfin.format(k=lk, c=money.format(k=lk, c='l_extendedprice'))}
              AS l_extendedprice,
            CASE {lk} % 35 WHEN 0 THEN -0.5 WHEN 7 THEN 1.5
              WHEN 14 THEN 1.0 ELSE l_discount END AS l_discount,
            CASE {lk} % 45 WHEN 0 THEN 9.99 WHEN 9 THEN -0.1
              ELSE l_tax END AS l_tax)
            FROM '{src}/lineitem.parquet')
            TO '{dst}/lineitem.parquet' (FORMAT PARQUET)"""
    )
    con.sql(
        f"""COPY (SELECT * REPLACE (
            {nonfin.format(k='o_orderkey', c=money.format(k='o_orderkey', c='o_totalprice'))}
              AS o_totalprice)
            FROM '{src}/orders.parquet')
            TO '{dst}/orders.parquet' (FORMAT PARQUET)"""
    )
    con.sql(
        f"""COPY (SELECT * REPLACE (
            {money.format(k='c_custkey', c='c_acctbal')} AS c_acctbal)
            FROM '{src}/customer.parquet')
            TO '{dst}/customer.parquet' (FORMAT PARQUET)"""
    )
    con.sql(
        f"""COPY (SELECT * REPLACE (
            {money.format(k='s_suppkey', c='s_acctbal')} AS s_acctbal)
            FROM '{src}/supplier.parquet')
            TO '{dst}/supplier.parquet' (FORMAT PARQUET)"""
    )
    con.sql(
        f"""COPY (SELECT * REPLACE (
            {money.format(k='p_partkey', c='p_retailprice')} AS p_retailprice)
            FROM '{src}/part.parquet')
            TO '{dst}/part.parquet' (FORMAT PARQUET)"""
    )
    # TRUE-NaN lanes written through duckdb (pandas-written NaN arrives
    # as parquet NULL — the nonfinite corpus documents that shape; THIS
    # corpus is the one place a real IEEE NaN payload reaches the
    # oracles' value sites and the vector kernels' isfinite gates)
    con.sql(
        f"""COPY (SELECT event_id, ts, user_id, event_type,
            {nonfin.format(k='event_id', c='value')} AS value, props
            FROM '{src}/events.parquet')
            TO '{dst}/events.parquet' (FORMAT PARQUET)"""
    )
    con.sql(
        f"""COPY (SELECT vec_id,
            CASE WHEN vec_id % 13 = 5
                 THEN list_transform(embedding,
                        (x, i) -> CASE WHEN i = 4 THEN 'nan'::FLOAT
                                       WHEN i = 9 THEN 'infinity'::FLOAT
                                       ELSE x END)
                 ELSE embedding END AS embedding,
            label
            FROM '{src}/embeddings.parquet')
            TO '{dst}/embeddings.parquet' (FORMAT PARQUET)"""
    )
    con.close()
    copy_unchanged(src, dst)


def build_extremeints(src: str, dst: Path) -> None:
    """Hostile INTEGER payload values — the counted-quantity analog of
    extrememoney: documents.n_chars and part.p_size get negative /
    zero / int32-rail / near-int64-scale lanes while keys, text and
    every other column stay pristine (a divergence here is integer
    arithmetic, nothing else). Real pipelines mint these: a signed
    overflow in an upstream byte counter (negative sizes), empty docs
    (0), int32 sentinel values (2147483647 = "unknown"), and corrupt
    64-bit lengths. Exercises: DIV-vs-floor division on NEGATIVE
    running sums (Spark's DIV truncates toward zero, DuckDB's //
    floors — they differ exactly on negatives), negative/huge bin
    indexes in the binpack/shard planners, length-percentile bands,
    and weight math in the corpus mixers. The huge lane is int64max/1e6
    (~9.2e12) so corpus SUMs stay inside int64 — the int64-SUM-overflow
    posture (DuckDB sums BIGINT into HUGEINT and cannot overflow;
    Spark raises under ANSI) is a documented structural difference,
    not a parity target."""
    import duckdb

    con = duckdb.connect()
    con.sql(
        f"""COPY (SELECT doc_id, text, lang, source,
            CAST(CASE doc_id % 17
              WHEN 2 THEN -n_chars
              WHEN 5 THEN 0
              WHEN 8 THEN 2147483647
              WHEN 11 THEN 9223372036854
              ELSE n_chars END AS BIGINT) AS n_chars
            FROM '{src}/documents.parquet')
            TO '{dst}/documents.parquet' (FORMAT PARQUET)"""
    )
    con.sql(
        f"""COPY (SELECT * REPLACE (
            CAST(CASE p_partkey % 13
              WHEN 3 THEN -p_size
              WHEN 7 THEN 0
              WHEN 11 THEN 2147483647
              ELSE p_size END AS INT) AS p_size)
            FROM '{src}/part.parquet')
            TO '{dst}/part.parquet' (FORMAT PARQUET)"""
    )
    con.close()
    copy_unchanged(src, dst)


def build_combined(src: str, dst: Path) -> None:
    """EVERY compatible hazard class at once — the interaction domain.

    Each single-hazard corpus proves one failure class in isolation;
    real ingest delivers them together (a skewed re-crawl with NULL
    payloads, snowflake ids, broken props JSON and a few Inf sensor
    values is an ordinary Tuesday). Hazard interactions can break code
    that every isolated sweep passes — e.g. a NULL-guard that assumes
    uniform keys, or a non-finite gate that assumes fixed-dim vectors.

    Composition (keys stay UNIQUE — the dupkeys contract class is
    deliberately excluded so full oracle parity remains the bar; empty
    is excluded because nothing composes with it):

    - ids: the extremekeys bijective remap (int64-rail + negative) on
      every primary/foreign key pair, conditions below use ORIGINAL ids;
    - documents: 1/7 NULL text/n_chars, half the remainder one
      byte-identical boilerplate page (skew clique), ~1/13 hostile
      unicode/RTL/metachar corpus texts, lang/source skewed to a single
      value with 1/7 NULLs;
    - events: extreme-ts cycle (epoch rails / ns-rails / 9999) + ALL
      rows one user/event_type (skew), 1/5 NULL value/props, remaining
      value lane cycling +-Inf / 1e308 / NaN-as-NULL (nonfinite),
      malformed props JSON cycle (ragged);
    - embeddings: 1/11 NULL embedding/label, single label (skew),
      nonfinite dim injections incl. all-NaN and zero vectors, ragged
      lengths 0/1/32/63/65/128;
    - orders/lineitem: skewed join keys (half of custkey/partkey/
      suppkey on one value) + extreme o_orderdate/l_shipdate rails.
    """
    import math

    import duckdb
    import numpy as np
    import pandas as pd

    i64 = 9223372036854775807
    remap = (
        f"CASE WHEN {{c}} % 10 = 7 THEN {i64} - {{c}} "
        f"WHEN {{c}} % 10 = 3 THEN -{{c}} ELSE {{c}} END"
    )
    con = duckdb.connect()
    hostile = pd.DataFrame(
        {"idx": range(len(HOSTILE_TEXTS)), "htext": HOSTILE_TEXTS}
    )
    con.register("hostile", hostile)
    con.sql(
        f"""COPY (SELECT {remap.format(c='doc_id')} AS doc_id,
            CASE WHEN doc_id % 7 = 3 THEN NULL
                 WHEN doc_id % 2 = 0
                   THEN 'the same boilerplate page every crawler saw'
                 WHEN doc_id % 13 = 1 THEN h.htext
                 ELSE d.text END AS text,
            CASE WHEN doc_id % 7 = 5 THEN NULL ELSE 'en' END AS lang,
            CASE WHEN doc_id % 7 = 6 THEN NULL ELSE 'src0' END AS source,
            CAST(CASE WHEN doc_id % 7 = 3 THEN NULL
                 WHEN doc_id % 2 = 0 THEN 43
                 WHEN doc_id % 13 = 1 THEN length(h.htext)
                 ELSE d.n_chars END AS BIGINT) AS n_chars
            FROM '{src}/documents.parquet' d
            LEFT JOIN hostile h ON h.idx = d.doc_id % {len(HOSTILE_TEXTS)})
            TO '{dst}/documents.parquet' (FORMAT PARQUET)"""
    )
    con.sql(
        f"""COPY (SELECT {remap.format(c='event_id')} AS event_id,
            CASE event_id % 50
              WHEN 0 THEN TIMESTAMP '9999-12-31 23:59:59'
              WHEN 10 THEN TIMESTAMP '0001-01-01 00:00:00'
              WHEN 20 THEN TIMESTAMP '2262-04-12 00:00:00'
              WHEN 30 THEN TIMESTAMP '1677-09-21 00:00:00'
              WHEN 40 THEN TIMESTAMP '1970-01-01 00:00:00'
              ELSE ts END AS ts,
            0 AS user_id, 'click' AS event_type,
            CASE WHEN event_id % 5 = 2 THEN NULL ELSE value END AS value,
            CASE WHEN event_id % 5 = 4 THEN NULL ELSE props END AS props
            FROM '{src}/events.parquet')
            TO '{dst}/events.parquet' (FORMAT PARQUET)"""
    )
    con.sql(
        f"""COPY (SELECT {remap.format(c='o_orderkey')} AS o_orderkey,
            CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE o_custkey END
              AS o_custkey,
            o_orderstatus, o_totalprice,
            CASE o_orderkey % 40
              WHEN 0 THEN DATE '9999-12-31'
              WHEN 20 THEN DATE '0001-01-01'
              ELSE o_orderdate END AS o_orderdate,
            o_orderpriority
            FROM '{src}/orders.parquet')
            TO '{dst}/orders.parquet' (FORMAT PARQUET)"""
    )
    con.sql(
        f"""COPY (SELECT * REPLACE (
            {remap.format(c='l_orderkey')} AS l_orderkey,
            CASE WHEN l_orderkey % 2 = 0 THEN 1 ELSE l_partkey END
              AS l_partkey,
            CASE WHEN l_orderkey % 2 = 0 THEN 1 ELSE l_suppkey END
              AS l_suppkey,
            CASE (l_orderkey * 10 + l_linenumber) % 40
              WHEN 0 THEN DATE '9999-12-31'
              WHEN 20 THEN DATE '0001-01-01'
              ELSE l_shipdate END AS l_shipdate)
            FROM '{src}/lineitem.parquet')
            TO '{dst}/lineitem.parquet' (FORMAT PARQUET)"""
    )
    con.close()

    # embeddings + the events value/props lanes mirror the nonfinite /
    # ragged builders byte-for-byte (same seeds, same cycles) so the
    # NaN-writes-as-NULL parquet semantics match those domains exactly
    emb = pd.read_parquet(f"{src}/embeddings.parquet")
    orig_vid = emb["vec_id"].to_numpy(copy=True)
    rng_nf = np.random.default_rng(7)
    rng_rg = np.random.default_rng(11)
    from tools.ragged_dim_sweep import RAGGED_DIMS

    vecs = [np.array(v, dtype=np.float32) for v in emb["embedding"]]
    out_vecs: list = []
    for i, vid in enumerate(orig_vid):
        d_nf = int(rng_nf.integers(0, len(vecs[i])))  # keep rng stream aligned
        if vid % 11 == 7:
            out_vecs.append(None)
            continue
        m = i % 16
        if m == 0:
            vecs[i][d_nf] = np.float32("nan")
        elif m == 1:
            vecs[i][d_nf] = np.float32("inf")
        elif m == 2:
            vecs[i][d_nf] = np.float32("-inf")
        elif m == 3:
            vecs[i][:] = np.float32("nan")
        elif m == 4:
            vecs[i][:] = 0.0
        elif m == 8 and i % 8 == 0:
            vecs[i] = rng_rg.normal(size=RAGGED_DIMS[(i // 8) % len(RAGGED_DIMS)]).astype(
                np.float32
            )
        out_vecs.append(vecs[i].tolist())
    emb["vec_id"] = [
        i64 - v if v % 10 == 7 else (-v if v % 10 == 3 else v) for v in orig_vid
    ]
    emb["embedding"] = out_vecs
    emb["label"] = [None if v % 11 == 9 else "label_0" for v in orig_vid]
    emb.to_parquet(str(dst / "embeddings.parquet"))

    ev = pd.read_parquet(f"{dst}/events.parquet")
    bad = [math.nan, math.inf, -math.inf, 1e308]
    vals = ev["value"].to_numpy(dtype=np.float64, copy=True)
    for i in range(0, len(vals), 4):
        if not np.isnan(vals[i]):  # keep the 1/5 NULL lane NULL
            vals[i] = bad[(i // 4) % 4]
    ev["value"] = vals
    from tools.ragged_dim_sweep import BAD_PROPS

    props = list(ev["props"])
    for i in range(0, len(props), 5):
        if props[i] is not None:
            props[i] = BAD_PROPS[(i // 5) % len(BAD_PROPS)]
    ev["props"] = props
    ev.to_parquet(str(dst / "events.parquet"))
    copy_unchanged(src, dst)

