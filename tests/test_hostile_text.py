"""Hostile-text contract: the driver's synthetic corpus is
punctuation-free ASCII word soup, which hid three latent crashes
(regexp_extract_all default group index; sequence(1, size-1)
descending to [1, 0] on one-token docs; ANSI CAST of non-'srcN'
source names). This suite runs a representative query subset over a
corpus of unicode / RTL / emoji / regex-metachar / control-char /
empty / whitespace-only / single-token / giant documents — no query
may crash. The full 272-query hostile sweep is run out-of-band
(BASELINE.md r5: 0 failures)."""

from __future__ import annotations

import datetime

import pandas as pd
import pytest

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

# every documents-reading family, plus the three fixed crashers
PROBE = [
    "bigram_nextword", "bigram_xent", "corpus_mix",  # r5 hostile fixes
    "quality_filter", "pipeline_curate",  # r5 regex-group fixes
    "text_stats", "lang_id", "token_count_bpe", "doc_fingerprint",
    "dedup_exact", "dedup_minhash", "dedup_ngram_jaccard",
    "tokenizer_pair_counts", "skipgram_pairs", "bpe_train_merges",
    "sentence_split", "readability_score", "pretokenize_gpt",
    "contamination_ngram", "pii_redact", "text_normalize",
    "ngram_counts", "entropy_score", "repetition_ratio",
    "chunk_overlap", "collocations_pmi", "extractive_summary",
    "boilerplate_ngram", "perplexity_unigram", "vocab_coverage",
]


@pytest.fixture(scope="module")
def hostile_dir(tmp_path_factory):
    import shutil

    d = tmp_path_factory.mktemp("hostile")
    for t in (
        "region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "embeddings",
    ):
        shutil.copy(f"/root/testdata/sf0.001/{t}.parquet", str(d / f"{t}.parquet"))
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
    pd.DataFrame(rows).to_parquet(str(d / "documents.parquet"))
    return str(d)


def test_hostile_text_contract(spark, hostile_dir):
    from llm_batch_processor_spark.queries import all_queries

    qs = all_queries()
    for name in PROBE:
        n = qs[name].fn(spark, hostile_dir).count()
        assert n >= 0, name


def test_multimodal_resize_digest_is_byte_exact_on_multibyte(spark, hostile_dir):
    """The r6 hostile residual, closed in r7 (VERDICT item 5): the
    resize digest is md5 over the HEX encoding of the resized BYTES,
    so a 3072-byte truncation that splits a multibyte char has an
    exact SQL twin (hex truncation at 6144 chars == byte truncation
    at 3072). Pin the engine side against hashlib ground truth for
    the Japanese doc (3-byte chars: 3072 % 3 != 0 splits a char) and
    the empty doc (zero-fill fallback)."""
    import hashlib

    from llm_batch_processor_spark.queries import all_queries

    out = {
        r["media_id"]: r["content_md5"]
        for r in all_queries()["multimodal_resize"].fn(spark, hostile_dir).collect()
    }
    ja = HOSTILE_TEXTS[1].encode("utf-8")
    cycled = (ja * (3072 // len(ja) + 1))[:3072]
    assert out["1"] == hashlib.md5(cycled.hex().upper().encode()).hexdigest()
    zero = b"\x00" * 3072
    assert out["8"] == hashlib.md5(zero.hex().upper().encode()).hexdigest()


def test_bigram_single_token_docs_produce_no_pairs(spark, hostile_dir):
    """The fixed contract: 1-token / empty docs contribute zero
    bigrams (DuckDB's range(1,1) semantics), never an ANSI index
    error."""
    from llm_batch_processor_spark.queries import all_queries

    rows = all_queries()["bigram_nextword"].fn(spark, hostile_dir).collect()
    ws = {r["w1"] for r in rows}
    assert "a" not in ws  # the 1-token doc produced no pair
    assert len(rows) > 0  # multi-token docs still do


@pytest.fixture(scope="module")
def nulls_dir(tmp_path_factory):
    """sf0.001 with NULLs injected into every nullable payload column
    (text/lang/source/n_chars, events value/props, embeddings
    embedding/label); keys stay non-null."""
    import shutil

    import duckdb

    d = tmp_path_factory.mktemp("nulls")
    con = duckdb.connect()
    src = "/root/testdata/sf0.001"
    con.sql(
        f"""COPY (SELECT doc_id,
            CASE WHEN doc_id %% 7 = 3 THEN NULL ELSE text END AS text,
            CASE WHEN doc_id %% 7 = 5 THEN NULL ELSE lang END AS lang,
            CASE WHEN doc_id %% 7 = 6 THEN NULL ELSE source END AS source,
            CASE WHEN doc_id %% 7 = 3 THEN NULL ELSE n_chars END AS n_chars
            FROM '{src}/documents.parquet')
            TO '{d}/documents.parquet' (FORMAT PARQUET)""".replace("%%", "%")
    )
    con.sql(
        f"""COPY (SELECT event_id, ts, user_id, event_type,
            CASE WHEN event_id % 5 = 2 THEN NULL ELSE value END AS value,
            CASE WHEN event_id % 5 = 4 THEN NULL ELSE props END AS props
            FROM '{src}/events.parquet')
            TO '{d}/events.parquet' (FORMAT PARQUET)"""
    )
    con.sql(
        f"""COPY (SELECT vec_id,
            CASE WHEN vec_id % 11 = 7 THEN NULL ELSE embedding END AS embedding,
            CASE WHEN vec_id % 11 = 9 THEN NULL ELSE label END AS label
            FROM '{src}/embeddings.parquet')
            TO '{d}/embeddings.parquet' (FORMAT PARQUET)"""
    )
    con.close()
    for t in (
        "region", "nation", "customer", "supplier", "part", "orders",
        "lineitem",
    ):
        shutil.copy(f"{src}/{t}.parquet", str(d / f"{t}.parquet"))
    return str(d)


NULL_PROBE = [
    # the 8 null-input crashers fixed in r5
    "embedding_pq_assign", "drift_ks", "dedup_embed_cosine",
    "sim_ann_lsh", "sim_ann_ivf", "multimodal_meta",
    "multimodal_frames", "dedup_semantic_pipeline",
    # representatives whose inputs now carry nulls
    "sim_topk", "knn_classify", "mmr_rerank", "quality_filter",
    "text_stats", "json_funcs", "agg_global", "tumbling_window",
]


def test_null_input_contract(spark, nulls_dir):
    """NULL payloads (text / embedding / value / props) are dropped or
    passed through as null metadata at operator entry — never a worker
    crash. Full 272-query null sweep: 0 failures (BASELINE.md r5)."""
    from llm_batch_processor_spark.queries import all_queries

    qs = all_queries()
    for name in NULL_PROBE:
        n = qs[name].fn(spark, nulls_dir).count()
        assert n >= 0, name


@pytest.fixture(scope="module")
def nonfinite_dir(tmp_path_factory):
    """sf0.001 with NaN / +-Inf / all-NaN / all-zero vectors in
    embeddings and NaN / +-Inf / 1e308 in events.value (the
    non-finite-sweep dataset, built by the same tool)."""
    from tools.nonfinite_sweep import build_dataset

    d = tmp_path_factory.mktemp("nonfinite")
    build_dataset("/root/testdata/sf0.001", d)
    return str(d)


NONFINITE_PROBE = [
    # the 6 non-finite crashers fixed in r5
    "sim_topk", "knn_classify", "mmr_rerank", "embedding_silhouette",
    "win_rolling_anomaly", "join_range_banded",
    # representatives whose inputs now carry non-finite floats
    "sim_ann_lsh", "sim_ann_ivf", "dedup_embed_cosine",
    "dedup_semantic_pipeline", "embedding_pq_assign", "drift_ks",
    "agg_stats", "win_rank", "anomaly_iqr", "resample_ohlc",
]


def test_nonfinite_input_contract(spark, nonfinite_dir):
    """Non-finite floats (NaN/Inf embeddings dims, zero-norm vectors,
    NaN/Inf/1e308 event values) never crash a query: cosine kernels
    drop unembeddable vectors at entry, DECIMAL folds TRY_CAST, band
    joins clamp to sentinel bins. Full 272-query non-finite sweep:
    0 failures (BASELINE.md r5)."""
    from llm_batch_processor_spark.queries import all_queries

    qs = all_queries()
    for name in NONFINITE_PROBE:
        n = qs[name].fn(spark, nonfinite_dir).count()
        assert n >= 0, name


def test_nonfinite_vector_kernels_gate_corrupt_vectors(spark, nonfinite_dir):
    """r7 nonfinite PARITY pins (the crash bar above is weaker): the
    batch vector kernels gate null-element / non-finite vectors at
    ENTRY. Ungated, numpy's argmin returns the FIRST NaN index, so one
    corrupt CODEBOOK centroid would assign every row in the corpus to
    an arbitrary code — the gate is the difference between dropping
    corrupt rows and corrupting the whole assignment. Note: pandas ->
    parquet writes NaN vector dims as NULL list elements, so that is
    the shape real ingested embeddings have."""
    from llm_batch_processor_spark.queries import all_queries

    qs = all_queries()
    # corpus: 16-cycle mutation -> vec 0 has a NULL dim, 1/2 have Inf
    # dims, 3 is all-NULL. None may appear as a pq row or code. Vec 4
    # (all-ZERO) is corrupt for COSINE but perfectly assignable under
    # L2 — the pq/kmeans gate must keep it (only embeddable() kernels
    # drop zero-norm).
    pq = qs["embedding_pq_assign"].fn(spark, nonfinite_dir).collect()
    bad = {0, 1, 2, 3}
    ids = {r["vec_id"] for r in pq}
    assert pq, "gated kernel still assigns the clean corpus"
    assert not bad & ids and not bad & {r["code"] for r in pq}
    assert 4 in ids  # zero vector stays assignable
    assert all(r["d2"] is not None and r["d2"] >= 0 for r in pq)
    # analogy: source vec 0 is corrupt -> target unembeddable -> the
    # whole query emits nothing rather than ranking NULL-sim noise
    assert qs["embedding_analogy"].fn(spark, nonfinite_dir).count() == 0
    # mmr: query vec 0 is corrupt -> nothing to rank
    assert qs["mmr_rerank"].fn(spark, nonfinite_dir).count() == 0


@pytest.fixture(scope="module")
def extreme_ts_dir(tmp_path_factory):
    """sf0.001 with sentinel timestamps (9999-12-31, 0001-01-01,
    2262-04-12, 1677-09-21, 1970-01-01) in events.ts and extreme dates
    in orders/lineitem (the extreme-ts-sweep dataset, same tool)."""
    from tools.extreme_ts_sweep import build_dataset

    d = tmp_path_factory.mktemp("extreme_ts")
    build_dataset("/root/testdata/sf0.001", d)
    return str(d)


EXTREME_TS_PROBE = [
    # representatives of the 21 extreme-ts crashers fixed in r5 (all
    # one root cause: the unclamped ts_ns multiply in tables.load)
    "session_window", "tumbling_window", "time_weighted_avg",
    "win_rolling_anomaly", "event_transitions", "attribution_linear",
    "theilsen_trend", "conversion_lag", "sliding_distinct_users",
    # date-spine / date-arithmetic representatives
    "gap_fill_days", "resample_ohlc", "date_funcs", "seasonality_profile",
]


def test_extreme_timestamp_contract(spark, extreme_ts_dir):
    """Sentinel timestamps outside the int64-nanosecond range
    (0001-01-01 defaults, 9999-12-31 "never expires") never crash:
    tables.load clamps the micros->nanos multiply, so every events
    consumer inherits the fix. Full 272-query extreme-ts sweep:
    0 failures (BASELINE.md r5)."""
    from llm_batch_processor_spark.queries import all_queries

    qs = all_queries()
    for name in EXTREME_TS_PROBE:
        n = qs[name].fn(spark, extreme_ts_dir).count()
        assert n >= 0, name


def test_ts_ns_clamp_preserves_order(spark, extreme_ts_dir):
    """Out-of-ns-range timestamps clamp to the int64 rails but keep
    correct ts_ns ORDER relative to in-range rows, and in-range rows
    keep exact micros*1000 nanos."""
    from llm_batch_processor_spark.tables import load

    e = load(spark, extreme_ts_dir, "events").select("ts", "ts_ns")
    rows = e.collect()
    in_range = [r for r in rows if 1678 <= r["ts"].year <= 2261]
    assert in_range, "sweep dataset must keep normal rows"
    for r in in_range[:100]:
        import calendar

        us = calendar.timegm(r["ts"].timetuple()) * 1_000_000 + r["ts"].microsecond
        assert r["ts_ns"] == us * 1000
    hi = [r["ts_ns"] for r in rows if r["ts"].year == 9999]
    lo = [r["ts_ns"] for r in rows if r["ts"].year == 1]
    mid_max = max(r["ts_ns"] for r in in_range)
    mid_min = min(r["ts_ns"] for r in in_range)
    assert hi and lo
    assert all(h > mid_max for h in hi)
    assert all(low < mid_min for low in lo)


def test_zero_norm_vectors_unrankable(spark):
    """The embeddable() contract pin: a zero-norm or NaN vector is
    dropped at kernel entry — it appears neither as a query nor as a
    neighbor, and finite vectors still rank (no ANSI DIVIDE_BY_ZERO)."""
    from llm_batch_processor_spark.operators.similarity import brute_force_topk

    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),
        (2, [0.0, 0.0, 0.0]),          # zero norm
        (3, [float("nan"), 1.0, 0.0]),  # NaN dim
        (4, [0.0, 1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = df.select(df.vec_id.alias("query_id"), "embedding")
    out = brute_force_topk(df, q, k=10).collect()
    ids = {r["query_id"] for r in out} | {r["neighbor_id"] for r in out}
    assert ids == {0, 1, 4}


def test_rollup_family_empty_input_is_empty_and_oracle_mirrors(spark, tmp_path):
    """Spark-vs-ANSI divergence pinned (r7 empty-corpus parity gate):
    Spark's ROLLUP/CUBE/GROUPING SETS of an EMPTY relation emit zero
    rows, while ANSI/DuckDB emit the () grand-total row (count 0).
    The engine's declared semantics are Spark SQL's; the oracles
    mirror them with HAVING COUNT(*) > 0, which is a no-op on any
    non-empty corpus (every real group aggregates >= 1 row)."""
    import duckdb

    from llm_batch_processor_spark.queries import all_queries
    from tools.payload_sweeps import build_empty

    d = tmp_path / "empty"
    d.mkdir()
    build_empty("/root/testdata/sf0.001", d)
    qs = all_queries()
    con = duckdb.connect()
    for t in ("customer", "nation", "region", "lineitem", "orders", "events"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{d}/{t}.parquet')"
        )
    from __spark_entry__ import oracle_sql

    sqls = oracle_sql()
    for name in (
        "agg_rollup", "agg_cube", "agg_grouping_sets", "simpson_paradox_audit"
    ):
        assert qs[name].fn(spark, str(d)).count() == 0, name  # Spark semantics
        assert len(con.execute(sqls[name]).fetchall()) == 0, name  # mirrored


# Divergence class found by fuzz seeds 8/9 (user/type skew): a
# degenerate A/B split where EVERY user converts (or none does) makes
# the pooled p-hat exactly 0 or 1, so SE_pooled is exactly 0.0 —
# Spark's ANSI division raised DIVIDE_BY_ZERO where DuckDB's IEEE
# double division yields NaN. Both engines now guard se = 0 to a NULL
# z (the z-test is undefined at a degenerate split).
def _degenerate_events(spark, tmp_path, n_users=4, purchases_per_user=20):
    """Every user has >= 14 purchase events -> pooled conversion = 1."""
    rows = []
    t0 = datetime.datetime(2024, 1, 1)
    eid = 0
    for u in range(n_users):
        for k in range(purchases_per_user):
            rows.append(
                (
                    eid,
                    u,
                    "purchase",
                    t0 + datetime.timedelta(minutes=eid),
                    1.0,
                    "{}",
                )
            )
            eid += 1
    df = spark.createDataFrame(
        rows,
        "event_id LONG, user_id LONG, event_type STRING, "
        "ts TIMESTAMP_NTZ, value DOUBLE, props STRING",
    )
    out = str(tmp_path / "events.parquet")
    df.write.mode("overwrite").parquet(out)
    return str(tmp_path)


def test_ab_test_degenerate_split_yields_null_z(spark, tmp_path):
    from llm_batch_processor_spark.queries import all_queries

    sf_dir = _degenerate_events(spark, tmp_path)
    rows = all_queries()["ab_test_proportions"].fn(spark, sf_dir).collect()
    assert len(rows) == 1
    r = rows[0]
    # both variants exist and fully convert -> p0 = p1 = 1.0, z NULL
    assert r["c0"] == r["n0"] and r["c1"] == r["n1"]
    assert r["p0"] == 1.0 and r["p1"] == 1.0
    assert r["z"] is None


def test_ab_test_oracle_agrees_on_degenerate_split(spark, tmp_path):
    """The DuckDB oracle must produce the identical NULL-z row."""
    import duckdb
    import math

    import __spark_entry__ as entry

    sf_dir = _degenerate_events(spark, tmp_path)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{sf_dir}/events.parquet/*.parquet')"
    )
    pdf = con.execute(entry.oracle_sql()["ab_test_proportions"]).df()
    assert len(pdf) == 1
    z = pdf["z"].iloc[0]
    assert z is None or (isinstance(z, float) and math.isnan(z))
    assert float(pdf["p0"].iloc[0]) == 1.0
    assert float(pdf["p1"].iloc[0]) == 1.0


def test_empty_input_contract(spark, tmp_path):
    """Empty daily partitions are routine in production: every query
    must return a valid (possibly empty) result on schema-identical
    empty tables, never crash. The full 272-query empty sweep runs in
    tools (BASELINE.md r5); this pins the three fixed crashers (sink
    read-back schema inference, IVF training on an empty sample) plus
    one representative per family."""
    import duckdb

    con = duckdb.connect()
    for t in (
        "region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings",
    ):
        con.sql(
            f"COPY (SELECT * FROM '/root/testdata/sf0.01/{t}.parquet' "
            f"LIMIT 0) TO '{tmp_path}/{t}.parquet' (FORMAT PARQUET)"
        )
    con.close()
    from llm_batch_processor_spark.queries import all_queries

    qs = all_queries()
    probe = [
        # the three empty-input crashers fixed in r5
        "sink_parquet_clustered", "sink_parquet_partitioned", "sim_ann_ivf",
        # one representative per family
        "agg_group", "win_rank", "join_inner_hash", "dedup_exact",
        "dedup_minhash", "sim_topk", "text_stats", "pipeline_curate",
        "session_window", "multimodal_meta", "llm_map_mock",
        "graph_pagerank", "rfm_segmentation", "bootstrap_ci_det",
        "embedding_pq_assign", "feature_variance_audit",
    ]
    for name in probe:
        n = qs[name].fn(spark, str(tmp_path)).count()
        assert n >= 0, name
