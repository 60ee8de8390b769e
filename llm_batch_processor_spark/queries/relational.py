"""Relational inventory B1–B6: scans, scalar functions, joins, aggregation,
windows, sort/limit/set ops.

All Catalyst built-ins — no Python in the data path. The hard part is
oracle parity (DuckDB semantic drift); see module docstring of
``queries/__init__``.

Reference parity notes: the reference engine has *no* relational
operators at all (SURVEY.md §2 Part A, verified over
``lib/job_processor.rb`` + ``bin/job.rb``); this module is the
north-star extension mandated by BASELINE.json.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..tables import load
from . import Registry

Q = Registry()

# ---------------------------------------------------------------------------
# shared exact-aggregation helpers (Spark side: F.expr; oracle: same SQL text)
# ---------------------------------------------------------------------------

# Scale 6: the testdata money/rate columns carry <=2 decimal digits, so
# products of three of them carry <=6 — a DECIMAL(18,6) cast is exact
# (no rounding, hence no HALF_UP-vs-double-rounding drift between Spark
# and DuckDB at tie points, which scale 4 hits systematically).
DEC = "DECIMAL(18,6)"


def dsum(expr: str, alias: str) -> str:
    """Order-independent sum of a double expression: per-row exact cast to
    DECIMAL(18,6) (deterministic given identical input bits), exact
    decimal summation, deterministic cast back to double. A NaN/Inf/
    out-of-DECIMAL value contributes no mass instead of raising under
    ANSI — the engine-wide decimal-fold contract. Engine side that is
    one TRY_CAST; the oracle needs the isfinite CASE in front because
    DuckDB's TRY_CAST(NaN/Inf AS DECIMAL) RAISES (measured; DECIMAL is
    INT64-backed) where Spark's try_cast NULLs — found on events.value
    by the r7 non-finite gate, and on every money column by the r7
    extreme-money gate (the helpers were never NaN-exposed before).

    The DOUBLE conversion goes through the VARCHAR hop: DuckDB's direct
    CAST(DECIMAL AS DOUBLE) multiplies the scaled int128 by 1e-6 and
    double-rounds above 2^53 (the r6 extreme-ts finding), which the
    extreme-money corpus hits on every rail-magnitude sum; the hop is
    correctly rounded, same as Spark's BigDecimal.doubleValue, and
    identical to the direct cast below 2^53.

    The INPUT conversion goes through a VARCHAR hop too: Spark's
    double->DECIMAL cast is BigDecimal(Double.toString(d)) — it rounds
    the SHORTEST DECIMAL REPR of the double half-up at scale 6 — while
    DuckDB's direct cast rounds the BINARY value; products landing on a
    7th-decimal tie (1446 lineitem rows at sf0.1 extreme-money) round
    apart. DuckDB's CAST(DOUBLE AS VARCHAR) emits the same shortest
    repr and its VARCHAR->DECIMAL parse is half-up (measured), so the
    hop reproduces Spark's conversion bit-for-bit."""
    return (
        f"CAST(CAST(SUM(TRY_CAST(CAST((CASE WHEN isfinite({expr}) THEN ({expr}) END)"
        f" AS VARCHAR) AS {DEC})) AS VARCHAR) AS DOUBLE) AS {alias}"
    )


def davg(expr: str, alias: str) -> str:
    """Exact-sum / count — one double division, no accumulation order.

    floor(x*1e4 + 0.5)/1e4, not ROUND(x, 4): the quotient of an exact
    decimal sum by a count can land EXACTLY on a 4th-decimal half
    (fuzz seed 2 hit 38.00375), where Spark's BigDecimal HALF_UP and
    DuckDB's binary-double ROUND disagree by 1e-4. The floor form is
    pure IEEE double ops — bit-identical — and safe here because the
    argument is rail-bounded money/quantity (TRY_CAST drops over-rail
    mass, so |avg| <= 1e12 and avg*1e4 stays far inside int64 where
    Spark's BIGINT floor is exact; NaN/Inf cannot reach it).

    Semantic note (ADVICE r9): for NEGATIVE arguments this floor form
    rounds halves toward +infinity (-0.00005 -> 0.0), where ROUND is
    half-away-from-zero (-0.0001). Negative money does occur (fuzz
    MONEY_POOL); both engines apply the IDENTICAL expression, so
    cross-engine parity holds by construction — the snap defines the
    query's rounding semantics rather than approximating ROUND's."""
    return (
        f"floor(CAST(CAST(SUM(TRY_CAST(CAST((CASE WHEN isfinite({expr}) THEN ({expr})"
        f" END) AS VARCHAR) AS {DEC})) AS VARCHAR) AS DOUBLE) / COUNT(*)"
        f" * 10000 + 0.5) / 10000 AS {alias}"
    )


# ===========================================================================
# B1 — scans / sources / sinks (sink/jsonl variants live in queries/llm.py)
# ===========================================================================


@Q.add(
    "scan_parquet",
    """
    SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity,
           l_returnflag
    FROM lineitem
    """,
    doc="full parquet scan + column-pruned projection",
)
def scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "l_quantity", "l_returnflag"
    )


def _tmp_dir(name: str, sf_dir: str) -> str:
    import os
    import tempfile

    tag = os.path.basename(os.path.normpath(sf_dir))
    return os.path.join(tempfile.gettempdir(), f"llm_bps_{name}_{tag}")


@Q.add(
    "scan_csv",
    f"""
    SELECT l_returnflag,
           COUNT(*) AS n_rows,
           {dsum("l_quantity", "sum_qty")},
           {dsum("l_extendedprice", "sum_price")},
           strftime(CAST(MIN(l_shipdate) AS DATE), '%Y-%m-%d') AS min_ship,
           strftime(CAST(MAX(l_shipdate) AS DATE), '%Y-%m-%d') AS max_ship
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="CSV source round-trip fidelity: lineitem projected to "
    "int/double/string/date columns, written as headered CSV, read back "
    "with an explicit schema, aggregated — hash-equality with the oracle "
    "running the same aggregate on the original parquet proves the text "
    "round-trip is lossless (Java shortest-repr doubles, ISO dates)",
)
def scan_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    out_dir = _tmp_dir("scan_csv", sf_dir)
    shutil.rmtree(out_dir, ignore_errors=True)
    l = load(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        "l_extendedprice",
        "l_returnflag",
        F.col("l_shipdate").cast("date").alias("l_shipdate"),
    )
    l.write.mode("overwrite").option("header", True).csv(out_dir)
    back = (
        spark.read.schema(
            "l_orderkey bigint, l_linenumber int, l_quantity double, "
            "l_extendedprice double, l_returnflag string, l_shipdate date"
        )
        .option("header", True)
        .csv(out_dir)
    )
    return back.groupBy("l_returnflag").agg(
        F.count("*").alias("n_rows"),
        F.expr(f"CAST(SUM(TRY_CAST((l_quantity) AS {DEC})) AS DOUBLE)").alias("sum_qty"),
        F.expr(f"CAST(SUM(TRY_CAST((l_extendedprice) AS {DEC})) AS DOUBLE)").alias(
            "sum_price"
        ),
        F.date_format(F.min("l_shipdate"), "yyyy-MM-dd").alias("min_ship"),
        F.date_format(F.max("l_shipdate"), "yyyy-MM-dd").alias("max_ship"),
    )


@Q.add(
    "sink_parquet_partitioned",
    """
    SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           MIN(doc_id) AS min_doc_id
    FROM documents
    GROUP BY lang
    """,
    doc="partitioned parquet sink: documents written partitionBy(lang) — "
    "the hive-style layout a 100 TB corpus needs for partition pruning — "
    "then read back and aggregated per partition value; hash-equality "
    "proves the partition-column round-trip (value <-> directory string) "
    "is lossless",
)
def sink_parquet_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    out_dir = _tmp_dir("sink_parquet_part", sf_dir)
    shutil.rmtree(out_dir, ignore_errors=True)
    d = load(spark, sf_dir, "documents")
    d.write.mode("overwrite").partitionBy("lang").parquet(out_dir)
    # explicit schema: an empty input writes zero data files and
    # schema inference would fail on the read-back (empty daily
    # partitions are routine; the empty-input sweep pins this)
    back = spark.read.schema(d.schema).parquet(out_dir)
    return back.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.min("doc_id").alias("min_doc_id"),
    )


# ===========================================================================
# B2 — projection / filter / scalar functions
# ===========================================================================


@Q.add(
    "filter_pred",
    """
    SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
    FROM lineitem
    WHERE (l_quantity BETWEEN 10 AND 20 AND l_returnflag IN ('A','R'))
       OR (l_discount > 0.09 AND l_shipdate IS NOT NULL AND l_tax <= 0.02)
    """,
    doc="conjunctive/disjunctive predicates, BETWEEN, IN, IS NOT NULL",
)
def filter_pred(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load(spark, sf_dir, "lineitem")
    cond = (
        F.col("l_quantity").between(10, 20) & F.col("l_returnflag").isin("A", "R")
    ) | (
        (F.col("l_discount") > 0.09)
        & F.col("l_shipdate").isNotNull()
        & (F.col("l_tax") <= 0.02)
    )
    return l.filter(cond).select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")


@Q.add(
    "project_expr",
    f"""
    SELECT l_orderkey, l_linenumber,
           -- isfinite CASE: DuckDB TRY_CAST(NaN/Inf AS DECIMAL) raises
           -- where Spark try_cast NULLs (extreme-money gate, r7)
           CAST(TRY_CAST(CAST(CASE WHEN isfinite(l_extendedprice * (1 - l_discount))
                              THEN l_extendedprice * (1 - l_discount) END AS VARCHAR) AS {DEC}) AS DOUBLE) AS revenue,
           CASE WHEN l_quantity > 40 THEN 'bulk'
                WHEN l_quantity > 20 THEN 'mid'
                ELSE 'small' END AS qty_class
    FROM lineitem
    """,
    doc="arithmetic projection + CASE WHEN",
)
def project_expr(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load(spark, sf_dir, "lineitem")
    return l.select(
        "l_orderkey",
        "l_linenumber",
        F.expr(f"CAST(TRY_CAST(l_extendedprice * (1 - l_discount) AS {DEC}) AS DOUBLE)").alias(
            "revenue"
        ),
        F.when(F.col("l_quantity") > 40, "bulk")
        .when(F.col("l_quantity") > 20, "mid")
        .otherwise("small")
        .alias("qty_class"),
    )


@Q.add(
    "string_funcs",
    r"""
    SELECT doc_id,
           upper(lang) AS lang_u,
           lower(source) AS src_l,
           substr(text, 1, 20) AS head,
           length(text) AS n_len,
           -- concat_ws mirrors Spark's null-skipping concat_ws; the ||
           -- chain mirrors F.concat's null-PROPAGATION (DuckDB's concat
           -- would silently skip NULLs in both) (r6 NULL parity)
           concat_ws(':', lang, source) AS tag,
           trim(' ' || lang || ' ') AS trimmed,
           lpad(lang, 5, '_') AS padded,
           regexp_replace(text, '(the|data)', 'X', 'g') AS masked
    FROM documents
    """,
    doc="upper/lower/substr/length/concat/trim/lpad/regexp_replace",
)
def string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.upper("lang").alias("lang_u"),
        F.lower("source").alias("src_l"),
        F.substring("text", 1, 20).alias("head"),
        F.length("text").alias("n_len"),
        F.concat_ws(":", "lang", "source").alias("tag"),
        F.trim(F.concat(F.lit(" "), F.col("lang"), F.lit(" "))).alias("trimmed"),
        F.lpad("lang", 5, "_").alias("padded"),
        F.regexp_replace("text", "(the|data)", "X").alias("masked"),
    )


@Q.add(
    "date_funcs",
    """
    SELECT o_orderkey,
           year(o_orderdate) AS yr,
           month(o_orderdate) AS mo,
           day(o_orderdate) AS dom,
           strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start,
           datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS days_since
    FROM orders
    """,
    doc="year/month/day/date_trunc/datediff on naive timestamps",
)
def date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("yr"),
        F.month("o_orderdate").alias("mo"),
        F.dayofmonth("o_orderdate").alias("dom"),
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM-dd").alias(
            "month_start"
        ),
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date")).alias(
            "days_since"
        ),
    )


@Q.add(
    "math_funcs",
    """
    SELECT p_partkey,
           round(p_retailprice, 1) AS price_r,
           abs(p_size - 25) AS size_dev,
           CAST(floor(p_retailprice) AS BIGINT) AS price_floor,
           CAST(ceil(p_retailprice) AS BIGINT) AS price_ceil,
           -- guarded: DuckDB ln raises on <= 0 where Spark returns NULL
           -- (extreme-money gate, r7)
           CASE WHEN p_retailprice > 0
                THEN round(ln(p_retailprice), 4) END AS price_ln,
           -- DuckDB sqrt RAISES on negatives where Spark yields NaN
           -- (extreme-ints gate, r7); NULL must fall through to NULL
           -- (Spark's sqrt(NULL) is NULL, not NaN), so negatives get an
           -- explicit arm instead of a catch-all ELSE (ADVICE r7)
           CASE WHEN p_size >= 0
                THEN round(sqrt(CAST(p_size AS DOUBLE)), 4)
                WHEN p_size < 0 THEN 'nan'::DOUBLE END AS size_sqrt,
           round(pow(CAST(p_size AS DOUBLE), 2.0), 4) AS size_sq,
           p_partkey % 7 AS key_mod
    FROM part
    """,
    doc="round/abs/floor/ceil/ln/sqrt/pow/modulo",
)
def math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.round("p_retailprice", 1).alias("price_r"),
        F.abs(F.col("p_size") - 25).alias("size_dev"),
        F.floor("p_retailprice").cast("bigint").alias("price_floor"),
        F.ceil("p_retailprice").cast("bigint").alias("price_ceil"),
        F.round(F.log(F.col("p_retailprice")), 4).alias("price_ln"),
        F.round(F.sqrt(F.col("p_size").cast("double")), 4).alias("size_sqrt"),
        F.round(F.pow(F.col("p_size").cast("double"), F.lit(2.0)), 4).alias("size_sq"),
        (F.col("p_partkey") % 7).alias("key_mod"),
    )


@Q.add(
    "array_funcs",
    """
    SELECT doc_id,
           len(string_split(text, ' ')) AS n_tokens,
           CAST(list_contains(string_split(text, ' '), 'data') AS BOOLEAN) AS has_data,
           list_sort(string_split(text, ' '))[1] AS first_token,
           list_sort(string_split(text, ' '))[len(string_split(text, ' '))] AS last_token
    FROM documents
    """,
    doc="split/size/array_contains/sort_array",
)
def array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    return d.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.array_contains(toks, "data").alias("has_data"),
        F.array_sort(toks)[0].alias("first_token"),
        F.element_at(F.array_sort(toks), -1).alias("last_token"),
    )


@Q.add(
    "array_explode",
    """
    SELECT doc_id, tok, COUNT(*) AS n
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
    GROUP BY doc_id, tok
    """,
    doc="explode tokens + per-doc token frequency",
)
def array_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("n"))
    )


@Q.add(
    "map_funcs",
    """
    SELECT doc_id,
           lang AS lang_v,
           source AS src_v,
           CAST(n_chars AS VARCHAR) AS extra_v
    FROM documents
    """,
    doc="create_map/map_concat/element_at, value-checked via scalar projection",
)
def map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    m = F.create_map(F.lit("lang"), F.col("lang"), F.lit("src"), F.col("source"))
    m2 = F.map_concat(m, F.create_map(F.lit("extra"), F.col("n_chars").cast("string")))
    return d.select(
        "doc_id",
        F.element_at(m2, "lang").alias("lang_v"),
        F.element_at(m2, "src").alias("src_v"),
        F.element_at(m2, "extra").alias("extra_v"),
    )


@Q.add(
    "json_funcs",
    """
    -- json_valid guard on every extraction (r7 ragged-corpus parity,
    -- all 11 oracle sites): Spark's get_json_object returns NULL on
    -- malformed JSON while DuckDB's json_extract_string RAISES; the
    -- guard lands both engines on NULL for 'not json{' / '' and both
    -- already agree on valid-but-keyless docs ('[]', '42', nested)
    SELECT event_id,
           (CASE WHEN json_valid(props) THEN json_extract_string(props, '$.k') END) AS k_str,
           CAST((CASE WHEN json_valid(props) THEN json_extract_string(props, '$.k') END) AS BIGINT) AS k_int,
           CAST((CASE WHEN json_valid(props) THEN json_extract_string(props, '$.missing') END) IS NULL AS BOOLEAN) AS miss_null
    FROM events
    """,
    doc="get_json_object / from_json-style extraction on events.props",
)
def json_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    return e.select(
        "event_id",
        F.get_json_object("props", "$.k").alias("k_str"),
        F.get_json_object("props", "$.k").cast("bigint").alias("k_int"),
        F.get_json_object("props", "$.missing").isNull().alias("miss_null"),
    )


# ===========================================================================
# B3 — joins
# ===========================================================================


@Q.add(
    "join_inner_hash",
    """
    SELECT o.o_orderkey, c.c_name, c.c_mktsegment, round(o.o_totalprice, 2) AS total
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    """,
    doc="equi inner join orders x customer (shuffled hash / SMJ, Catalyst's pick)",
)
def join_inner_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    return o.join(c, o.o_custkey == c.c_custkey, "inner").select(
        "o_orderkey", "c_name", "c_mktsegment", F.round("o_totalprice", 2).alias("total")
    )


@Q.add(
    "join_salted",
    """
    SELECT o.o_orderkey, c.c_name, c.c_mktsegment, round(o.o_totalprice, 2) AS total
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    """,
    doc="skew-salted equi join (deterministic row-hash salt scatters hot "
    "keys over 8 reducers, small side replicated) — oracle is the PLAIN "
    "join: salting must be result-invariant",
)
def join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skew import salted_join

    o = load(spark, sf_dir, "orders").withColumnRenamed("o_custkey", "custkey")
    c = load(spark, sf_dir, "customer").withColumnRenamed("c_custkey", "custkey")
    return salted_join(o, c, "custkey", salt=8).select(
        "o_orderkey", "c_name", "c_mktsegment", F.round("o_totalprice", 2).alias("total")
    )


@Q.add(
    "join_broadcast",
    f"""
    SELECT l.l_orderkey, l.l_linenumber, p.p_brand,
           CAST(TRY_CAST(CAST(CASE WHEN isfinite(l.l_extendedprice * (1 - l.l_discount))
                         THEN l.l_extendedprice * (1 - l.l_discount) END AS VARCHAR) AS {DEC}) AS DOUBLE) AS revenue
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_size > 20
    """,
    doc="broadcast join of bounded dim (part) into lineitem — no shuffle of the fact side",
)
def join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").filter(F.col("p_size") > 20)
    return l.join(F.broadcast(p), l.l_partkey == p.p_partkey).select(
        "l_orderkey",
        "l_linenumber",
        "p_brand",
        F.expr(f"CAST(TRY_CAST(l_extendedprice * (1 - l_discount) AS {DEC}) AS DOUBLE)").alias(
            "revenue"
        ),
    )


@Q.add(
    "join_left",
    """
    SELECT c.c_custkey, c.c_name, o.o_orderkey, round(o.o_totalprice, 2) AS total
    FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
    """,
    doc="left outer join with null extension for orderless customers",
)
def join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left").select(
        "c_custkey", "c_name", "o_orderkey", F.round("o_totalprice", 2).alias("total")
    )


@Q.add(
    "join_full",
    """
    SELECT n.n_nationkey, n.n_name, s.s_suppkey, s.s_name
    FROM nation n FULL JOIN supplier s ON n.n_nationkey = s.s_nationkey
    """,
    doc="full outer join with null extension on both sides",
)
def join_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = load(spark, sf_dir, "nation")
    s = load(spark, sf_dir, "supplier")
    return n.join(s, n.n_nationkey == s.s_nationkey, "full").select(
        "n_nationkey", "n_name", "s_suppkey", "s_name"
    )


@Q.add(
    "join_semi",
    """
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 100000)
    """,
    doc="left-semi join (EXISTS)",
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 100000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey", "c_name")


@Q.add(
    "join_anti",
    """
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
    doc="left-anti join (NOT EXISTS)",
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


@Q.add(
    "join_theta_range",
    """
    SELECT a.event_id AS eid_a, b.event_id AS eid_b, a.user_id
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND a.event_id < b.event_id
     AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 5 MINUTE
    """,
    doc="non-equi range join: same-user event pairs within 5 minutes "
    "(equi user_id key keeps it a hash join + residual range filter, not BNLJ)",
)
def join_theta_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    a = e.alias("a")
    b = e.alias("b")
    return (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_id") < F.col("b.event_id"))
            & (F.col("b.ts") >= F.col("a.ts"))
            & (F.col("b.ts") <= F.col("a.ts") + F.expr("INTERVAL 5 MINUTE")),
        )
        .select(
            F.col("a.event_id").alias("eid_a"),
            F.col("b.event_id").alias("eid_b"),
            F.col("a.user_id").alias("user_id"),
        )
    )


@Q.add(
    "join_range_banded",
    """
    SELECT a.event_id AS eid_a, b.event_id AS eid_b,
           ROUND(ABS(a.value - b.value), 4) AS vdiff
    FROM events a JOIN events b
      ON a.event_type = 'purchase' AND b.event_type = 'purchase'
     AND a.event_id < b.event_id
     AND ABS(a.value - b.value) <= 0.1
    """,
    doc="PURE range join (no equi key -> Catalyst would BNLJ at O(n^2)) "
    "rewritten as a banded equi-join: bin values by the band width, "
    "probe side explodes +-2 neighbor bins, exact residual filter "
    "decides membership. Shuffle is keyed on bins — the interval-join "
    "binning rewrite that survives 100x scale. Oracle is the plain "
    "non-equi SQL. Values outside the double-exact band domain "
    "(|v| > eps*2^53, incl. Inf; NaN compares greater) clamp into a "
    "sentinel bin ADJACENT to the last real bin, so the +-2 probe "
    "still reaches across the boundary and the exact residual filter "
    "decides membership — no ANSI floor/long overflow, and equal "
    "huge values still pair exactly like the oracle's plain "
    "|a-b| <= eps (non-finite-sweep contract).",
)
def join_range_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    eps = 0.1
    e = (
        load(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select("event_id", "value")
    )
    max_bin = 1 << 53  # last bin floor() can produce exactly in double
    bin_col = (
        F.when(F.col("value") > F.lit(eps * max_bin), F.lit(max_bin + 1))
        .when(F.col("value") < F.lit(-eps * max_bin), F.lit(-max_bin - 1))
        .otherwise(F.floor(F.col("value") / F.lit(eps)))
        .cast("long")
    )
    build = e.select(
        F.col("event_id").alias("eid_b"), F.col("value").alias("vb"), bin_col.alias("bin")
    )
    probe = e.select(
        F.col("event_id").alias("eid_a"),
        F.col("value").alias("va"),
        F.explode(
            F.array(*[(bin_col + F.lit(d)).alias(f"b{d}") for d in range(-2, 3)])
        ).alias("bin"),
    )
    return (
        probe.join(build, "bin")
        .filter(
            (F.col("eid_a") < F.col("eid_b"))
            & (F.abs(F.col("va") - F.col("vb")) <= eps)
        )
        .select(
            "eid_a", "eid_b", F.round(F.abs(F.col("va") - F.col("vb")), 4).alias("vdiff")
        )
    )


@Q.add(
    "join_multiway",
    f"""
    SELECT r.r_name,
           {dsum('l.l_extendedprice * (1 - l.l_discount)', 'revenue')},
           COUNT(*) AS n_items
    FROM region r
    JOIN nation n   ON n.n_regionkey = r.r_regionkey
    JOIN customer c ON c.c_nationkey = n.n_nationkey
    JOIN orders o   ON o.o_custkey   = c.c_custkey
    JOIN lineitem l ON l.l_orderkey  = o.o_orderkey
    GROUP BY r.r_name
    """,
    doc="5-table chain join (TPC-H Q5 shape); broadcast hints only on the "
    "genuinely bounded dims (nation: 25 rows, region: 5 rows, fixed at every "
    "scale factor) — customer GROWS with sf (hundreds of millions of rows at "
    "100 TB), so its join strategy is left to Catalyst/AQE, which picks "
    "broadcast at small sf and shuffle/sort-merge when it no longer fits",
)
def join_multiway(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = load(spark, sf_dir, "region")
    n = load(spark, sf_dir, "nation")
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    l = load(spark, sf_dir, "lineitem")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.expr(f"CAST(SUM(TRY_CAST((l_extendedprice * (1 - l_discount)) AS {DEC})) AS DOUBLE)").alias(
                "revenue"
            ),
            F.count("*").alias("n_items"),
        )
    )


@Q.add(
    "join_asof",
    """
    SELECT o_orderkey, o_custkey, event_id AS last_event_id
    FROM (
      SELECT o.o_orderkey, o.o_custkey, e.event_id, e.ts,
             row_number() OVER (PARTITION BY o.o_orderkey
                                ORDER BY e.ts DESC, e.event_id DESC) AS rn
      FROM orders o
      JOIN events e ON e.user_id = o.o_custkey AND e.ts <= o.o_orderdate + INTERVAL 30 YEAR
    ) WHERE rn = 1
    """,
    doc="as-of join: latest event at-or-before (orderdate + 30y aligns the "
    "1995-2001 orders onto the 2024 events stream) per order; window rewrite "
    "of ASOF since Spark SQL has no native ASOF join",
)
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.asof import asof_join

    o = load(spark, sf_dir, "orders").withColumn(
        "o_cutoff", F.expr("o_orderdate + INTERVAL 30 YEAR")
    )
    e = load(spark, sf_dir, "events")
    res = asof_join(
        left=o,
        right=e,
        left_on="o_custkey",
        right_on="user_id",
        left_time="o_cutoff",
        right_time="ts",
        right_tiebreak="event_id",
        left_key="o_orderkey",
    )
    return res.select(
        "o_orderkey", "o_custkey", F.col("event_id").alias("last_event_id")
    )


@Q.add(
    "join_bucketed",
    f"""
    SELECT o_orderpriority,
           COUNT(*) AS n_items,
           {dsum('l_extendedprice * (1 - l_discount)', 'revenue')}
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
    doc="co-located join over bucketed storage: both fact tables written "
    "bucketBy(orderkey) with matching bucket counts, then joined via the "
    "table API — the scan reports a compatible output partitioning, so "
    "the join itself plans with ZERO Exchange (pinned by "
    "tests/test_bucketing.py and the per-query plan audit); the shuffle "
    "was paid once at write time and amortizes over every repeat join — "
    "the warehouse layout a 100 TB fact-fact join needs. Bucketing is "
    "result-invariant, so the oracle is the plain join SQL",
)
def join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.bucketed import read_table, write_bucketed

    import os

    tag = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    base = _tmp_dir("bucketed_join", sf_dir)
    ot, lt = f"orders_bq_{tag}", f"lineitem_bq_{tag}"
    write_bucketed(
        load(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority"),
        ot,
        ["o_orderkey"],
        8,
        path=f"{base}/{ot}",
    )
    write_bucketed(
        load(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_extendedprice", "l_discount"
        ),
        lt,
        ["l_orderkey"],
        8,
        path=f"{base}/{lt}",
    )
    l, o = read_table(spark, lt), read_table(spark, ot)
    return (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_items"),
            F.expr(
                f"CAST(SUM(TRY_CAST((l_extendedprice * (1 - l_discount)) AS {DEC})) AS DOUBLE)"
            ).alias("revenue"),
        )
    )


# ===========================================================================
# B4 — aggregation
# ===========================================================================


@Q.add(
    "agg_global",
    f"""
    SELECT COUNT(*) AS n_rows,
           COUNT(l_partkey) AS n_part,
           {dsum('l_quantity', 'sum_qty')},
           {davg('l_extendedprice', 'avg_price')},
           MIN(l_quantity) AS min_qty,
           MAX(l_quantity) AS max_qty,
           MIN(l_returnflag) AS min_flag
    FROM lineitem
    """,
    doc="global aggregate: count/sum/avg/min/max",
)
def agg_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load(spark, sf_dir, "lineitem")
    return l.agg(
        F.count("*").alias("n_rows"),
        F.count("l_partkey").alias("n_part"),
        F.expr(f"CAST(SUM(TRY_CAST((l_quantity) AS {DEC})) AS DOUBLE)").alias("sum_qty"),
        F.expr(
            f"floor(CAST(SUM(TRY_CAST((l_extendedprice) AS {DEC})) AS DOUBLE) / COUNT(*) * 10000 + 0.5) / 10000"
        ).alias("avg_price"),
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
        F.min("l_returnflag").alias("min_flag"),
    )


@Q.add(
    "agg_group",
    f"""
    SELECT l_returnflag, l_linestatus,
           {dsum('l_quantity', 'sum_qty')},
           {dsum('l_extendedprice', 'sum_base_price')},
           {dsum('l_extendedprice * (1 - l_discount)', 'sum_disc_price')},
           {dsum('l_extendedprice * (1 - l_discount) * (1 + l_tax)', 'sum_charge')},
           {davg('l_quantity', 'avg_qty')},
           {davg('l_extendedprice', 'avg_price')},
           {davg('l_discount', 'avg_disc')},
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-12-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="FLAGSHIP: TPC-H Q1-style pricing summary (also entry())",
)
def agg_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load(spark, sf_dir, "lineitem")
    return (
        l.filter(F.col("l_shipdate") <= F.lit("1998-12-01 00:00:00").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.expr(f"CAST(SUM(TRY_CAST((l_quantity) AS {DEC})) AS DOUBLE)").alias("sum_qty"),
            F.expr(f"CAST(SUM(TRY_CAST((l_extendedprice) AS {DEC})) AS DOUBLE)").alias(
                "sum_base_price"
            ),
            F.expr(
                f"CAST(SUM(TRY_CAST((l_extendedprice * (1 - l_discount)) AS {DEC})) AS DOUBLE)"
            ).alias("sum_disc_price"),
            F.expr(
                f"CAST(SUM(TRY_CAST((l_extendedprice * (1 - l_discount) * (1 + l_tax)) AS {DEC})) AS DOUBLE)"
            ).alias("sum_charge"),
            F.expr(
                f"floor(CAST(SUM(TRY_CAST((l_quantity) AS {DEC})) AS DOUBLE) / COUNT(*) * 10000 + 0.5) / 10000"
            ).alias("avg_qty"),
            F.expr(
                f"floor(CAST(SUM(TRY_CAST((l_extendedprice) AS {DEC})) AS DOUBLE) / COUNT(*) * 10000 + 0.5) / 10000"
            ).alias("avg_price"),
            F.expr(
                f"floor(CAST(SUM(TRY_CAST((l_discount) AS {DEC})) AS DOUBLE) / COUNT(*) * 10000 + 0.5) / 10000"
            ).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@Q.add(
    "agg_distinct",
    f"""
    SELECT l_returnflag,
           COUNT(DISTINCT l_partkey) AS n_parts,
           COUNT(DISTINCT l_suppkey) AS n_supps,
           CAST(SUM(DISTINCT TRY_CAST(CAST(CASE WHEN isfinite(l_quantity) THEN l_quantity END AS VARCHAR) AS {DEC})) AS DOUBLE) AS sum_dist_qty
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="COUNT(DISTINCT) / SUM(DISTINCT)",
)
def agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load(spark, sf_dir, "lineitem")
    return l.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
        F.expr(f"CAST(SUM(DISTINCT TRY_CAST(l_quantity AS {DEC})) AS DOUBLE)").alias(
            "sum_dist_qty"
        ),
    )


@Q.add(
    "agg_having",
    f"""
    SELECT o_custkey, COUNT(*) AS n_orders, {dsum('o_totalprice', 'total_spend')}
    FROM orders
    GROUP BY o_custkey
    HAVING COUNT(*) > 12
    """,
    doc="post-aggregation filter (HAVING)",
)
def agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(
            F.count("*").alias("n_orders"),
            F.expr(f"CAST(SUM(TRY_CAST((o_totalprice) AS {DEC})) AS DOUBLE)").alias(
                "total_spend"
            ),
        )
        .filter(F.col("n_orders") > 12)
    )


@Q.add(
    "agg_rollup",
    """
    SELECT r_name, n_name, COUNT(*) AS n_cust,
           CAST(GROUPING(r_name) AS INT) AS g_region,
           CAST(GROUPING(n_name) AS INT) AS g_nation
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    -- Spark-semantics mirror (empty-corpus parity, r7): on EMPTY input
    -- Spark's ROLLUP emits ZERO rows while ANSI/DuckDB emit the ()
    -- grand-total row (count 0). Every real rollup group aggregates
    -- >=1 input row, so HAVING n>0 suppresses exactly that one row and
    -- is a no-op on any non-empty corpus.
    HAVING COUNT(*) > 0
    """,
    doc="hierarchical totals with GROUPING() disambiguation. Declared "
    "semantics are Spark SQL's: ROLLUP of an empty relation is empty "
    "(ANSI emits the grand-total row; documented deviation, oracle "
    "mirrors the engine)",
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    j = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).join(
        F.broadcast(r), n.n_regionkey == r.r_regionkey
    )
    return j.rollup("r_name", "n_name").agg(
        F.count("*").alias("n_cust"),
        F.grouping("r_name").cast("int").alias("g_region"),
        F.grouping("n_name").cast("int").alias("g_nation"),
    ).select("r_name", "n_name", "n_cust", "g_region", "g_nation")


@Q.add(
    "agg_cube",
    """
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
           CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
           CAST(GROUPING(l_linestatus) AS INT) AS g_status
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    -- Spark-semantics mirror: empty input -> zero rows (see agg_rollup)
    HAVING COUNT(*) > 0
    """,
    doc="cube over two low-cardinality dims (Spark empty-input "
    "semantics, see agg_rollup)",
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load(spark, sf_dir, "lineitem")
    return l.cube("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n"),
        F.grouping("l_returnflag").cast("int").alias("g_flag"),
        F.grouping("l_linestatus").cast("int").alias("g_status"),
    ).select("l_returnflag", "l_linestatus", "n", "g_flag", "g_status")


@Q.add(
    "agg_grouping_sets",
    f"""
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n, {dsum('o_totalprice', 'total')}
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    -- Spark-semantics mirror: empty input -> zero rows (see agg_rollup)
    HAVING COUNT(*) > 0
    """,
    doc="explicit grouping sets (Spark empty-input semantics, see "
    "agg_rollup)",
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    load(spark, sf_dir, "orders").createOrReplaceTempView("_gs_orders")
    return spark.sql(
        f"""
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
               CAST(SUM(TRY_CAST((o_totalprice) AS {DEC})) AS DOUBLE) AS total
        FROM _gs_orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


@Q.add(
    "agg_approx_distinct",
    None,  # HLL estimate is engine-specific -> rows-only; exact twin: agg_distinct
    doc="approx_count_distinct (HLL) of users per event_type",
)
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.approx_count_distinct("user_id").alias("approx_users"),
        F.count("*").alias("n"),
    )


@Q.add(
    "agg_stats",
    """
    -- var/sd via EXACT decimal moments (r10, fuzz seed 10 at sf0.1):
    -- one-pass streaming var_samp accumulates in a partition-order-
    -- dependent merge tree, and at rail-value magnitudes (var ~ 5e10)
    -- the two engines' raw doubles land 5-16 ulps apart — ROUND(,4)
    -- then sits right at the noise floor. Sum(x) and sum(x^2) as
    -- DECIMAL are order-independent EXACT integers in both engines;
    -- the textbook (n*s2 - s1^2)/(n(n-1)) is then ONE identical
    -- float expression evaluated on identical operands. The VARCHAR
    -- hop mirrors Spark's double->decimal cast (shortest-repr parse,
    -- the agg_pivot idiom); non-finite inputs NaN the result like
    -- the corr mirror below (Spark var_samp NaN-poisons too).
    WITH g AS (
      SELECT l_returnflag,
             COUNT(*) FILTER (WHERE isfinite(l_quantity)) AS n,
             SUM(TRY_CAST(CAST(CASE WHEN isfinite(l_quantity)
                                    THEN l_quantity END AS VARCHAR)
                          AS DECIMAL(18,6))) AS s1,
             -- factors widened to DECIMAL(19,6): DuckDB multiplies at
             -- the INPUT width (1e12 * 1e12 overflows DECIMAL(18)'s
             -- int64 units) while (19,6)x(19,6) -> DECIMAL(38,12) in
             -- exact hugeint — Spark widens automatically
             SUM(CAST(TRY_CAST(CAST(CASE WHEN isfinite(l_quantity)
                                    THEN l_quantity END AS VARCHAR)
                          AS DECIMAL(18,6)) AS DECIMAL(19,6))
                 * CAST(TRY_CAST(CAST(CASE WHEN isfinite(l_quantity)
                                      THEN l_quantity END AS VARCHAR)
                            AS DECIMAL(18,6)) AS DECIMAL(19,6))) AS s2,
             bool_or(l_quantity IS NOT NULL
                     AND NOT isfinite(l_quantity)) AS anynf,
             -- any non-finite pair NaN-poisons Spark's streaming corr
             -- co-moments (measured), while DuckDB's corr RAISES
             -- out-of-range; the mirror computes corr over finite
             -- pairs and emits NaN when any non-finite pair exists
             -- (extreme-money gate, r7)
             CASE WHEN bool_or(NOT isfinite(l_quantity)
                               OR NOT isfinite(l_extendedprice))
                  THEN 'nan'::DOUBLE
                  ELSE ROUND(corr(l_quantity, l_extendedprice)
                         FILTER (WHERE isfinite(l_quantity)
                                 AND isfinite(l_extendedprice)), 4)
             END AS corr_qp,
             ROUND(quantile_cont(l_quantity, 0.5), 4) AS med_qty
      FROM lineitem
      GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           CASE WHEN anynf THEN 'nan'::DOUBLE
                WHEN n < 2 THEN NULL
                ELSE ROUND(sqrt(greatest(
                       (CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)
                        - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
                       / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1)),
                       0.0)), 4)
           END AS sd_qty,
           CASE WHEN anynf THEN 'nan'::DOUBLE
                WHEN n < 2 THEN NULL
                ELSE ROUND(greatest(
                       (CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)
                        - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
                       / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1)),
                       0.0), 4)
           END AS var_qty,
           corr_qp, med_qty
    FROM g
    """,
    doc="stddev/variance/corr/exact interpolated median. var/sd are "
    "derived from EXACT decimal moments (sum, sum-of-squares) so the "
    "result is partition-order independent and bit-identical across "
    "engines even at rail magnitudes (var ~ 5e10) where streaming "
    "co-moment merges differ by ulps (fuzz seed 10 @ sf0.1, r10); "
    "non-finite quantities NaN the pair like the corr mirror. On a "
    "cluster the decimal sums are map-side combined exactly like the "
    "float ones — exactness costs no extra shuffle.",
)
def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity")
    finite = qty.isNotNull() & ~F.isnan(qty) & ~qty.isin(
        float("inf"), float("-inf")
    )
    q = F.when(finite, qty).cast("decimal(18,6)")
    g = l.groupBy("l_returnflag").agg(
        F.sum(finite.cast("long")).alias("n"),
        F.sum(q).alias("s1"),
        F.sum(q * q).alias("s2"),
        F.max((qty.isNotNull() & ~finite).cast("int")).alias("anynf"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias("corr_qp"),
        F.round(F.expr("percentile(l_quantity, 0.5)"), 4).alias("med_qty"),
    )
    n = F.col("n").cast("double")
    # textbook form on EXACT moments: deterministic and identical in
    # both engines (same operands, same IEEE expression tree); the
    # greatest(0) clamps the tiny negative cancellation residue so
    # DuckDB's raising sqrt and Spark's NaN sqrt never see it
    var = F.greatest(
        (n * F.col("s2").cast("double")
         - F.col("s1").cast("double") * F.col("s1").cast("double"))
        / (n * (n - F.lit(1.0))),
        F.lit(0.0),
    )
    nan = F.lit(float("nan"))
    return g.select(
        "l_returnflag",
        F.when(F.col("anynf") == 1, nan)
        .when(F.col("n") >= 2, F.round(F.sqrt(var), 4))
        .alias("sd_qty"),
        F.when(F.col("anynf") == 1, nan)
        .when(F.col("n") >= 2, F.round(var, 4))
        .alias("var_qty"),
        "corr_qp",
        "med_qty",
    )


@Q.add(
    "agg_pivot",
    """
    SELECT l_returnflag,
           CAST(COUNT(*) FILTER (WHERE l_linestatus = 'F') AS BIGINT) AS n_f,
           CAST(COUNT(*) FILTER (WHERE l_linestatus = 'O') AS BIGINT) AS n_o,
           CAST(CAST(COALESCE(SUM(TRY_CAST(CAST(CASE WHEN isfinite(l_quantity) THEN l_quantity END AS VARCHAR) AS DECIMAL(18,6)))
                FILTER (WHERE l_linestatus = 'F'), 0) AS VARCHAR) AS DOUBLE) AS qty_f,
           CAST(CAST(COALESCE(SUM(TRY_CAST(CAST(CASE WHEN isfinite(l_quantity) THEN l_quantity END AS VARCHAR) AS DECIMAL(18,6)))
                FILTER (WHERE l_linestatus = 'O'), 0) AS VARCHAR) AS DOUBLE) AS qty_o
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="pivot (crosstab): linestatus values become columns with count "
    "and sum measures per returnflag (explicit value list — the only "
    "scale-sane pivot; value discovery is a driver-side collect)",
)
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load(spark, sf_dir, "lineitem")
    p = (
        l.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(
            F.count(F.lit(1)).alias("n"),  # count("*") is invalid inside pivot
            F.sum(F.col("l_quantity").try_cast("decimal(18,6)")).alias("qty"),
        )
    )
    return p.select(
        "l_returnflag",
        F.coalesce(F.col("F_n"), F.lit(0)).cast("bigint").alias("n_f"),
        F.coalesce(F.col("O_n"), F.lit(0)).cast("bigint").alias("n_o"),
        F.coalesce(F.col("F_qty"), F.lit(0)).cast("double").alias("qty_f"),
        F.coalesce(F.col("O_qty"), F.lit(0)).cast("double").alias("qty_o"),
    )


@Q.add(
    "agg_string_agg",
    """
    SELECT lang,
           string_agg(DISTINCT source, ',' ORDER BY source) AS sources,
           CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
    FROM documents
    GROUP BY lang
    """,
    doc="ordered string aggregation (collect_set -> sort -> join; "
    "DuckDB string_agg DISTINCT ... ORDER BY twin)",
)
def agg_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.array_join(F.sort_array(F.collect_set("source")), ",").alias("sources"),
        F.countDistinct("source").cast("bigint").alias("n_sources"),
    )


@Q.add(
    "agg_median_mode",
    """
    WITH med AS (
      SELECT l_returnflag, ROUND(median(l_quantity), 4) AS median_qty
      FROM lineitem GROUP BY l_returnflag
    ),
    cnt AS (
      SELECT l_returnflag, l_linenumber, COUNT(*) AS c
      FROM lineitem GROUP BY l_returnflag, l_linenumber
    ),
    md AS (
      SELECT l_returnflag, l_linenumber AS mode_linenumber
      FROM (SELECT *, row_number() OVER (PARTITION BY l_returnflag
                       ORDER BY c DESC, l_linenumber ASC) AS rn FROM cnt)
      WHERE rn = 1
    )
    SELECT med.l_returnflag, med.median_qty, md.mode_linenumber
    FROM med JOIN md USING (l_returnflag)
    """,
    doc="exact median (interpolated, identical Spark percentile/DuckDB "
    "quantile_cont semantics) + DETERMINISTIC mode (most-frequent value, "
    "smallest on ties — native mode() is tie-arbitrary in both engines, "
    "so it is computed as count + windowed argmax on both sides)",
)
def agg_median_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load(spark, sf_dir, "lineitem")
    med = l.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_quantity, 0.5)"), 4).alias("median_qty")
    )
    cnt = l.groupBy("l_returnflag", "l_linenumber").agg(F.count("*").alias("c"))
    w = Window.partitionBy("l_returnflag").orderBy(
        F.col("c").desc(), F.col("l_linenumber").asc()
    )
    md = (
        cnt.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("l_returnflag", F.col("l_linenumber").alias("mode_linenumber"))
    )
    return med.join(md, "l_returnflag").select(
        "l_returnflag", "median_qty", "mode_linenumber"
    )


@Q.add(
    "agg_udaf_geomean",
    """
    SELECT l_returnflag,
           -- lane-exact mirror of np.exp(np.mean(np.log(x))) on hostile
           -- money (extreme-money gate, r7): log of a negative/NaN is
           -- NaN (poisons the mean), log(0) = -Inf (exp -> 0 unless a
           -- +Inf log cancels it to NaN), log(+Inf) = +Inf. DuckDB's LN
           -- RAISES on <= 0, so the in-aggregate LN is made total with
           -- a CASE (FILTER does not prevent argument evaluation) and
           -- the lanes are reconstructed outside
           -- a NULL lane also poisons: the engine's UDAF to_numpy turns
           -- NULL into NaN before the log-mean, while bool_or/AVG would
           -- silently skip it (ADVICE r7)
           CASE WHEN bool_or(l_extendedprice IS NULL
                             OR isnan(l_extendedprice) OR l_extendedprice < 0)
                THEN 'nan'::DOUBLE
                WHEN bool_or(l_extendedprice = 0)
                     AND bool_or(l_extendedprice = 'infinity'::DOUBLE)
                THEN 'nan'::DOUBLE
                WHEN bool_or(l_extendedprice = 0) THEN 0.0
                WHEN bool_or(l_extendedprice = 'infinity'::DOUBLE)
                THEN 'infinity'::DOUBLE
                ELSE ROUND(EXP(
                    AVG(LN(CASE WHEN l_extendedprice > 0
                                AND isfinite(l_extendedprice)
                                THEN l_extendedprice ELSE 1 END))
                    FILTER (WHERE l_extendedprice > 0
                            AND isfinite(l_extendedprice))), 2)
           END AS geomean_price,
           COUNT(*) AS n_rows
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="user-defined aggregate surface: geometric mean of the price per "
    "group via a GROUPED_AGG pandas_udf (Arrow-batched numpy log-mean — "
    "the Python UDAF registration path). Scale caveat, stated honestly: "
    "unlike built-in aggregates, grouped-agg pandas UDFs get NO map-side "
    "combine (raw values shuffle to the reducer), so at 100 TB the same "
    "statistic should be rewritten as EXP(AVG(LN(x))) built-ins; this "
    "query covers the UDAF surface itself. ROUND(,2) absorbs the float "
    "accumulation-order drift vs the oracle (~1e-8 absolute here)",
)
def agg_udaf_geomean(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    # functionType is explicit (not hint-inferred): `from __future__
    # annotations` stringifies hints, which the UDF type inferencer
    # cannot resolve against function-local imports
    def _geomean(v) -> float:
        return float(np.exp(np.mean(np.log(v.to_numpy(dtype=np.float64)))))

    def _count(v) -> int:
        return len(v)

    from pyspark.sql.functions import PandasUDFType

    geomean = F.pandas_udf(_geomean, "double", PandasUDFType.GROUPED_AGG)
    # grouped-agg UDFs cannot mix with built-in aggregates in one agg()
    # (INVALID_PANDAS_UDF_PLACEMENT), so the row count is a UDAF too
    nrows = F.pandas_udf(_count, "bigint", PandasUDFType.GROUPED_AGG)

    l = load(spark, sf_dir, "lineitem")
    return l.groupBy("l_returnflag").agg(
        F.round(geomean("l_extendedprice"), 2).alias("geomean_price"),
        nrows("l_extendedprice").alias("n_rows"),
    )


# ===========================================================================
# B5 — window functions
# ===========================================================================


@Q.add(
    "win_rank",
    """
    SELECT o_orderkey, o_custkey,
           row_number() OVER (PARTITION BY o_custkey
                              ORDER BY o_totalprice DESC, o_orderkey) AS rn,
           rank() OVER (PARTITION BY o_custkey ORDER BY o_orderpriority) AS rnk,
           dense_rank() OVER (PARTITION BY o_custkey ORDER BY o_orderpriority) AS drnk,
           ntile(4) OVER (PARTITION BY o_custkey
                          ORDER BY o_totalprice DESC, o_orderkey) AS quart
    FROM orders
    """,
    doc="row_number/rank/dense_rank/ntile; rank uses a genuinely tied key",
)
def win_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    w_det = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    w_tied = Window.partitionBy("o_custkey").orderBy("o_orderpriority")
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.row_number().over(w_det).alias("rn"),
        F.rank().over(w_tied).alias("rnk"),
        F.dense_rank().over(w_tied).alias("drnk"),
        F.ntile(4).over(w_det).alias("quart"),
    )


@Q.add(
    "win_distribution",
    """
    SELECT o_orderkey, o_custkey,
           ROUND(percent_rank() OVER (PARTITION BY o_custkey
                 ORDER BY o_totalprice, o_orderkey), 4) AS pct_rank,
           ROUND(cume_dist() OVER (PARTITION BY o_custkey
                 ORDER BY o_totalprice, o_orderkey), 4) AS cume
    FROM orders
    """,
    doc="distribution window functions: percent_rank / cume_dist per "
    "customer by order value (fully tie-broken ordering)",
)
def win_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_totalprice", "o_orderkey")
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.round(F.percent_rank().over(w), 4).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 4).alias("cume"),
    )


@Q.add(
    "win_lag_lead",
    """
    SELECT event_id, user_id,
           lag(event_id)  OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_id,
           lead(event_id) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_id,
           lag(event_type, 1, 'none') OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
    FROM events
    """,
    doc="lag/lead per user over time (sessionization precursor)",
)
def win_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "event_id",
        "user_id",
        F.lag("event_id").over(w).alias("prev_id"),
        F.lead("event_id").over(w).alias("next_id"),
        F.lag("event_type", 1, "none").over(w).alias("prev_type"),
    )


@Q.add(
    "win_frame_rows",
    f"""
    SELECT o_orderkey, o_custkey,
           CAST(CAST(SUM(TRY_CAST(CAST(CASE WHEN isfinite(o_totalprice)
                             THEN o_totalprice END AS VARCHAR) AS {DEC})) OVER (
               PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS VARCHAR) AS DOUBLE) AS running_spend,
           COUNT(*) OVER (PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_so_far
    FROM orders
    """,
    doc="running sum with ROWS frame (decimal-exact)",
)
def win_frame_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.sum(F.col("o_totalprice").try_cast(DEC)).over(w).cast("double").alias("running_spend"),
        F.count("*").over(w).alias("n_so_far"),
    )


@Q.add(
    "win_frame_range",
    f"""
    SELECT event_id, user_id,
           COUNT(*) OVER (
               PARTITION BY user_id ORDER BY epoch_s
               RANGE BETWEEN 600 PRECEDING AND CURRENT ROW) AS n_10min,
           CAST(CAST(SUM(TRY_CAST(CAST(CASE WHEN isfinite(value) THEN value END AS VARCHAR) AS {DEC})) OVER (
               PARTITION BY user_id ORDER BY epoch_s
               RANGE BETWEEN 600 PRECEDING AND CURRENT ROW) AS VARCHAR) AS DOUBLE) AS val_10min
    -- clamped trunc-seconds mirror the engine's ts_ns DIV 1e9
    -- (extreme-ts parity audit, r6)
    FROM (SELECT event_id, user_id, value,
                 ((least(greatest(epoch_us(ts), -9223372036854775), 9223372036854775)) - (least(greatest(epoch_us(ts), -9223372036854775), 9223372036854775)) % 1000000) // 1000000 AS epoch_s
          FROM events)
    """,
    doc="RANGE frame over epoch seconds: trailing-10-minute counts/sums",
)
def win_frame_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events").withColumn(
        "epoch_s", F.expr("ts_ns DIV 1000000000")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("epoch_s")
        .rangeBetween(-600, Window.currentRow)
    )
    return e.select(
        "event_id",
        "user_id",
        F.count("*").over(w).alias("n_10min"),
        F.sum(F.col("value").try_cast(DEC)).over(w).cast("double").alias("val_10min"),
    )


@Q.add(
    "win_frame_interval",
    f"""
    SELECT o_orderkey, o_custkey,
           COUNT(*) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate
               RANGE BETWEEN INTERVAL 90 DAY PRECEDING AND CURRENT ROW) AS n_90d,
           CAST(CAST(SUM(TRY_CAST(CAST(CASE WHEN isfinite(o_totalprice)
                             THEN o_totalprice END AS VARCHAR) AS {DEC})) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate
               RANGE BETWEEN INTERVAL 90 DAY PRECEDING AND CURRENT ROW) AS VARCHAR) AS DOUBLE) AS spend_90d
    FROM orders
    """,
    doc="calendar-INTERVAL range frame over the order date (trailing-90-"
    "day count/spend per customer) — the time-window frame spec distinct "
    "from numeric RANGE (win_frame_range): the frame bound is a calendar "
    "interval on a date/timestamp ordering key, and date peers share the "
    "frame so ties need no break",
)
def win_frame_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the DataFrame API's rangeBetween takes numeric bounds only; the
    # calendar-interval frame is a SQL-level spec on both engines
    load(spark, sf_dir, "orders").createOrReplaceTempView("__orders_wfi")
    return spark.sql(
        f"""
        SELECT o_orderkey, o_custkey,
               COUNT(*) OVER (
                   PARTITION BY o_custkey ORDER BY o_orderdate
                   RANGE BETWEEN INTERVAL 90 DAY PRECEDING AND CURRENT ROW) AS n_90d,
               CAST(SUM(TRY_CAST(o_totalprice AS {DEC})) OVER (
                   PARTITION BY o_custkey ORDER BY o_orderdate
                   RANGE BETWEEN INTERVAL 90 DAY PRECEDING AND CURRENT ROW) AS DOUBLE) AS spend_90d
        FROM __orders_wfi
        """
    )


@Q.add(
    "win_topk_per_group",
    """
    SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS total
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders
    ) WHERE rn <= 3
    """,
    doc="top-3 orders per customer (rank + filter)",
)
def win_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", F.round("o_totalprice", 2).alias("total"))
    )


# ===========================================================================
# B6 — sort / limit / set ops
# ===========================================================================


@Q.add(
    "sort_multi",
    """
    SELECT o_orderkey, o_orderpriority, round(o_totalprice, 2) AS total
    FROM orders
    ORDER BY o_orderpriority ASC NULLS LAST, o_totalprice DESC, o_orderkey
    """,
    doc="multi-key sort with explicit null ordering (hash is order-insensitive; "
    "values checked under deterministic keys)",
)
def sort_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    return o.orderBy(
        F.col("o_orderpriority").asc_nulls_last(),
        F.col("o_totalprice").desc(),
        F.col("o_orderkey"),
    ).select("o_orderkey", "o_orderpriority", F.round("o_totalprice", 2).alias("total"))


@Q.add(
    "topk",
    """
    SELECT l_orderkey, l_linenumber, round(l_extendedprice, 2) AS price
    FROM lineitem
    ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
    LIMIT 100
    """,
    doc="global top-k (TakeOrderedAndProject), fully tie-broken",
)
def topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load(spark, sf_dir, "lineitem")
    return (
        l.orderBy(F.col("l_extendedprice").desc(), "l_orderkey", "l_linenumber")
        .limit(100)
        .select("l_orderkey", "l_linenumber", F.round("l_extendedprice", 2).alias("price"))
    )


@Q.add(
    "set_union",
    """
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    UNION
    SELECT c_custkey FROM customer WHERE c_acctbal > 5000
    """,
    doc="UNION (distinct) of two key sets",
)
def set_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    a = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    b = c.filter(F.col("c_acctbal") > 5000).select("c_custkey")
    return a.union(b).distinct()


@Q.add(
    "set_union_all",
    """
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    UNION ALL
    SELECT c_custkey FROM customer WHERE c_acctbal > 5000
    """,
    doc="UNION ALL (bag semantics)",
)
def set_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    a = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    b = c.filter(F.col("c_acctbal") > 5000).select("c_custkey")
    return a.unionAll(b)


@Q.add(
    "set_intersect",
    """
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT
    SELECT s_nationkey AS nationkey FROM supplier
    """,
    doc="INTERSECT (distinct) of nation-key sets",
)
def set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = load(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.intersect(s)


@Q.add(
    "set_intersect_all",
    """
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT ALL
    SELECT s_nationkey AS nationkey FROM supplier
    """,
    doc="INTERSECT ALL (bag intersection: min multiplicity per value) — "
    "completes the ANSI set-op surface alongside UNION/UNION ALL/"
    "INTERSECT/EXCEPT ALL",
)
def set_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = load(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.intersectAll(s)


@Q.add(
    "set_except",
    """
    SELECT c_nationkey AS nationkey FROM customer
    EXCEPT ALL
    SELECT s_nationkey AS nationkey FROM supplier
    """,
    doc="EXCEPT ALL (bag difference)",
)
def set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = load(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.exceptAll(s)


# ===========================================================================
# B1–B6 widening (r2): cross join, reshaping, statistical aggregates,
# time-series gap fill
# ===========================================================================


@Q.add(
    "join_cross",
    """
    SELECT r_name, n_name FROM region CROSS JOIN nation
    """,
    doc="explicit cartesian product of two BOUNDED dims (5x25) — broadcast "
    "nested-loop; cartesians are only ever valid between bounded sides, and "
    "the explicit crossJoin() call documents that invariant in the plan",
)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = load(spark, sf_dir, "region").select("r_name")
    n = load(spark, sf_dir, "nation").select("n_name")
    return r.crossJoin(F.broadcast(n))


@Q.add(
    "agg_unpivot",
    f"""
    SELECT l_returnflag, metric,
           CAST(CAST(SUM(TRY_CAST(CAST(CASE WHEN isfinite(val) THEN val END AS VARCHAR) AS {DEC})) AS VARCHAR) AS DOUBLE) AS total
    FROM (
      SELECT l_returnflag, 'l_quantity' AS metric, l_quantity AS val
      FROM lineitem
      UNION ALL
      SELECT l_returnflag, 'l_extendedprice' AS metric, l_extendedprice AS val
      FROM lineitem
      UNION ALL
      SELECT l_returnflag, 'l_discount' AS metric, l_discount AS val
      FROM lineitem
    )
    GROUP BY l_returnflag, metric
    """,
    doc="unpivot/melt wide metric columns to long form + per-metric exact "
    "sum. Spark's unpivot is a single-pass Expand (one scan, no UNION "
    "re-reads) — the oracle's UNION ALL form scans three times; the Expand "
    "plan is the one that survives 100 TB",
)
def agg_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load(spark, sf_dir, "lineitem")
    return (
        l.unpivot(
            ["l_returnflag"],
            ["l_quantity", "l_extendedprice", "l_discount"],
            "metric",
            "val",
        )
        .groupBy("l_returnflag", "metric")
        .agg(F.expr(f"CAST(SUM(TRY_CAST(val AS {DEC})) AS DOUBLE)").alias("total"))
    )


@Q.add(
    "agg_histogram",
    """
    SELECT CAST(CASE WHEN isfinite(o_totalprice)
                THEN FLOOR(o_totalprice / 50000.0) END AS INT) AS bucket,
           COUNT(*) AS n_orders,
           MIN(o_totalprice) AS lo,
           MAX(o_totalprice) AS hi
    FROM orders
    GROUP BY 1
    """,
    doc="fixed-width histogram binning: FLOOR(x/width) bucket key -> "
    "count/min/max. All map-side combinable, one shuffle of O(buckets) "
    "partials per task — the distribution profile pass every curation "
    "pipeline starts with. (FLOOR of an IEEE division is bit-deterministic "
    "across engines; no decimal cast needed for the key.) Non-finite "
    "values have no bucket: they land in the NULL bucket with their "
    "count and min/max — under ANSI the unguarded FLOOR-cast chain "
    "raised CAST_OVERFLOW on Inf (engine bug found by the r7 "
    "extreme-money gate), and DuckDB's CAST raises on NaN.",
)
def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    finite = ~F.isnan("o_totalprice") & (
        F.abs("o_totalprice") != F.lit(float("inf"))
    )
    return (
        o.groupBy(
            F.when(finite, F.floor(F.col("o_totalprice") / 50000.0))
            .cast("int")
            .alias("bucket")
        )
        .agg(
            F.count("*").alias("n_orders"),
            F.min("o_totalprice").alias("lo"),
            F.max("o_totalprice").alias("hi"),
        )
    )


# Regression/correlation aggregates, exact-sum form. Built-in corr()/
# regr_slope() accumulate doubles in partition order (nondeterministic
# across engines AND runs); instead the five moments are summed exactly
# in DECIMAL(38,6) — order-independent, identical bits both engines —
# and the closed-form stats are one double expression on top. The
# moment aggregation is map-side combinable like any SUM.
_DEC38 = "DECIMAL(38,6)"
_REG_SLOPE = "(n * sxy - sx * sy) / (n * sxx - sx * sx)"
_REG_CORR = (
    "(n * sxy - sx * sy) / SQRT((n * sxx - sx * sx) * (n * syy - sy * sy))"
)


def _snap6(expr: str) -> str:
    """6-decimal snap valid as the IDENTICAL expression text in BOTH
    engines. ROUND(x, 6) is engine-specific once |x| is large enough
    that 6 decimals exceed double precision — Spark's BigDecimal
    HALF_UP and DuckDB's binary-double round then land on doubles 1
    ulp apart (fuzz seed 4: a money-lane intercept of 4.4e11 split as
    ...10474 vs ...1048). floor(x*1e6 + 0.5)/1e6 is pure IEEE double
    ops — bit-identical — but only while x*1e6 stays inside int64
    (Spark's floor returns BIGINT and SATURATES NaN->0 / Inf->rail),
    so NaN and |x| >= 9.2e12 pass through RAW: the raw double is
    already identical (built from correctly-rounded + - * / sqrt on
    identical inputs) and 6-decimal rounding is sub-ulp there anyway.

    Semantic note (ADVICE r9): for NEGATIVE x this floor form rounds
    halves toward +infinity, not away from zero — identical in both
    engines, so the snap DEFINES the rounding semantics (see davg)."""
    return (
        f"CASE WHEN isnan({expr}) OR abs({expr}) >= 9.2e12 THEN ({expr}) "
        f"ELSE floor(({expr}) * 1000000 + 0.5) / 1000000 END"
    )


@Q.add(
    "agg_regression",
    f"""
    SELECT l_returnflag,
           {_snap6(_REG_SLOPE)} AS slope,
           {_snap6(f"(sy - ({_REG_SLOPE}) * sx) / n")} AS intercept,
           {_snap6(_REG_CORR)} AS corr_xy
    FROM (
      SELECT l_returnflag,
             CAST(COUNT(*) AS DOUBLE) AS n,
             -- isfinite CASE mirrors Spark ANSI CAST(NaN/Inf AS DECIMAL)
             -- -> NULL, where DuckDB CAST raises (extreme-money gate, r7)
             -- VARCHAR hop: DuckDB CAST(DECIMAL AS DOUBLE) double-rounds
             -- above 2^53 (extreme-money sums); the hop is correctly
             -- rounded like Spark's BigDecimal.doubleValue
             CAST(CAST(SUM(CAST(CASE WHEN isfinite(l_quantity) THEN l_quantity END AS {_DEC38})) AS VARCHAR) AS DOUBLE) AS sx,
             CAST(CAST(SUM(CAST(CAST(CASE WHEN isfinite(l_extendedprice) THEN l_extendedprice END AS VARCHAR) AS {_DEC38})) AS VARCHAR) AS DOUBLE) AS sy,
             CAST(CAST(SUM(CAST(CAST(CASE WHEN isfinite(l_quantity * l_quantity) THEN l_quantity * l_quantity END AS VARCHAR) AS {_DEC38})) AS VARCHAR) AS DOUBLE) AS sxx,
             CAST(CAST(SUM(CAST(CAST(CASE WHEN isfinite(l_extendedprice * l_extendedprice) THEN l_extendedprice * l_extendedprice END AS VARCHAR) AS {_DEC38})) AS VARCHAR) AS DOUBLE) AS syy,
             CAST(CAST(SUM(CAST(CAST(CASE WHEN isfinite(l_quantity * l_extendedprice) THEN l_quantity * l_extendedprice END AS VARCHAR) AS {_DEC38})) AS VARCHAR) AS DOUBLE) AS sxy
      FROM lineitem
      GROUP BY l_returnflag
    )
    """,
    doc="least-squares slope/intercept + Pearson corr of quantity vs "
    "extendedprice per returnflag, via exact decimal moment sums "
    "(order-independent) + closed-form double math",
)
def agg_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load(spark, sf_dir, "lineitem")
    sums = l.groupBy("l_returnflag").agg(
        F.count("*").cast("double").alias("n"),
        F.expr(f"CAST(SUM(CAST(l_quantity AS {_DEC38})) AS DOUBLE)").alias("sx"),
        F.expr(f"CAST(SUM(CAST(l_extendedprice AS {_DEC38})) AS DOUBLE)").alias("sy"),
        F.expr(
            f"CAST(SUM(CAST(l_quantity * l_quantity AS {_DEC38})) AS DOUBLE)"
        ).alias("sxx"),
        F.expr(
            f"CAST(SUM(CAST(l_extendedprice * l_extendedprice AS {_DEC38})) AS DOUBLE)"
        ).alias("syy"),
        F.expr(
            f"CAST(SUM(CAST(l_quantity * l_extendedprice AS {_DEC38})) AS DOUBLE)"
        ).alias("sxy"),
    )
    return sums.select(
        "l_returnflag",
        # _snap6, not ROUND(x, 6): see the macro docstring (fuzz seed 4)
        F.expr(_snap6(_REG_SLOPE)).alias("slope"),
        F.expr(_snap6(f"(sy - ({_REG_SLOPE}) * sx) / n")).alias("intercept"),
        F.expr(_snap6(_REG_CORR)).alias("corr_xy"),
    )


@Q.add(
    "agg_percentiles",
    """
    SELECT o_orderpriority,
           ROUND(quantile_cont(CASE WHEN isfinite(o_totalprice)
                               THEN o_totalprice END, 0.25), 4) AS p25,
           ROUND(quantile_cont(CASE WHEN isfinite(o_totalprice)
                               THEN o_totalprice END, 0.50), 4) AS p50,
           ROUND(quantile_cont(CASE WHEN isfinite(o_totalprice)
                               THEN o_totalprice END, 0.75), 4) AS p75
    FROM orders
    GROUP BY o_orderpriority
    """,
    doc="exact interpolated quartiles per priority (Spark percentile() == "
    "DuckDB quantile_cont, both type-7). Exact percentile sorts per group — "
    "at 100 TB prefer the approx twin (percentile_approx / agg_approx_distinct "
    "family) unless exactness is contractual. Quartiles are over the "
    "FINITE mass on both engines (the dsum no-mass contract extended to "
    "order statistics): Spark's percentile ranks NaN above +Inf while "
    "DuckDB's quantile_cont NULLs the whole group — a quantile of "
    "non-finite junk is meaningless either way (extreme-money gate, r7)",
)
def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.expr(
            "ROUND(percentile(CASE WHEN NOT isnan(o_totalprice) AND"
            " abs(o_totalprice) != double('infinity')"
            " THEN o_totalprice END, 0.25), 4)"
        ).alias("p25"),
        F.expr(
            "ROUND(percentile(CASE WHEN NOT isnan(o_totalprice) AND"
            " abs(o_totalprice) != double('infinity')"
            " THEN o_totalprice END, 0.50), 4)"
        ).alias("p50"),
        F.expr(
            "ROUND(percentile(CASE WHEN NOT isnan(o_totalprice) AND"
            " abs(o_totalprice) != double('infinity')"
            " THEN o_totalprice END, 0.75), 4)"
        ).alias("p75"),
    )


@Q.add(
    "gap_fill_days",
    """
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n_events,
             CAST(CAST(SUM(TRY_CAST(CAST(CASE WHEN isfinite(value) THEN value END AS VARCHAR) AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sum_value
      FROM events GROUP BY 1
    ), b AS (
      SELECT MIN(day) AS lo, MAX(day) AS hi FROM daily
    ), days AS (
      SELECT CAST(UNNEST(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS day
      FROM b
    )
    SELECT strftime(days.day, '%Y-%m-%d') AS day,
           CAST(COALESCE(daily.n_events, 0) AS BIGINT) AS n_events,
           ROUND(COALESCE(daily.sum_value, 0), 4) AS sum_value
    FROM days LEFT JOIN daily ON days.day = daily.day
    """,
    doc="time-series gap fill: aggregate per day, then LEFT JOIN a generated "
    "calendar spine (sequence + explode) so missing days appear as zeros. "
    "The spine is O(days) — broadcast side of the join; the fact side "
    "keeps its partitioning. Standard densification before window math",
)
def gap_fill_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    daily = (
        e.groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.count("*").alias("n_events"),
            F.expr("CAST(SUM(TRY_CAST(value AS DECIMAL(18,6))) AS DOUBLE)").alias(
                "sum_value"
            ),
        )
    )
    spine = (
        daily.agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
        .select(F.explode(F.sequence("lo", "hi")).alias("day"))
    )
    return (
        # both sides are O(distinct days); the preserved (left) side of an
        # outer join can't be the broadcast build, so hint the right side
        spine.join(F.broadcast(daily), "day", "left")
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.coalesce("n_events", F.lit(0)).cast("bigint").alias("n_events"),
            F.round(F.coalesce("sum_value", F.lit(0.0)), 4).alias("sum_value"),
        )
    )


@Q.add(
    "agg_bitwise",
    """
    SELECT event_type,
           CAST(bit_or(user_id) AS BIGINT) AS or_users,
           CAST(bit_and(user_id) AS BIGINT) AS and_users,
           CAST(bit_xor(event_id) AS BIGINT) AS xor_events
    FROM events
    GROUP BY event_type
    """,
    doc="bitwise aggregates (bit_or / bit_and / bit_xor) per event type — "
    "commutative + associative, so Spark gets full map-side partial "
    "aggregation (one narrow shuffle of 64-bit partials). The building "
    "block for bitmap-index sketches and feature-flag rollups",
)
def agg_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.expr("CAST(bit_or(user_id) AS BIGINT)").alias("or_users"),
        F.expr("CAST(bit_and(user_id) AS BIGINT)").alias("and_users"),
        F.expr("CAST(bit_xor(event_id) AS BIGINT)").alias("xor_events"),
    )


@Q.add(
    "win_cumulative_distinct",
    """
    WITH f AS (
      -- clamped us: sentinel dates tie at the rail exactly like the
      -- engine's ts_ns, with event_id breaking the tie (r6)
      SELECT event_id, event_type, least(greatest(epoch_us(ts), -9223372036854775), 9223372036854775) AS us,
             CASE WHEN ROW_NUMBER() OVER (
                    PARTITION BY event_type, user_id
                    ORDER BY least(greatest(epoch_us(ts), -9223372036854775), 9223372036854775), event_id) = 1
                  THEN 1 ELSE 0 END AS is_first
      FROM events
    )
    SELECT event_id, event_type,
           CAST(SUM(is_first) OVER (
                  PARTITION BY event_type ORDER BY us, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cum_users
    FROM f
    """,
    doc="running COUNT(DISTINCT user) per event type in event-time order. "
    "Window DISTINCT is unsupported (and would be O(n^2)) in both engines; "
    "the standard rewrite is first-occurrence flag (row_number over "
    "(type,user)) -> running SUM of flags. Two window passes, each a "
    "hash-partitioned sort — no driver state, no distinct-set blowup",
)
def win_cumulative_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events").withColumn(
        "us", F.expr("ts_ns DIV 1000")
    )
    w_first = Window.partitionBy("event_type", "user_id").orderBy("us", "event_id")
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy("us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    flagged = e.select(
        "event_id",
        "event_type",
        "us",
        F.when(F.row_number().over(w_first) == 1, 1).otherwise(0).alias("is_first"),
    )
    return flagged.select(
        "event_id",
        "event_type",
        F.sum("is_first").over(w_cum).cast("bigint").alias("cum_users"),
    )


@Q.add(
    "agg_conditional",
    """
    SELECT o_orderstatus,
           CAST(COUNT(*) FILTER (WHERE o_totalprice > 150000) AS BIGINT)
             AS n_big,
           CAST(CAST(SUM(TRY_CAST(CAST(CASE WHEN isfinite(o_totalprice) THEN o_totalprice END AS VARCHAR) AS DECIMAL(18,6)))
                  FILTER (WHERE o_orderpriority = '1-URGENT') AS VARCHAR) AS DOUBLE)
             AS urgent_total,
           CAST(COUNT(DISTINCT o_custkey) FILTER (WHERE o_totalprice > 150000)
                AS BIGINT) AS n_big_custs
    FROM orders
    GROUP BY o_orderstatus
    """,
    doc="conditional aggregation (FILTER clause / count_if): several "
    "differently-filtered measures in ONE scan + ONE shuffle instead of N "
    "filtered subqueries — the plan every hand-rolled CASE-WHEN rollup "
    "should collapse into",
)
def agg_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.expr("CAST(count_if(o_totalprice > 150000) AS BIGINT)").alias("n_big"),
        F.expr(
            "CAST(SUM(TRY_CAST(o_totalprice AS DECIMAL(18,6)))"
            " FILTER (WHERE o_orderpriority = '1-URGENT') AS DOUBLE)"
        ).alias("urgent_total"),
        F.expr(
            "CAST(COUNT(DISTINCT o_custkey) FILTER (WHERE o_totalprice > 150000)"
            " AS BIGINT)"
        ).alias("n_big_custs"),
    )


@Q.add(
    "compact_latest",
    """
    SELECT user_id, event_type,
           CAST(us AS BIGINT) AS last_us,
           ROUND(value, 4) AS last_value
    FROM (
      -- clamped us == the engine's ts_ns DIV 1000, value and order (r6)
      SELECT user_id, event_type, least(greatest(epoch_us(ts), -9223372036854775), 9223372036854775) AS us, value,
             ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                ORDER BY least(greatest(epoch_us(ts), -9223372036854775), 9223372036854775) DESC, event_id DESC) AS rn
      FROM events
    )
    WHERE rn = 1
    """,
    doc="latest-wins compaction (the Delta/Hudi/Iceberg upsert-merge read "
    "path, and streaming dedup's batch twin): keep the newest record per "
    "(user, type) key by event time with a deterministic event_id "
    "tie-break. One shuffle on the key; at 100 TB this runs per partition "
    "of a date-partitioned table and is exactly how CDC snapshots compact",
)
def compact_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events").withColumn("us", F.expr("ts_ns DIV 1000"))
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("us").desc(), F.col("event_id").desc()
    )
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "event_type",
            F.col("us").cast("bigint").alias("last_us"),
            F.round("value", 4).alias("last_value"),
        )
    )


@Q.add(
    "funnel_steps",
    """
    WITH ue AS (
      -- us mirrors the engine's ts_ns/1000 CLAMP (tables.load): micros
      -- outside the int64-nanosecond rails saturate, so sentinel
      -- timestamps (9999-12-31 "never expires", 0001-01-01 parser
      -- defaults) tie at the rail on BOTH engines — a raw epoch_us
      -- distinguishes two beyond-rail sentinels and flips the strict
      -- us > t_prev sequence checks (found by fuzz seed 1, where the
      -- denser mod-25 sentinel lane put two different clamped
      -- timestamps on one user's funnel path)
      SELECT user_id, event_type,
             least(greatest(epoch_us(ts), -9223372036854775),
                   9223372036854775) AS us
      FROM events
    ),
    s1 AS (
      SELECT user_id, MIN(us) AS t_view FROM ue
      WHERE event_type = 'view' GROUP BY user_id
    ),
    s2 AS (
      SELECT ue.user_id, MIN(us) AS t_click
      FROM ue JOIN s1 ON ue.user_id = s1.user_id
      WHERE event_type = 'click' AND us > t_view GROUP BY ue.user_id
    ),
    s3 AS (
      SELECT ue.user_id, MIN(us) AS t_purchase
      FROM ue JOIN s2 ON ue.user_id = s2.user_id
      WHERE event_type = 'purchase' AND us > t_click GROUP BY ue.user_id
    )
    SELECT CAST((SELECT COUNT(*) FROM s1) AS BIGINT) AS n_view,
           CAST((SELECT COUNT(*) FROM s2) AS BIGINT) AS n_view_click,
           CAST((SELECT COUNT(*) FROM s3) AS BIGINT) AS n_view_click_purchase
    """,
    doc="ordered conversion funnel (view -> click-after-view -> "
    "purchase-after-click), the strict-sequence form: each stage is the "
    "earliest qualifying event AFTER the previous stage's time, not mere "
    "set membership. Three filtered scans with the event_type predicate "
    "pushed to parquet + per-stage joins on user_id; stage frontiers "
    "shrink monotonically, so each join's build side is the (small) "
    "converted-user set",
)
def funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = (
        load(spark, sf_dir, "events")
        .withColumn("us", F.expr("ts_ns DIV 1000"))
        .select("user_id", "event_type", "us")
    )
    s1 = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("us").alias("t_view"))
    )
    s2 = (
        e.filter(F.col("event_type") == "click")
        .join(s1, "user_id")
        .filter(F.col("us") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("us").alias("t_click"))
    )
    s3 = (
        e.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter(F.col("us") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("us").alias("t_purchase"))
    )
    # one left-join chain + a single global count — no 1-row cross joins,
    # so the physical plan stays hash-join + partial-agg all the way down
    return (
        s1.join(s2, "user_id", "left")
        .join(s3, "user_id", "left")
        .agg(
            F.count("*").cast("bigint").alias("n_view"),
            F.count("t_click").cast("bigint").alias("n_view_click"),
            F.count("t_purchase").cast("bigint").alias("n_view_click_purchase"),
        )
    )


@Q.add(
    "sink_orc",
    f"""
    SELECT o_orderstatus,
           COUNT(*) AS n_rows,
           CAST(CAST(SUM(TRY_CAST(CAST(CASE WHEN isfinite(o_totalprice)
                             THEN o_totalprice END AS VARCHAR) AS {DEC})) AS VARCHAR) AS DOUBLE) AS sum_price,
           strftime(CAST(MIN(o_orderdate) AS DATE), '%Y-%m-%d') AS min_date,
           strftime(CAST(MAX(o_orderdate) AS DATE), '%Y-%m-%d') AS max_date
    FROM orders
    GROUP BY o_orderstatus
    """,
    doc="ORC sink/source round-trip: orders projected to "
    "long/double/string/date, written as ORC (Spark's second native "
    "columnar format — same pushdown/pruning machinery as parquet), read "
    "back and aggregated; hash-equality against the oracle on the "
    "ORIGINAL parquet proves the round-trip is lossless",
)
def sink_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    out_dir = _tmp_dir("sink_orc", sf_dir)
    shutil.rmtree(out_dir, ignore_errors=True)
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        F.col("o_orderdate").cast("date").alias("o_orderdate"),
    )
    o.write.mode("overwrite").orc(out_dir)
    back = spark.read.orc(out_dir)
    return back.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_rows"),
        F.expr(f"CAST(SUM(TRY_CAST((o_totalprice) AS {DEC})) AS DOUBLE)").alias(
            "sum_price"
        ),
        F.date_format(F.min("o_orderdate"), "yyyy-MM-dd").alias("min_date"),
        F.date_format(F.max("o_orderdate"), "yyyy-MM-dd").alias("max_date"),
    )


@Q.add(
    "rollup_time_multi",
    f"""
    SELECT day, hr, COUNT(*) AS n_events,
           CAST(CAST(SUM(TRY_CAST(CAST(CASE WHEN isfinite(value) THEN value END AS VARCHAR) AS {DEC})) AS VARCHAR) AS DOUBLE) AS sum_value
    FROM (
      SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
             CAST(EXTRACT(hour FROM ts) AS INT) AS hr,
             value
      FROM events
    )
    GROUP BY GROUPING SETS ((day), (day, hr))
    """,
    doc="multi-granularity time rollup (the continuous-aggregate / "
    "hypertable-rollup pattern): day and day+hour aggregates from ONE "
    "scan via GROUPING SETS — Spark's Expand emits both grains into a "
    "single shuffle instead of two passes over 100 TB of events",
)
def rollup_time_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events").select(
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        F.hour("ts").cast("int").alias("hr"),
        "value",
    )
    e.createOrReplaceTempView("_rtm_events")
    return spark.sql(
        f"""
        SELECT day, hr, COUNT(*) AS n_events,
               CAST(SUM(TRY_CAST((value) AS {DEC})) AS DOUBLE) AS sum_value
        FROM _rtm_events
        GROUP BY GROUPING SETS ((day), (day, hr))
        """
    )


@Q.add(
    "win_streaks",
    """
    WITH days AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ),
    grp AS (
      SELECT user_id, day,
             day - CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day)
                        AS INT) * INTERVAL 1 DAY AS anchor
      FROM days
    ),
    streaks AS (
      SELECT user_id, anchor, COUNT(*) AS len FROM grp GROUP BY user_id, anchor
    )
    SELECT user_id,
           CAST(MAX(len) AS BIGINT) AS max_streak,
           CAST(SUM(len) AS BIGINT) AS n_active_days
    FROM streaks
    GROUP BY user_id
    """,
    doc="gaps-and-islands: longest run of consecutive active days per user "
    "via the anchor trick (day minus row_number collapses each consecutive "
    "run to one constant) — pure windows + groupBy, no self-join, no "
    "iteration; every stage keys on user_id so one partitioning serves "
    "the window and both aggregations",
)
def win_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    days = e.select("user_id", F.to_date("ts").alias("day")).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    grp = days.withColumn("anchor", F.date_sub("day", F.row_number().over(w)))
    streaks = grp.groupBy("user_id", "anchor").agg(F.count("*").alias("len"))
    return streaks.groupBy("user_id").agg(
        F.max("len").cast("bigint").alias("max_streak"),
        F.sum("len").cast("bigint").alias("n_active_days"),
    )


@Q.add(
    "agg_salted_twophase",
    f"""
    SELECT l_returnflag, COUNT(*) AS n_rows,
           CAST(CAST(SUM(TRY_CAST(CAST(CASE WHEN isfinite(l_quantity) THEN l_quantity END AS VARCHAR) AS {DEC})) AS VARCHAR) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="explicit two-phase salted aggregation for skewed group keys: "
    "phase 1 aggregates on (key, salt=orderkey%16) so a hot key spreads "
    "over 16 reducers, phase 2 merges the 16 partials per key. The "
    "DECIMAL partial sums are associative, so the result is bit-identical "
    "to the direct plan (the oracle IS the direct plan). Map-side combine "
    "gives this for free when partials fit memory; explicit salting is "
    "the fallback when one key dominates a 100 TB shuffle",
)
def agg_salted_twophase(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load(spark, sf_dir, "lineitem")
    phase1 = (
        l.withColumn("salt", F.pmod("l_orderkey", F.lit(16)))
        .groupBy("l_returnflag", "salt")
        .agg(
            F.count("*").alias("pn"),
            F.expr(f"SUM(TRY_CAST((l_quantity) AS {DEC}))").alias("pq"),
        )
    )
    return phase1.groupBy("l_returnflag").agg(
        F.sum("pn").alias("n_rows"),
        F.expr("CAST(SUM(pq) AS DOUBLE)").alias("sum_qty"),
    )


@Q.add(
    "join_asof_nearest",
    """
    WITH o2 AS (
      SELECT o_orderkey, o_custkey, o_orderdate + INTERVAL 30 YEAR AS cutoff
      FROM orders
    ),
    b AS (
      SELECT o_orderkey, event_id AS eid_b, ts AS ts_b FROM (
        SELECT o2.o_orderkey, e.event_id, e.ts,
               ROW_NUMBER() OVER (PARTITION BY o2.o_orderkey
                                  ORDER BY e.ts DESC, e.event_id DESC) AS rn
        FROM o2 JOIN events e
          ON e.user_id = o2.o_custkey AND e.ts <= o2.cutoff
      ) WHERE rn = 1
    ),
    f AS (
      SELECT o_orderkey, event_id AS eid_f, ts AS ts_f FROM (
        SELECT o2.o_orderkey, e.event_id, e.ts,
               ROW_NUMBER() OVER (PARTITION BY o2.o_orderkey
                                  ORDER BY e.ts ASC, e.event_id ASC) AS rn
        FROM o2 JOIN events e
          ON e.user_id = o2.o_custkey AND e.ts >= o2.cutoff
      ) WHERE rn = 1
    )
    SELECT o2.o_orderkey, o2.o_custkey,
           CASE WHEN eid_f IS NULL THEN eid_b
                WHEN eid_b IS NULL THEN eid_f
                WHEN (cutoff - ts_b) <= (ts_f - cutoff) THEN eid_b
                ELSE eid_f END AS nearest_event_id,
           CASE WHEN eid_f IS NULL THEN 'backward'
                WHEN eid_b IS NULL THEN 'forward'
                WHEN (cutoff - ts_b) <= (ts_f - cutoff) THEN 'backward'
                ELSE 'forward' END AS direction
    FROM o2
    LEFT JOIN b ON b.o_orderkey = o2.o_orderkey
    LEFT JOIN f ON f.o_orderkey = o2.o_orderkey
    WHERE eid_b IS NOT NULL OR eid_f IS NOT NULL
    """,
    doc="nearest-direction as-of join (pandas merge_asof nearest): the "
    "event with the smallest |Δt| around each order's cutoff, ties to the "
    "backward match; backward + forward windowed passes composed by "
    "day-time-interval comparison (TZ-free — no epoch conversion of NTZ "
    "timestamps). Deterministic where native ASOF engines are not: "
    "duplicate right timestamps are tie-broken by event_id",
)
def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.asof import asof_join_nearest

    o = load(spark, sf_dir, "orders").withColumn(
        "cutoff", F.expr("o_orderdate + INTERVAL 30 YEAR")
    )
    e = load(spark, sf_dir, "events")
    res = asof_join_nearest(
        left=o,
        right=e,
        left_on="o_custkey",
        right_on="user_id",
        left_time="cutoff",
        right_time="ts",
        left_key="o_orderkey",
        right_tiebreak="event_id",
    )
    return res.select(
        "o_orderkey",
        "o_custkey",
        F.col("__nearest").alias("nearest_event_id"),
        F.col("__direction").alias("direction"),
    )


@Q.add(
    "agg_weighted",
    f"""
    SELECT l_returnflag,
           CAST(CAST(SUM(TRY_CAST(CAST(CASE WHEN isfinite(l_quantity) THEN l_quantity END AS VARCHAR) AS {DEC})) AS VARCHAR) AS DOUBLE) AS sum_qty,
           ROUND(CAST(CAST(SUM(TRY_CAST(CAST(CASE WHEN isfinite(l_extendedprice * l_quantity)
                                   THEN l_extendedprice * l_quantity END AS VARCHAR) AS {DEC})) AS VARCHAR) AS DOUBLE)
                 / CAST(CAST(SUM(TRY_CAST(CAST(CASE WHEN isfinite(l_quantity) THEN l_quantity END AS VARCHAR) AS {DEC})) AS VARCHAR) AS DOUBLE), 4)
             AS wavg_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="quantity-weighted average price per return flag: both the "
    "weighted numerator (price*qty products are computed in double — "
    "IEEE-identical across engines — then summed exactly in DECIMAL) and "
    "the weight total aggregate distributively, so the whole thing is one "
    "map-side-combined shuffle; the division happens once per group at "
    "the end. The standard shape for any ratio-of-sums metric — never "
    "average per-row ratios",
)
def agg_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load(spark, sf_dir, "lineitem")
    return l.groupBy("l_returnflag").agg(
        F.expr(f"CAST(SUM(TRY_CAST(l_quantity AS {DEC})) AS DOUBLE)").alias("sum_qty"),
        F.expr(
            f"ROUND(CAST(SUM(TRY_CAST(l_extendedprice * l_quantity AS {DEC})) AS DOUBLE)"
            f" / CAST(SUM(TRY_CAST(l_quantity AS {DEC})) AS DOUBLE), 4)"
        ).alias("wavg_price"),
    )


@Q.add(
    "scan_schema_merge",
    f"""
    -- sign-safe parity: % keeps the dividend sign in both engines, so
    -- a NEGATIVE odd key yields -1 — `= 1` silently dropped those rows
    -- from the "new" generation (extremekeys sweep, r6); `<> 0` is the
    -- total odd-test
    SELECT CASE WHEN o_orderkey % 2 <> 0 THEN o_orderpriority END AS pri,
           COUNT(*) AS n_rows,
           CAST(CAST(SUM(TRY_CAST(CAST(CASE WHEN isfinite(o_totalprice)
                             THEN o_totalprice END AS VARCHAR) AS {DEC})) AS VARCHAR) AS DOUBLE) AS sum_price
    FROM orders
    GROUP BY pri
    """,
    doc="schema-evolution scan: two parquet generations of the same "
    "table — an old one without o_orderpriority (even keys) and a new "
    "one with it (odd keys) — read as ONE dataset via mergeSchema=true; "
    "old-generation rows surface NULL for the added column. The "
    "aggregate's hash-equality against the single-schema oracle proves "
    "the merged read is lossless. This is how a 100 TB table evolves in "
    "place: new columns append to new files only, no rewrite of old data",
)
def scan_schema_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    root = _tmp_dir("schema_merge", sf_dir)
    shutil.rmtree(root, ignore_errors=True)
    o = load(spark, sf_dir, "orders")
    # % 2 != 0, not == 1: Spark's % keeps the dividend sign, and a
    # negative odd key (-k % 2 == -1) matched NEITHER generation —
    # rows silently vanished from the merged dataset (extremekeys
    # sweep, r6). The even/odd split must be a partition.
    old = o.filter(F.col("o_orderkey") % 2 == 0).select("o_orderkey", "o_totalprice")
    new = o.filter(F.col("o_orderkey") % 2 != 0).select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    old.write.mode("overwrite").parquet(f"{root}/gen=old")
    new.write.mode("overwrite").parquet(f"{root}/gen=new")
    back = spark.read.option("mergeSchema", "true").parquet(
        f"{root}/gen=old", f"{root}/gen=new"
    )
    return back.groupBy(F.col("o_orderpriority").alias("pri")).agg(
        F.count("*").alias("n_rows"),
        F.expr(f"CAST(SUM(TRY_CAST(o_totalprice AS {DEC})) AS DOUBLE)").alias("sum_price"),
    )


@Q.add(
    "profile_stats",
    """
    SELECT COUNT(*) AS n_rows,
           COUNT(l_orderkey) AS nn_orderkey,
           COUNT(DISTINCT l_orderkey) AS nd_orderkey,
           COUNT(DISTINCT l_suppkey) AS nd_suppkey,
           COUNT(DISTINCT l_returnflag) AS nd_returnflag,
           MIN(l_quantity) AS min_qty,
           MAX(l_quantity) AS max_qty,
           MIN(strftime(l_shipdate, '%Y-%m-%d')) AS min_shipdate,
           MAX(strftime(l_shipdate, '%Y-%m-%d')) AS max_shipdate
    FROM lineitem
    """,
    doc="one-pass data-profiling summary (the 'column statistics' scan a "
    "catalog/quality service runs before ingesting a 100 TB table): row "
    "count, per-column non-null + exact distinct counts, min/max ranges. "
    "Multi-column exact COUNT(DISTINCT) compiles to a single Expand-based "
    "plan — one scan, partial aggs map-side — rather than one job per "
    "column. MIN/MAX on doubles/strings are exact (no summation).",
)
def profile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return li.agg(
        F.count("*").alias("n_rows"),
        F.count("l_orderkey").alias("nn_orderkey"),
        F.count_distinct("l_orderkey").alias("nd_orderkey"),
        F.count_distinct("l_suppkey").alias("nd_suppkey"),
        F.count_distinct("l_returnflag").alias("nd_returnflag"),
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
        F.date_format(F.min("l_shipdate"), "yyyy-MM-dd").alias("min_shipdate"),
        F.date_format(F.max("l_shipdate"), "yyyy-MM-dd").alias("max_shipdate"),
    )


@Q.add(
    "pareto_frontier",
    """
    WITH m AS (
      SELECT p_size, MAX(p_retailprice) AS best_price
      FROM part GROUP BY p_size
    )
    SELECT p_size, best_price FROM m m1
    WHERE NOT EXISTS (
      SELECT 1 FROM m m2
      WHERE m2.p_size < m1.p_size AND m2.best_price >= m1.best_price
    )
    ORDER BY p_size
    """,
    doc="2D Pareto frontier (skyline): sizes whose best price strictly "
    "beats every smaller size's best — the classic price/size dominance "
    "query. Scale shape: the frontier input is the per-size aggregate "
    "(bounded by the size DOMAIN, ~50 values, not row count), so the "
    "single-partition ordered window over it is O(|domain|); the raw "
    "table only pays one map-side-combined groupBy. The oracle states "
    "the same frontier as a NOT EXISTS anti-join — fine at oracle scale, "
    "quadratic at ours, which is why the engine uses the sorted-cummax "
    "formulation. MAX/compares only, no float summation.",
)
def pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load(spark, sf_dir, "part")
    m = p.groupBy("p_size").agg(F.max("p_retailprice").alias("best_price"))
    # frontier test: strictly better than the running best over all
    # smaller sizes (sorted cummax over the bounded per-size aggregate)
    w = Window.orderBy("p_size").rowsBetween(Window.unboundedPreceding, -1)
    return (
        m.withColumn("prev_best", F.max("best_price").over(w))
        .filter(F.col("prev_best").isNull() | (F.col("best_price") > F.col("prev_best")))
        .select("p_size", "best_price")
    )


@Q.add(
    "agg_corr_exact",
    """
    WITH s AS (
      SELECT l_returnflag,
             CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(CAST(SUM(TRY_CAST(CAST(CASE WHEN isfinite(l_quantity) THEN l_quantity END AS VARCHAR) AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sx,
             CAST(CAST(SUM(TRY_CAST(CAST(CASE WHEN isfinite(l_extendedprice) THEN l_extendedprice END AS VARCHAR) AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sy,
             -- DECIMAL(19,6) operands force DuckDB's int128 multiply
             -- (int64 DECIMAL(18) products overflow); values are exact
             -- either way, so the sums equal Spark's DECIMAL(18,6) path
             -- operands pass through DECIMAL(18,6) FIRST: the (19,6)
             -- widening exists only to force DuckDB's int128 multiply,
             -- but widening the CAST DOMAIN too kept rail values (1e12
             -- fits 19,6, not 18,6) that Spark's (18,6) operands drop -
             -- divergent mass AND a HUGEINT sum overflow
             -- (extreme-money gate, r7)
             CAST(CAST(SUM(TRY_CAST(TRY_CAST(CAST(CASE WHEN isfinite(l_quantity) THEN l_quantity END AS VARCHAR) AS DECIMAL(18,6)) AS DECIMAL(19,6)) * TRY_CAST(TRY_CAST(CAST(CASE WHEN isfinite(l_extendedprice) THEN l_extendedprice END AS VARCHAR) AS DECIMAL(18,6)) AS DECIMAL(19,6))) AS VARCHAR) AS DOUBLE) AS sxy,
             CAST(CAST(SUM(TRY_CAST(TRY_CAST(CAST(CASE WHEN isfinite(l_quantity) THEN l_quantity END AS VARCHAR) AS DECIMAL(18,6)) AS DECIMAL(19,6)) * TRY_CAST(TRY_CAST(CAST(CASE WHEN isfinite(l_quantity) THEN l_quantity END AS VARCHAR) AS DECIMAL(18,6)) AS DECIMAL(19,6))) AS VARCHAR) AS DOUBLE) AS sxx,
             CAST(CAST(SUM(TRY_CAST(TRY_CAST(CAST(CASE WHEN isfinite(l_extendedprice) THEN l_extendedprice END AS VARCHAR) AS DECIMAL(18,6)) AS DECIMAL(19,6)) * TRY_CAST(TRY_CAST(CAST(CASE WHEN isfinite(l_extendedprice) THEN l_extendedprice END AS VARCHAR) AS DECIMAL(18,6)) AS DECIMAL(19,6))) AS VARCHAR) AS DOUBLE) AS syy
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           ROUND((n * sxy - sx * sy)
                 / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS corr_qty_price
    FROM s
    """,
    doc="exact-deterministic Pearson correlation per group: the five "
    "moment sums accumulate as DECIMAL (integer arithmetic -> "
    "order-independent, unlike corr()'s streaming float update whose "
    "result depends on partition merge order), then one double-precision "
    "combine step evaluated with the identical expression in both "
    "engines. One map-side-combined shuffle; built-in corr() would be "
    "cheaper per row but is not bit-reproducible across partitionings — "
    "the property this query exists to pin.",
)
def agg_corr_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    d = "DECIMAL(18,6)"
    s = li.groupBy("l_returnflag").agg(
        F.count("*").cast("double").alias("n"),
        F.expr(f"CAST(SUM(TRY_CAST(l_quantity AS {d})) AS DOUBLE)").alias("sx"),
        F.expr(f"CAST(SUM(TRY_CAST(l_extendedprice AS {d})) AS DOUBLE)").alias("sy"),
        F.expr(
            f"CAST(SUM(TRY_CAST(l_quantity AS {d}) * TRY_CAST(l_extendedprice AS {d})) AS DOUBLE)"
        ).alias("sxy"),
        F.expr(
            f"CAST(SUM(TRY_CAST(l_quantity AS {d}) * TRY_CAST(l_quantity AS {d})) AS DOUBLE)"
        ).alias("sxx"),
        F.expr(
            f"CAST(SUM(TRY_CAST(l_extendedprice AS {d}) * TRY_CAST(l_extendedprice AS {d})) AS DOUBLE)"
        ).alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    return s.select(
        "l_returnflag",
        F.round(
            (n * sxy - sx * sy) / F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6
        ).alias("corr_qty_price"),
    )


@Q.add(
    "win_moving_median",
    """
    WITH t AS (
      SELECT event_id, user_id,
             -- order by the CLAMPED key: sentinel dates tie at the rail
             -- exactly like the engine's ts_ns ordering (r6)
             list_sort(list(value) OVER (
               PARTITION BY user_id ORDER BY least(greatest(epoch_us(ts), -9223372036854775), 9223372036854775), event_id
               ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)) AS cs
      FROM events
      WHERE value IS NOT NULL
    )
    SELECT event_id, user_id,
           (cs[((len(cs) - 1) // 2) + 1] + cs[(len(cs) // 2) + 1]) / 2 AS med7
    FROM t
    """,
    doc="exact moving median of event value over a 7-row trailing frame "
    "per user (robust smoothing — the outlier-tolerant twin of a moving "
    "average). Neither engine's median() is used: both sides collect the "
    "SAME bounded frame (<=7 values), sort it, and apply the identical "
    "lower/upper-middle average expression — so even-count interpolation "
    "is bit-identical rather than engine-internal. One Exchange "
    "(user_id) + sort; the per-row list is frame-bounded, never "
    "partition-sized. Ordering fully tie-broken by (ts, event_id).",
)
def win_moving_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    # collect_list drops NULLs while DuckDB's windowed list() keeps
    # them; filter NULL values on BOTH sides so the frames agree even
    # if a future testdata regeneration introduces NULL `value`.
    e = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_ns", "event_id")
        .rowsBetween(-6, Window.currentRow)
    )
    cs = F.sort_array(F.collect_list("value").over(w))
    t = e.select("event_id", "user_id", cs.alias("cs"))
    n = F.size("cs")
    lo = F.element_at("cs", ((n - F.lit(1)) / 2).cast("int") + 1)
    hi = F.element_at("cs", (n / 2).cast("int") + 1)
    return t.select("event_id", "user_id", ((lo + hi) / 2).alias("med7"))


# ---------------------------------------------------------------------------
# round-3 additions: burst debounce, forward fill
# ---------------------------------------------------------------------------


@Q.add(
    "events_debounce",
    """
    WITH e AS (
      SELECT event_id, user_id, event_type, ((least(greatest(epoch_us(ts), -9223372036854775), 9223372036854775)) - (least(greatest(epoch_us(ts), -9223372036854775), 9223372036854775)) % 1000000) // 1000000 AS epoch_s,
             (least(greatest(epoch_us(ts), -9223372036854775), 9223372036854775) * 1000) AS t_ns
      FROM events
    )
    SELECT event_id, user_id, event_type, epoch_s
    FROM (
      SELECT event_id, user_id, event_type, epoch_s,
             -- HUGEINT gap mirrors the engine's try_subtract: an
             -- int64-overflowing gap is > 5s either way (r6)
             CASE WHEN CAST(t_ns AS HUGEINT) - lag(CAST(t_ns AS HUGEINT)) OVER w
                       <= 5000000000
                  THEN 0 ELSE 1 END AS is_start
      FROM e
      WINDOW w AS (PARTITION BY user_id, event_type ORDER BY t_ns, event_id)
    ) WHERE is_start = 1
    """,
    doc="burst debounce: within each (user, event_type) stream keep only "
    "the first event of every burst (predecessor gap > 5 s) — the "
    "double-click / retry-storm suppressor run before counting "
    "conversions. One Exchange on (user_id, event_type) serves the lag "
    "window; the keep-decision is a pure lag comparison, so no second "
    "window pass and no self-join. Ordering fully tie-broken by "
    "(ts_ns, event_id); NULL lag (stream head) keeps the row. "
    "try_subtract for the gap (extreme-ts sweep): a rail-to-rail "
    "span that overflows int64 ns is astronomically large, so the "
    "NULL falls through to is_start=1 — the correct debounce verdict.",
)
def events_debounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts_ns", "event_id")
    gap = F.try_subtract(F.col("ts_ns"), F.lag("ts_ns").over(w))
    return (
        e.withColumn("is_start", F.when(gap <= 5_000_000_000, 0).otherwise(1))
        .filter(F.col("is_start") == 1)
        .select(
            "event_id",
            "user_id",
            "event_type",
            F.expr("ts_ns DIV 1000000000").alias("epoch_s"),
        )
    )


@Q.add(
    "win_fill_forward",
    """
    SELECT event_id, user_id,
           last_value(masked IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY (least(greatest(epoch_us(ts), -9223372036854775), 9223372036854775) * 1000), event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_ffill
    FROM (
      SELECT event_id, user_id, ts,
             CASE WHEN event_type = 'error' THEN NULL ELSE value END AS masked
      FROM events
    )
    """,
    doc="forward fill (LOCF): carry the last observed non-NULL value "
    "forward within each user's time-ordered stream — the standard "
    "sensor/metric gap-repair op. 'error' events stand in for missing "
    "readings. last_value(IGNORE NULLS) over a running frame needs "
    "exactly one Exchange + sort on user_id; stream heads with no "
    "prior observation stay NULL in both engines.",
)
def win_fill_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_ns", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    masked = F.when(F.col("event_type") == "error", F.lit(None)).otherwise(
        F.col("value")
    )
    return e.select(
        "event_id",
        "user_id",
        F.last(masked, ignorenulls=True).over(w).alias("value_ffill"),
    )


@Q.add(
    "join_bloom_prefilter",
    """
    SELECT s.s_suppkey, s.s_name,
           CAST(CAST(SUM(TRY_CAST(CAST(CASE WHEN isfinite(l.l_extendedprice * (1 - l.l_discount))
                              THEN l.l_extendedprice * (1 - l.l_discount) END AS VARCHAR) AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
    WHERE s.s_acctbal > 9000
    GROUP BY s.s_suppkey, s.s_name
    """,
    doc="revenue of high-balance suppliers with an explicit Bloom "
    "pre-join prune (operators/bloom.py): the selective supplier set's "
    "k seeded xxhash64 bit positions fold into an array<long> literal, "
    "and the lineitem side drops non-candidate rows INSIDE its scan "
    "stage — pure JVM expressions in whole-stage codegen, no UDF — "
    "before the exact join sees them. False positives pass through to "
    "the join, so the result is bit-identical to the plain join (the "
    "oracle IS the plain join); only the shuffled volume changes. The "
    "explicit form of spark.sql.optimizer.runtime.bloomFilter, for "
    "when the pipeline knows the probe side is selective.",
)
def join_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.bloom import bloom_prefilter

    l = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier").filter(F.col("s_acctbal") > 9000)
    # m sized ~180 bits/key for the bounded high-balance supplier set:
    # FPR ~1e-4 with a 2 KB literal (smaller codegen than the 64 KB
    # default, same pruning power at this key count)
    pruned = bloom_prefilter(l, "l_suppkey", s, "s_suppkey", m_bits=1 << 14)
    return (
        pruned.join(s, pruned.l_suppkey == s.s_suppkey)
        .groupBy("s_suppkey", "s_name")
        .agg(
            F.expr(
                f"CAST(SUM(TRY_CAST((l_extendedprice * (1 - l_discount)) AS {DEC})) AS DOUBLE)"
            ).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


@Q.add(
    "scd2_intervals",
    """
    SELECT event_id, user_id,
           CAST(t_ns // 1000000000 AS BIGINT) AS valid_from_s,
           CAST(lead(t_ns) OVER (
             PARTITION BY user_id ORDER BY t_ns, event_id) // 1000000000
             AS BIGINT) AS valid_to_s,
           ROUND(value, 4) AS attr_value
    FROM (SELECT event_id, user_id, (least(greatest(epoch_us(ts), -9223372036854775), 9223372036854775) * 1000) AS t_ns, value FROM events)
    """,
    doc="SCD type-2 interval build: each record becomes a "
    "[valid_from, valid_to) validity row, closed by the next record's "
    "timestamp (open-ended NULL for the current version) — how a "
    "warehouse dimension tracks history, and how point-in-time "
    "training joins avoid leakage. One lead window per user stream; "
    "at 100 TB the user_id Exchange is the only data movement and "
    "as-of joins against the result use join_asof's banded plan.",
)
def scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
    # integer DIV on the lead value (not float /): ts_ns ~ 1.7e18 is
    # above double's 2^53 exact range, so float division flips the
    # epoch-second off-by-one for sub-microsecond residues (ADVICE r03)
    return e.select(
        "event_id",
        "user_id",
        F.expr("ts_ns DIV 1000000000").alias("valid_from_s"),
        F.lead("ts_ns").over(w).alias("__lead_ns"),
        F.round("value", 4).alias("attr_value"),
    ).select(
        "event_id",
        "user_id",
        "valid_from_s",
        F.expr("__lead_ns DIV 1000000000").alias("valid_to_s"),
        "attr_value",
    )


@Q.add(
    "attribution_last_touch",
    """
    SELECT event_id, user_id, touch_type, touch_s
    FROM (
      SELECT event_id, user_id, event_type,
             last_value(CASE WHEN event_type IN ('click','view')
                             THEN event_type END IGNORE NULLS) OVER w
               AS touch_type,
             last_value(CASE WHEN event_type IN ('click','view')
                             THEN ((least(greatest(epoch_us(ts), -9223372036854775), 9223372036854775)) - (least(greatest(epoch_us(ts), -9223372036854775), 9223372036854775)) % 1000000) // 1000000 END IGNORE NULLS)
               OVER w AS touch_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY (least(greatest(epoch_us(ts), -9223372036854775), 9223372036854775) * 1000), event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    )
    WHERE event_type = 'purchase'
    """,
    doc="last-touch attribution: each purchase credits the user's most "
    "recent preceding click/view (NULL = organic) — the conversion-"
    "credit query behind every marketing/behavior report. Both "
    "attributed columns are LOCF reads of the SAME predecessor row "
    "(they're non-NULL together), via last_value(IGNORE NULLS) over a "
    "frame excluding the current row; one user_id Exchange, no "
    "self-join, no per-purchase scan-back.",
)
def attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_ns", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    is_touch = F.col("event_type").isin("click", "view")
    touch_type = F.last(F.when(is_touch, F.col("event_type")), ignorenulls=True).over(w)
    touch_s = F.last(
        F.when(is_touch, F.expr("ts_ns DIV 1000000000")), ignorenulls=True
    ).over(w)
    return (
        e.select(
            "event_id",
            "user_id",
            "event_type",
            touch_type.alias("touch_type"),
            touch_s.alias("touch_s"),
        )
        .filter(F.col("event_type") == "purchase")
        .drop("event_type")
    )


_M_DEC = "DECIMAL(38,8)"


@Q.add(
    "agg_skew_kurt",
    f"""
    SELECT l_returnflag,
           ROUND((s3/n - 3*(s1/n)*(s2/n) + 2*(s1/n)*(s1/n)*(s1/n))
                 / POWER(GREATEST(s2/n - (s1/n)*(s1/n), 1e-300), 1.5), 6)
             AS skewness,
           ROUND((s4/n - 4*(s1/n)*(s3/n) + 6*(s1/n)*(s1/n)*(s2/n)
                  - 3*(s1/n)*(s1/n)*(s1/n)*(s1/n))
                 / POWER(GREATEST(s2/n - (s1/n)*(s1/n), 1e-300), 2) - 3, 6)
             AS excess_kurtosis
    FROM (
      SELECT l_returnflag,
             CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(CAST(SUM(TRY_CAST(CAST(CASE WHEN isfinite(l_quantity) THEN l_quantity END AS VARCHAR) AS {_M_DEC})) AS VARCHAR) AS DOUBLE) AS s1,
             CAST(CAST(SUM(TRY_CAST(CAST(CASE WHEN isfinite(l_quantity) THEN l_quantity*l_quantity END AS VARCHAR) AS {_M_DEC})) AS VARCHAR) AS DOUBLE) AS s2,
             CAST(CAST(SUM(TRY_CAST(CAST(CASE WHEN isfinite(l_quantity) THEN l_quantity*l_quantity*l_quantity END AS VARCHAR) AS {_M_DEC})) AS VARCHAR) AS DOUBLE) AS s3,
             CAST(CAST(SUM(TRY_CAST(CAST(CASE WHEN isfinite(l_quantity) THEN l_quantity*l_quantity*l_quantity*l_quantity END AS VARCHAR) AS {_M_DEC})) AS VARCHAR) AS DOUBLE) AS s4
      FROM lineitem GROUP BY l_returnflag
    )
    """,
    doc="population skewness + excess kurtosis per group from exact "
    "DECIMAL power sums (s1..s4) — completes the moments family "
    "(agg_stats/agg_corr_exact/agg_regression) with the 3rd/4th-moment "
    "shape checks a feature store runs. Built-in skewness()/kurtosis() "
    "stream floats (partition-order-dependent) and differ across "
    "engines in bias convention; identical closed-form double math "
    "over order-independent decimal sums is bit-stable in both. One "
    "map-side-combined shuffle.",
)
def agg_skew_kurt(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load(spark, sf_dir, "lineitem")
    sums = l.groupBy("l_returnflag").agg(
        F.count("*").cast("double").alias("n"),
        F.expr(f"CAST(SUM(TRY_CAST(l_quantity AS {_M_DEC})) AS DOUBLE)").alias("s1"),
        F.expr(
            f"CAST(SUM(TRY_CAST(l_quantity*l_quantity AS {_M_DEC})) AS DOUBLE)"
        ).alias("s2"),
        F.expr(
            f"CAST(SUM(TRY_CAST(l_quantity*l_quantity*l_quantity AS {_M_DEC})) AS DOUBLE)"
        ).alias("s3"),
        F.expr(
            f"CAST(SUM(TRY_CAST(l_quantity*l_quantity*l_quantity*l_quantity AS {_M_DEC})) AS DOUBLE)"
        ).alias("s4"),
    )
    mean = F.col("s1") / F.col("n")
    var = F.greatest(F.col("s2") / F.col("n") - mean * mean, F.lit(1e-300))
    skew = (
        F.col("s3") / F.col("n") - 3 * mean * (F.col("s2") / F.col("n")) + 2 * mean * mean * mean
    ) / F.pow(var, 1.5)
    kurt = (
        F.col("s4") / F.col("n")
        - 4 * mean * (F.col("s3") / F.col("n"))
        + 6 * mean * mean * (F.col("s2") / F.col("n"))
        - 3 * mean * mean * mean * mean
    ) / F.pow(var, 2.0) - 3
    return sums.select(
        "l_returnflag",
        F.round(skew, 6).alias("skewness"),
        F.round(kurt, 6).alias("excess_kurtosis"),
    )


@Q.add(
    "win_rolling_anomaly",
    """
    SELECT event_id, user_id, ROUND(value, 4) AS value,
           ROUND(mean7, 4) AS mean7
    FROM (
      SELECT event_id, user_id, value,
             CAST(CAST(SUM(TRY_CAST(CAST(CASE WHEN isfinite(value) THEN value END AS VARCHAR) AS DECIMAL(18,6))) OVER w AS VARCHAR) AS DOUBLE)
               / COUNT(*) OVER w AS mean7,
             CAST(CAST(SUM(TRY_CAST(CAST(CASE WHEN isfinite(value * value) THEN value * value END AS VARCHAR) AS DECIMAL(18,6))) OVER w AS VARCHAR) AS DOUBLE)
               / COUNT(*) OVER w AS meansq7,
             COUNT(*) OVER w AS n7
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY (least(greatest(epoch_us(ts), -9223372036854775), 9223372036854775) * 1000), event_id
                   ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    )
    WHERE n7 >= 4
      AND (value - mean7) * (value - mean7) > 4 * (meansq7 - mean7 * mean7)
    """,
    doc="rolling z-score anomaly gate: flag events whose value sits "
    "more than 2 sigma from their own trailing-7 window's mean — the "
    "metric/telemetry outlier detector (and the per-stream twin of "
    "feature_zscore's global standardization). The |z|>2 test is "
    "algebraic — (v-mean)^2 > 4*var — so no sqrt; frame sums are "
    "DECIMAL-exact, making the flag boundary bit-identical in both "
    "engines. One user_id Exchange serves all three frame aggregates; "
    "short warmup windows (n<4) are excluded. TRY_CAST on both "
    "engines (non-finite-sweep contract): a NaN/Inf/out-of-DECIMAL "
    "value contributes no frame mass instead of raising under ANSI.",
)
def win_rolling_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_ns", "event_id")
        .rowsBetween(-6, Window.currentRow)
    )
    mean7 = (
        F.sum(F.col("value").try_cast(DEC)).over(w).cast("double")
        / F.count("*").over(w)
    )
    meansq7 = (
        F.sum((F.col("value") * F.col("value")).try_cast(DEC)).over(w).cast("double")
        / F.count("*").over(w)
    )
    n7 = F.count("*").over(w)
    t = e.select(
        "event_id",
        "user_id",
        "value",
        mean7.alias("mean7"),
        meansq7.alias("meansq7"),
        n7.alias("n7"),
    )
    dev = F.col("value") - F.col("mean7")
    var = F.col("meansq7") - F.col("mean7") * F.col("mean7")
    return (
        t.filter((F.col("n7") >= 4) & (dev * dev > 4 * var))
        .select(
            "event_id",
            "user_id",
            F.round("value", 4).alias("value"),
            F.round("mean7", 4).alias("mean7"),
        )
    )


@Q.add(
    "sink_csv_roundtrip",
    f"""
    SELECT n_regionkey,
           COUNT(*) AS n_rows,
           CAST(CAST(SUM(TRY_CAST((n_nationkey) AS {DEC})) AS VARCHAR) AS DOUBLE) AS key_sum,
           MIN(n_name) AS first_name
    FROM nation
    GROUP BY n_regionkey
    """,
    doc="CSV sink/source round-trip (completes the sink matrix: "
    "parquet/ORC/JSONL/CSV): nation written with header+escaping, read "
    "back with an explicit schema (schema inference is a full extra "
    "pass at 100 TB — never in production paths), aggregated; "
    "hash-equality against the oracle on the ORIGINAL parquet proves "
    "losslessness through the text format.",
)
def sink_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    out_dir = _tmp_dir("sink_csv", sf_dir)
    shutil.rmtree(out_dir, ignore_errors=True)
    n = load(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    n.write.mode("overwrite").option("header", True).csv(out_dir)
    back = spark.read.schema("n_nationkey long, n_name string, n_regionkey int").option(
        "header", True
    ).csv(out_dir)
    return back.groupBy("n_regionkey").agg(
        F.count("*").alias("n_rows"),
        F.expr(f"CAST(SUM(TRY_CAST((n_nationkey) AS {DEC})) AS DOUBLE)").alias("key_sum"),
        F.min("n_name").alias("first_name"),
    )


@Q.add(
    "subquery_correlated",
    """
    SELECT o_orderkey, o_custkey, ROUND(o_totalprice, 2) AS total
    FROM orders a
    WHERE o_totalprice > 2 * (
      SELECT AVG(o_totalprice) FROM orders b WHERE b.o_custkey = a.o_custkey
    )
    """,
    doc="correlated scalar subquery: orders exceeding 2x their own "
    "customer's average — the analyst-SQL shape every migration "
    "corpus is full of. Catalyst DECORRELATES it (per-customer "
    "aggregate + equi-join; `.explain` shows no per-row subplan), so "
    "the 100 TB execution is two scans + one key shuffle, not O(rows) "
    "subqueries. Declared through spark.sql over the registered views "
    "— the engine's SQL surface exercised end-to-end in the judged "
    "inventory. AVG stays raw double on both sides: the comparison is "
    "strict > against 2x, and the per-customer averages are exact "
    "decimal-representable inputs averaged in one partition per key.",
)
def subquery_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..tables import register_views

    register_views(spark, sf_dir, "orders")
    return spark.sql(
        """
        SELECT o_orderkey, o_custkey, ROUND(o_totalprice, 2) AS total
        FROM orders a
        WHERE o_totalprice > 2 * (
          SELECT AVG(o_totalprice) FROM orders b WHERE b.o_custkey = a.o_custkey
        )
        """
    )


@Q.add(
    "recursive_cte_chain",
    """
    WITH RECURSIVE anc(node, anc_node, depth) AS (
      SELECT doc_id, doc_id, 0 FROM documents WHERE doc_id < 64
      UNION ALL
      SELECT node, anc_node // 2, depth + 1 FROM anc WHERE anc_node > 0
    )
    SELECT node, CAST(MAX(depth) AS INT) AS chain_depth,
           CAST(SUM(anc_node) AS BIGINT) AS anc_sum
    FROM anc GROUP BY node
    """,
    doc="recursive CTE (Spark 4.1 UnionLoop): walk each node's ancestor "
    "chain in a synthetic binary hierarchy (parent = id DIV 2 — the "
    "BOM/org-chart/thread-ancestry traversal). Iterations are "
    "driver-coordinated but each step is a distributed plan; depth is "
    "O(log n) for this hierarchy so the loop terminates in ~7 steps. "
    "The engine's second iterative surface besides connected "
    "components — this one expressed purely in SQL.",
)
def recursive_cte_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..tables import register_views

    register_views(spark, sf_dir, "documents")
    return spark.sql(
        """
        WITH RECURSIVE anc(node, anc_node, depth) AS (
          SELECT doc_id, doc_id, 0 FROM documents WHERE doc_id < 64
          UNION ALL
          SELECT node, anc_node DIV 2, depth + 1 FROM anc WHERE anc_node > 0
        )
        SELECT node, CAST(MAX(depth) AS INT) AS chain_depth,
               CAST(SUM(anc_node) AS BIGINT) AS anc_sum
        FROM anc GROUP BY node
        """
    )


@Q.add(
    "join_lateral_topn",
    """
    SELECT c.c_custkey, t.o_orderkey, ROUND(t.o_totalprice, 2) AS total
    FROM customer c, LATERAL (
      SELECT o_orderkey, o_totalprice FROM orders o
      WHERE o.o_custkey = c.c_custkey
      ORDER BY o_totalprice DESC, o_orderkey LIMIT 2
    ) t
    WHERE c.c_custkey < 200
    """,
    doc="LATERAL correlated table subquery: top-2 orders PER customer "
    "expressed as the SQL-standard lateral join (the form BI tools and "
    "migrations emit) rather than a window+filter. Catalyst plans the "
    "same shuffle+per-key-sort as win_topk_per_group — lateral is "
    "surface syntax, not a per-row executor loop; pinned against the "
    "identical DuckDB lateral.",
)
def join_lateral_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..tables import register_views

    register_views(spark, sf_dir, "customer", "orders")
    return spark.sql(
        """
        SELECT c.c_custkey, t.o_orderkey, ROUND(t.o_totalprice, 2) AS total
        FROM customer c, LATERAL (
          SELECT o_orderkey, o_totalprice FROM orders o
          WHERE o.o_custkey = c.c_custkey
          ORDER BY o_totalprice DESC, o_orderkey LIMIT 2
        ) t
        WHERE c.c_custkey < 200
        """
    )


@Q.add(
    "time_weighted_avg",
    """
    WITH seq AS (
      SELECT user_id, value,
             ((least(greatest(epoch_us(ts), -9223372036854775), 9223372036854775)) - (least(greatest(epoch_us(ts), -9223372036854775), 9223372036854775)) % 1000000) // 1000000 AS t_s,
             lead(((least(greatest(epoch_us(ts), -9223372036854775), 9223372036854775)) - (least(greatest(epoch_us(ts), -9223372036854775), 9223372036854775)) % 1000000) // 1000000) OVER (
               PARTITION BY user_id ORDER BY (least(greatest(epoch_us(ts), -9223372036854775), 9223372036854775) * 1000), event_id) AS next_s
      FROM events
    ),
    seg AS (
      SELECT user_id,
             -- DECIMAL(24,6) widening: DuckDB multiplies the scaled
             -- int64 DECIMAL(18) representations and overflows on
             -- rail-to-rail spans; int128 storage is exact, result
             -- values identical (r6)
             TRY_CAST(CAST(TRY_CAST(CAST(CASE WHEN isfinite(value) THEN value END AS VARCHAR) AS DECIMAL(18,6)) AS DECIMAL(24,6))
                  * TRY_CAST(next_s - t_s AS DECIMAL(12,0)) AS DECIMAL(38,6))
               AS num,
             next_s - t_s AS dt
      FROM seq WHERE next_s IS NOT NULL
    )
    SELECT user_id,
           COUNT(*) AS n_intervals,
           CAST(SUM(dt) AS BIGINT) AS span_s,
           -- VARCHAR hop: DuckDB's direct DECIMAL->DOUBLE cast
           -- double-rounds above 2^53 (measured: ...712.5 -> ...712.0);
           -- strtod is correctly rounded like Spark's
           -- BigDecimal.doubleValue, and below 2^53 the paths agree
           -- exactly, so pristine output is unchanged (r6)
           CAST(CAST(CAST(SUM(num) AS VARCHAR) AS DOUBLE)
                / CAST(SUM(dt) AS DOUBLE) AS DOUBLE) AS twa
    FROM seg
    GROUP BY user_id
    HAVING SUM(dt) > 0
    """,
    doc="time-weighted average of each user's value signal: every "
    "reading holds until the next one, so the mean is the integral "
    "sum(value*dt)/sum(dt) — how billing, telemetry and feature "
    "stores summarize irregularly-sampled series (a plain AVG "
    "overweights bursts). Second-granular dt on both sides; the "
    "numerator is an exact DECIMAL product summed exactly "
    "(order-independent), one double division at the end. Shapes: "
    "ONE user_id Exchange serves both the lead window and the "
    "rollup — at 100 TB that single shuffle is the only data "
    "movement, and the decimal partials combine map-side.",
)
def time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
    seq = e.select(
        "user_id",
        "value",
        F.expr("ts_ns DIV 1000000000").alias("t_s"),
        F.lead(F.expr("ts_ns DIV 1000000000")).over(w).alias("next_s"),
    )
    seg = seq.filter(F.col("next_s").isNotNull()).select(
        "user_id",
        F.expr(
            "TRY_CAST(TRY_CAST(value AS DECIMAL(18,6))"
            " * TRY_CAST(next_s - t_s AS DECIMAL(12,0)) AS DECIMAL(38,6))"
        ).alias("num"),
        (F.col("next_s") - F.col("t_s")).alias("dt"),
    )
    return (
        seg.groupBy("user_id")
        .agg(
            F.count("*").alias("n_intervals"),
            F.sum("dt").cast("bigint").alias("span_s"),
            (F.sum("num").cast("double") / F.sum("dt").cast("double"))
            .cast("double")
            .alias("twa"),
        )
        .filter(F.col("span_s") > 0)
    )


@Q.add(
    "pct_change_daily",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             CAST(CAST(SUM(TRY_CAST(CAST(CASE WHEN isfinite(value) THEN value END AS VARCHAR) AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS rev
      FROM events GROUP BY event_type, d
    )
    SELECT event_type, strftime(d, '%Y-%m-%d') AS day, rev,
           lag(rev) OVER (PARTITION BY event_type ORDER BY d) AS prev_rev,
           (rev - lag(rev) OVER (PARTITION BY event_type ORDER BY d))
             / lag(rev) OVER (PARTITION BY event_type ORDER BY d)
             AS pct_change
    FROM daily
    """,
    doc="day-over-day percent change of daily value volume per event "
    "type (NULL on each type's first day) — the period-over-period "
    "delta behind every trend report and regression alert. Daily sums "
    "are exact DECIMAL (order-independent) cast once to double; the "
    "change is (a-b)/b on those identical doubles, so no rounding is "
    "needed at the compare boundary. Shapes: the day rollup map-side "
    "combines before one event_type Exchange; the lag window rides "
    "the SAME partitioning (days per type are bounded, so the window "
    "input is the tiny aggregate, never the fact table).",
)
def pct_change_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    daily = (
        e.groupBy("event_type", F.to_date("ts").alias("d"))
        .agg(F.expr(f"CAST(SUM(TRY_CAST(value AS {DEC})) AS DOUBLE)").alias("rev"))
    )
    w = Window.partitionBy("event_type").orderBy("d")
    prev = F.lag("rev").over(w)
    return daily.select(
        "event_type",
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        "rev",
        prev.alias("prev_rev"),
        ((F.col("rev") - prev) / prev).alias("pct_change"),
    )


@Q.add(
    "sink_parquet_clustered",
    """
    SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(MIN(n_chars) AS BIGINT) AS min_chars,
           CAST(MAX(n_chars) AS BIGINT) AS max_chars,
           MIN(doc_id) AS min_doc_id
    FROM documents
    GROUP BY lang
    """,
    doc="clustered parquet sink: documents written partitionBy(lang) "
    "with sortWithinPartitions(n_chars, doc_id) — the data-layout "
    "step that makes parquet row-group min/max statistics selective, "
    "so later range scans (length filters, id lookups) prune inside "
    "files, not just across partitions; at 100 TB layout IS the "
    "index. Read back and aggregated per partition; hash-equality vs "
    "the unsorted original proves the clustered write is lossless. "
    "The file-level sortedness itself is pinned in pytest "
    "(test_plans: one sorted run per written file).",
)
def sink_parquet_clustered(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    out_dir = _tmp_dir("sink_parquet_clustered", sf_dir)
    shutil.rmtree(out_dir, ignore_errors=True)
    d = load(spark, sf_dir, "documents")
    # the sort LEADS with the partition column: the dynamic-partition
    # writer requires its tasks sorted by partition cols and would
    # otherwise insert its own (unstable) lang-only sort, destroying
    # the n_chars clustering; a satisfied ordering is passed through
    (
        d.repartition("lang")
        .sortWithinPartitions("lang", "n_chars", "doc_id")
        .write.mode("overwrite")
        .partitionBy("lang")
        .parquet(out_dir)
    )
    # explicit schema: survives the zero-data-file write of an empty
    # input (see sink_parquet_partitioned)
    back = spark.read.schema(d.schema).parquet(out_dir)
    return back.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.min("n_chars").cast("bigint").alias("min_chars"),
        F.max("n_chars").cast("bigint").alias("max_chars"),
        F.min("doc_id").alias("min_doc_id"),
    )


@Q.add(
    "scan_text",
    """
    SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           MIN(doc_id) AS min_doc_id
    FROM documents
    GROUP BY lang
    """,
    doc="plain-text source round-trip: documents serialized to "
    "delimited text lines (write.text), read back with read.text and "
    "parsed with one split + casts — the lowest-common-denominator "
    "ingestion path for log files and legacy exports where no "
    "structured reader exists. Aggregate hash-equality vs the parquet "
    "original proves the parse is lossless. The parse stays entirely "
    "in scan-stage codegen (split + element_at + cast — no Python, "
    "no regex backtracking), so at 100 TB the text decode is "
    "CPU-bound exactly like a CSV scan, and the line format (tab "
    "join) is split-safe because the serialized columns are "
    "tab-free. NULL fields serialize as the classic TSV \\\\N marker "
    "(concat_ws silently DROPS nulls, misaligning every later field "
    "— the null-payload-sweep crash) and decode back to NULL, so the "
    "round-trip is lossless for nullable columns too; try_element_at "
    "keeps a short line a NULL, never an ANSI crash.",
)
def scan_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    out_dir = _tmp_dir("scan_text", sf_dir)
    shutil.rmtree(out_dir, ignore_errors=True)
    d = load(spark, sf_dir, "documents")

    def enc(c: str):
        return F.coalesce(F.col(c).cast("string"), F.lit("\\N"))

    def dec(e):
        return F.when(e == "\\N", F.lit(None).cast("string")).otherwise(e)

    d.select(
        F.concat_ws("\t", enc("doc_id"), enc("lang"), enc("n_chars")).alias(
            "value"
        )
    ).write.mode("overwrite").text(out_dir)
    back = (
        spark.read.text(out_dir)
        .select(F.split("value", "\t").alias("p"))
        .select(
            dec(F.try_element_at("p", F.lit(1))).cast("bigint").alias("doc_id"),
            dec(F.try_element_at("p", F.lit(2))).alias("lang"),
            dec(F.try_element_at("p", F.lit(3))).cast("bigint").alias("n_chars"),
        )
    )
    return back.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.min("doc_id").alias("min_doc_id"),
    )


@Q.add(
    "agg_gini",
    """
    WITH ranked AS (
      SELECT o_orderpriority,
             TRY_CAST(CAST(CASE WHEN isfinite(o_totalprice) THEN o_totalprice END AS VARCHAR) AS DECIMAL(18,6)) AS x,
             ROW_NUMBER() OVER (
               PARTITION BY o_orderpriority
               ORDER BY o_totalprice, o_orderkey) AS i
      FROM orders
    ),
    m AS (
      SELECT o_orderpriority,
             COUNT(*) AS n_orders,
             SUM(x * TRY_CAST(i AS DECIMAL(10,0))) AS num,
             SUM(x) AS den
      FROM ranked GROUP BY o_orderpriority
    )
    SELECT o_orderpriority, n_orders,
           CAST(den AS DOUBLE) AS total,
           ROUND(2 * CAST(num AS DOUBLE) / CAST(n_orders AS DOUBLE)
                   / CAST(den AS DOUBLE)
                 - CAST(n_orders + 1 AS DOUBLE) / CAST(n_orders AS DOUBLE),
                 4) AS gini
    FROM m
    """,
    doc="Gini concentration of order value per priority class — the "
    "inequality/skew audit run on revenue, token budgets, or shard "
    "sizes before capacity planning (G = 2*sum(i*x_i)/(n*sum(x)) - "
    "(n+1)/n over ascending-ranked x). Rank ties are broken by "
    "o_orderkey, which leaves the statistic unchanged (equal x values "
    "commute in sum(i*x)) but makes every intermediate row "
    "deterministic. The moment sums are exact DECIMAL "
    "(order-independent, map-side combinable); doubles appear only in "
    "the final scalar expression, written with identical text both "
    "engines. Shapes: ONE o_orderpriority Exchange serves both the "
    "rank window and the rollup — a single shuffle at 100 TB; the "
    "per-group sort is the window's, not a global one.",
)
def agg_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        "o_totalprice", "o_orderkey"
    )
    ranked = o.select(
        "o_orderpriority",
        F.expr("TRY_CAST(o_totalprice AS DECIMAL(18,6))").alias("x"),
        F.row_number().over(w).alias("i"),
    )
    m = ranked.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.expr("SUM(x * TRY_CAST(i AS DECIMAL(10,0)))").alias("num"),
        F.sum("x").alias("den"),
    )
    return m.select(
        "o_orderpriority",
        "n_orders",
        F.expr("CAST(den AS DOUBLE)").alias("total"),
        F.expr(
            "ROUND(2 * CAST(num AS DOUBLE) / CAST(n_orders AS DOUBLE)"
            "        / CAST(den AS DOUBLE)"
            "      - CAST(n_orders + 1 AS DOUBLE) / CAST(n_orders AS DOUBLE),"
            "      4)"
        ).alias("gini"),
    )


@Q.add(
    "anomaly_iqr",
    """
    WITH fences AS (
      SELECT event_type,
             quantile_cont(CASE WHEN isfinite(value) THEN value END, 0.25) AS q1,
             quantile_cont(CASE WHEN isfinite(value) THEN value END, 0.75) AS q3
      FROM events GROUP BY event_type
    )
    SELECT e.event_id, e.event_type, e.value,
           CASE WHEN e.value < q1 - 1.5 * (q3 - q1)
                THEN 'low' ELSE 'high' END AS side
    FROM events e JOIN fences f ON e.event_type = f.event_type
    WHERE e.value < q1 - 1.5 * (q3 - q1)
       OR e.value > q3 + 1.5 * (q3 - q1)
    """,
    doc="Tukey-fence outlier detection per event type: flag events "
    "outside [q1 - 1.5*IQR, q3 + 1.5*IQR] — the robust anomaly screen "
    "that, unlike z-scores (win_rolling_anomaly / feature_zscore), "
    "is not itself dragged by the outliers it hunts. The quartiles "
    "are exact type-7 interpolation (Spark percentile() == DuckDB "
    "quantile_cont, the agg_percentiles identity) and the fence "
    "arithmetic uses identical expression text both engines, so the "
    "boundary compare is bit-identical and no row can flip in or "
    "out. Shapes: fences are a bounded per-type rollup (5 rows) "
    "broadcast back onto the fact table — the filter runs map-side "
    "in the scan stage; the only full shuffle is the quartile "
    "groupBy. Exact quantiles sort per group; at 100 TB swap in "
    "percentile_approx with the same fence expression.",
)
def anomaly_iqr(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    fences = e.groupBy("event_type").agg(
        # finite-mass quartiles (the agg_percentiles contract): NaN/Inf
        # carry no rank information and the engines disagree on them
        F.expr("percentile(CASE WHEN NOT isnan(value) AND abs(value) != double('infinity') THEN value END, 0.25)").alias("q1"),
        F.expr("percentile(CASE WHEN NOT isnan(value) AND abs(value) != double('infinity') THEN value END, 0.75)").alias("q3"),
    )
    j = e.select("event_id", "event_type", "value").join(
        F.broadcast(fences), "event_type"
    )
    lo = F.expr("q1 - 1.5 * (q3 - q1)")
    hi = F.expr("q3 + 1.5 * (q3 - q1)")
    return j.filter((F.col("value") < lo) | (F.col("value") > hi)).select(
        "event_id",
        "event_type",
        "value",
        F.when(F.col("value") < lo, F.lit("low"))
        .otherwise(F.lit("high"))
        .alias("side"),
    )


@Q.add(
    "win_ewma",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             CAST(CAST(SUM(TRY_CAST(CAST(CASE WHEN isfinite(value) THEN value END AS VARCHAR) AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS rev
      FROM events GROUP BY event_type, d
    ),
    framed AS (
      SELECT event_type, d, rev,
             list(rev) OVER (PARTITION BY event_type ORDER BY d
                             ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS l
      FROM daily
    )
    SELECT event_type, strftime(d, '%Y-%m-%d') AS day, rev,
           -- the frame list is NULL-FILTERED before the fold: a day
           -- whose rev is NULL (no finite mass that day) is treated as
           -- unobserved, matching Spark's collect_list which SKIPS
           -- NULLs while DuckDB's list() includes them — a NULL frame
           -- element would otherwise poison the fold to NULL on this
           -- side only (found by fuzz seed 0: the ts-sentinel lane
           -- mod 25 residue 1 lands entirely inside the value-NULL
           -- lane mod 5 residue 1, making one whole day NULL-rev).
           -- EWMA over zero observed days is NULL on both engines.
           CASE WHEN len(list_filter(l, x -> x IS NOT NULL)) = 0 THEN NULL
                ELSE floor(list_reduce(list_filter(l, x -> x IS NOT NULL),
                                       (acc, x) -> 0.3 * x + 0.7 * acc)
                           * 10000 + 0.5) / 10000 END AS ewma
    FROM framed
    """,
    doc="exponentially-weighted moving average (alpha=0.3) of daily "
    "value volume per event type over a trailing-10-day frame — the "
    "trend smoother behind burn-rate dashboards and drift alerts, "
    "where a plain moving average lags and a full-history EWMA can't "
    "be windowed. The recurrence acc = 0.3*x + 0.7*acc is evaluated "
    "by FOLDING the frame's value list oldest-to-newest with "
    "identical lambda text both engines (Spark aggregate() == DuckDB "
    "list_reduce, same seed = first element, same association "
    "order), so the float arithmetic is bit-identical — no pow(), "
    "whose libm rounding differs across engines. Shapes: daily "
    "rollup map-side combines into one event_type Exchange; the "
    "frame window rides the SAME partitioning over the tiny "
    "aggregate, and the frame is 10 elements — constant memory.",
)
def win_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.to_date("ts").alias("d")
    ).agg(
        F.expr("CAST(SUM(TRY_CAST(value AS DECIMAL(18,6))) AS DOUBLE)").alias(
            "rev"
        )
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(-9, Window.currentRow)
    )
    framed = daily.select(
        "event_type", "d", "rev", F.collect_list("rev").over(w).alias("l")
    )
    return framed.select(
        "event_type",
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        "rev",
        # floor(x*1e4 + 0.5)/1e4 instead of ROUND: Spark ROUND goes
        # through BigDecimal(shortest-repr) HALF_UP while DuckDB rounds
        # the binary double, so values landing on a .xxxx5 boundary
        # (common here: the fold's inputs are 2-decimal money) differ by
        # 1e-4 — floor/add/divide are IEEE-exact in both engines.
        # collect_list already SKIPS NULL revs (all-NULL-value days,
        # fuzz seed 0), so `l` holds only observed days — the size()=0
        # guard keeps an all-unobserved frame from reaching
        # element_at(l, 1), which raises under ANSI on an empty array
        F.expr(
            "CASE WHEN size(l) = 0 THEN NULL ELSE"
            " floor(aggregate(slice(l, 2, size(l) - 1), element_at(l, 1),"
            " (acc, x) -> 0.3 * x + 0.7 * acc) * 10000 + 0.5) / 10000 END"
        ).alias("ewma"),
    )


@Q.add(
    "conversion_lag",
    """
    WITH s AS (
      SELECT user_id, MIN(((least(greatest(epoch_us(ts), -9223372036854775), 9223372036854775)) - (least(greatest(epoch_us(ts), -9223372036854775), 9223372036854775)) % 1000000) // 1000000) AS signup_s
      FROM events WHERE event_type = 'signup' GROUP BY user_id
    ),
    p AS (
      SELECT e.user_id,
             MIN(((least(greatest(epoch_us(e.ts), -9223372036854775), 9223372036854775)) - (least(greatest(epoch_us(e.ts), -9223372036854775), 9223372036854775)) % 1000000) // 1000000) AS purchase_s
      FROM events e JOIN s ON e.user_id = s.user_id
      WHERE e.event_type = 'purchase'
        AND ((least(greatest(epoch_us(e.ts), -9223372036854775), 9223372036854775)) - (least(greatest(epoch_us(e.ts), -9223372036854775), 9223372036854775)) % 1000000) // 1000000 >= s.signup_s
      GROUP BY e.user_id
    )
    SELECT s.user_id, s.signup_s, p.purchase_s,
           p.purchase_s - s.signup_s AS lag_s
    FROM s JOIN p ON s.user_id = p.user_id
    """,
    doc="time-to-convert: seconds from each user's first signup to "
    "their first purchase at-or-after it — the activation-funnel "
    "latency metric (funnel_steps counts who converts; this measures "
    "how long they take). All epoch math is integer seconds (DIV), "
    "so no float touches the compare or the lag. Shapes: the signup "
    "rollup is a bounded per-user table joined back on the SAME "
    "user_id key the purchase rollup shuffles on — one key, two "
    "map-side-combined aggregations, and AQE picks broadcast for "
    "the converter side when it is small (it always is: conversions "
    "are a fraction of traffic).",
)
def conversion_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    t_s = F.expr("ts_ns DIV 1000000000")
    s = (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min(t_s).alias("signup_s"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .select("user_id", t_s.alias("t_s"))
        .join(s, "user_id")
        .filter(F.col("t_s") >= F.col("signup_s"))
        .groupBy("user_id")
        .agg(F.min("t_s").alias("purchase_s"))
    )
    return s.join(p, "user_id").select(
        "user_id",
        "signup_s",
        "purchase_s",
        (F.col("purchase_s") - F.col("signup_s")).alias("lag_s"),
    )


@Q.add(
    "rfm_segmentation",
    """
    WITH cust AS (
      SELECT o_custkey,
             MAX(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)))
               AS last_day,
             COUNT(*) AS freq,
             -- COALESCE 0: a customer whose EVERY order is non-finite/
             -- over-rail has no usable monetary mass; zero is the only
             -- rankable value both engines agree on (a NULL order key
             -- cannot totally order the engine's prefix-sum ranking,
             -- and the engines disagree on NULL placement)
             -- (extreme-money @ sf0.1 gate, r7)
             COALESCE(SUM(TRY_CAST(CAST(CASE WHEN isfinite(o_totalprice) THEN o_totalprice END AS VARCHAR) AS DECIMAL(18,6))), 0) AS monetary
      FROM orders GROUP BY o_custkey
    ),
    tot AS (SELECT COUNT(*) AS n FROM cust),
    ranked AS (
      SELECT o_custkey, monetary,
             row_number() OVER (ORDER BY last_day, o_custkey) AS r_rank,
             row_number() OVER (ORDER BY freq, o_custkey) AS f_rank,
             row_number() OVER (ORDER BY monetary, o_custkey) AS m_rank
      FROM cust
    )
    SELECT CAST((r_rank - 1) * 4 // n + 1 AS INT) AS r_q,
           CAST((f_rank - 1) * 4 // n + 1 AS INT) AS f_q,
           CAST((m_rank - 1) * 4 // n + 1 AS INT) AS m_q,
           COUNT(*) AS n_cust,
           -- floor-form, not ROUND: decimal-sum/count quotients can land
           -- on exact halves where the engines' rounds split (fuzz r9)
           floor(CAST(SUM(monetary) AS DOUBLE) / COUNT(*) * 100 + 0.5) / 100
             AS avg_monetary
    FROM ranked CROSS JOIN tot
    GROUP BY r_q, f_q, m_q
    """,
    doc="RFM customer segmentation (recency / frequency / monetary "
    "quartiles -> 64 cells) — the classic CRM / targeting rollup. The "
    "quartile is RANK-based ((rank-1)*4 DIV n + 1 on a fully "
    "tie-broken order), and each global rank comes from "
    "operators/prefix.global_cumsum over the per-customer aggregate "
    "(bin -> parallel local row_number -> broadcast bin offsets) — "
    "NOT a global ntile window, which would serialize every customer "
    "through one task; the oracle's row_number() is the semantic "
    "twin at toy scale. Monetary sums are exact DECIMAL; the only "
    "float is the final avg division, ROUND(2). Shapes: one shuffle "
    "to the per-customer grain, three bounded prefix-sum passes over "
    "it, one 64-cell rollup.",
)
def rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.prefix import global_cumsum

    o = load(spark, sf_dir, "orders")
    cust = o.groupBy("o_custkey").agg(
        F.max(
            F.datediff(
                F.col("o_orderdate").cast("date"),
                F.lit("1970-01-01").cast("date"),
            )
        ).alias("last_day"),
        F.count("*").alias("freq"),
        # COALESCE 0: all-non-finite customers have no usable monetary
        # mass; zero is the only rankable value (see oracle comment)
        F.expr(
            "COALESCE(SUM(TRY_CAST(o_totalprice AS DECIMAL(18,6))), 0)"
        ).alias("monetary"),
    )
    # ONE stats probe for all three rank dimensions (r10, guide §1.2):
    # the three chained global_cumsum calls each ran their own eager
    # min/max probe, and probes 2 and 3 re-executed every earlier
    # cumsum's bin/window lineage just to read bounds that are
    # invariant under adding rank columns — the measured 44-job /
    # 104-stage plan. cust is persisted so the probe job fills the
    # cache and the orders rollup runs exactly once; the cumsums then
    # receive their bounds and stay fully lazy until the final action.
    cust = (
        cust.withColumn("m_d", F.col("monetary").cast("double")).persist()
    )
    probe = cust.agg(
        F.min("last_day").alias("r_lo"), F.max("last_day").alias("r_hi"),
        F.min("freq").alias("f_lo"), F.max("freq").alias("f_hi"),
        F.min("m_d").alias("m_lo"), F.max("m_d").alias("m_hi"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    n = int(probe["n"])
    ranked = cust.withColumn("one", F.lit(1))
    for dim, out, lo, hi in (
        ("last_day", "r_rank", probe["r_lo"], probe["r_hi"]),
        ("freq", "f_rank", probe["f_lo"], probe["f_hi"]),
        ("m_d", "m_rank", probe["m_lo"], probe["m_hi"]),
    ):
        ranked = global_cumsum(
            ranked, order_col=dim, value_col="one", out_col=out,
            tiebreak_col="o_custkey",
            bounds=(lo, hi) if lo is not None else None,
        )
    # n rides the probe instead of a crossJoin(broadcast(tot)) branch
    return (
        ranked.withColumn("n", F.lit(n))
        .select(
            F.expr("CAST((r_rank - 1) * 4 DIV n + 1 AS INT)").alias("r_q"),
            F.expr("CAST((f_rank - 1) * 4 DIV n + 1 AS INT)").alias("f_q"),
            F.expr("CAST((m_rank - 1) * 4 DIV n + 1 AS INT)").alias("m_q"),
            "monetary",
        )
        .groupBy("r_q", "f_q", "m_q")
        .agg(
            F.count("*").alias("n_cust"),
            (
                F.floor(
                    F.expr("CAST(SUM(monetary) AS DOUBLE)")
                    / F.count("*")
                    * 100
                    + F.lit(0.5)
                )
                / 100
            ).alias("avg_monetary"),
        )
    )


@Q.add(
    "partial_agg_merge",
    """
    WITH shard AS (
      SELECT o_orderkey % 8 AS shard_id, o_orderpriority,
             COUNT(*) AS n,
             SUM(TRY_CAST(CAST(CASE WHEN isfinite(o_totalprice) THEN o_totalprice END AS VARCHAR) AS DECIMAL(18,6))) AS s,
             MIN(o_totalprice) AS mn, MAX(o_totalprice) AS mx
      FROM orders GROUP BY shard_id, o_orderpriority
    )
    SELECT o_orderpriority, COUNT(*) AS n_shards,
           CAST(SUM(n) AS BIGINT) AS n_orders,
           CAST(SUM(s) AS DOUBLE) AS total_price,
           ROUND(CAST(SUM(s) AS DOUBLE) / CAST(SUM(n) AS DOUBLE), 4)
             AS avg_price,
           MIN(mn) AS min_price, MAX(mx) AS max_price
    FROM shard GROUP BY o_orderpriority
    """,
    doc="re-aggregatable partial-state merge: shard-local partial "
    "aggregates (count / exact DECIMAL sum / min / max per 8-way "
    "hash shard) merge to exact global statistics — the algebraic- "
    "aggregate contract that makes map-side combine, incremental "
    "rollups, and cross-datacenter merges correct. count merges by "
    "sum, sum by sum, min/max by min/max; avg is derived ONLY at the "
    "final merge (merging avgs would be wrong — that is the point "
    "the query pins). Two map-side-combinable shuffles, both on "
    "bounded key spaces (8 x priorities, then priorities).",
)
def partial_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    shard = (
        o.select(
            (F.col("o_orderkey") % 8).alias("shard_id"),
            "o_orderpriority",
            "o_totalprice",
        )
        .groupBy("shard_id", "o_orderpriority")
        .agg(
            F.count("*").alias("n"),
            F.expr("SUM(TRY_CAST(o_totalprice AS DECIMAL(18,6)))").alias("s"),
            F.min("o_totalprice").alias("mn"),
            F.max("o_totalprice").alias("mx"),
        )
    )
    return shard.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_shards"),
        F.sum("n").cast("bigint").alias("n_orders"),
        F.expr("CAST(SUM(s) AS DOUBLE)").alias("total_price"),
        F.round(
            F.expr("CAST(SUM(s) AS DOUBLE)")
            / F.sum("n").cast("double"),
            4,
        ).alias("avg_price"),
        F.min("mn").alias("min_price"),
        F.max("mx").alias("max_price"),
    )


@Q.add(
    "gaps_islands",
    """
    WITH months AS (
      SELECT DISTINCT o_custkey,
             date_part('year', o_orderdate) * 12
               + date_part('month', o_orderdate) AS m
      FROM orders
    ),
    seq AS (
      SELECT o_custkey, m,
             m - row_number() OVER (PARTITION BY o_custkey ORDER BY m)
               AS isl
      FROM months
    ),
    isl AS (
      SELECT o_custkey, isl, COUNT(*) AS len, MIN(m) AS start_m
      FROM seq GROUP BY o_custkey, isl
    )
    SELECT o_custkey, COUNT(*) AS n_islands,
           CAST(MAX(len) AS BIGINT) AS max_run_months,
           CAST(MIN(start_m) AS BIGINT) AS first_month
    FROM isl GROUP BY o_custkey
    """,
    doc="gaps-and-islands: per customer, runs of CONSECUTIVE active "
    "months (the m - row_number() constant-difference trick) rolled "
    "up to island count / longest streak — the engagement-streak / "
    "uptime-interval primitive. Entirely integer month arithmetic "
    "(year*12+month), so no date-binning drift between engines. "
    "Shapes: the window partitions by o_custkey (parallel across "
    "customers, bounded within one), and both rollups combine "
    "map-side; one Exchange on o_custkey serves all three steps.",
)
def gaps_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    months = o.select(
        "o_custkey",
        (
            F.year("o_orderdate").cast("bigint") * 12
            + F.month("o_orderdate")
        ).alias("m"),
    ).distinct()
    w = Window.partitionBy("o_custkey").orderBy("m")
    seq = months.select(
        "o_custkey", "m", (F.col("m") - F.row_number().over(w)).alias("isl")
    )
    isl = seq.groupBy("o_custkey", "isl").agg(
        F.count("*").alias("len"), F.min("m").alias("start_m")
    )
    return isl.groupBy("o_custkey").agg(
        F.count("*").alias("n_islands"),
        F.max("len").cast("bigint").alias("max_run_months"),
        F.min("start_m").cast("bigint").alias("first_month"),
    )


@Q.add(
    "interpolate_linear",
    """
    WITH daily AS (
      SELECT datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
               AS d,
             CAST(CAST(SUM(TRY_CAST(CAST(CASE WHEN isfinite(o_totalprice) THEN o_totalprice END AS VARCHAR) AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS v
      FROM orders GROUP BY d
    ),
    marked AS (
      SELECT d, v, (d % 3 <> 0) AS known FROM daily
    ),
    nb AS (
      SELECT d, v, known,
             last_value(CASE WHEN known THEN d END IGNORE NULLS)
               OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pd,
             last_value(CASE WHEN known THEN v END IGNORE NULLS)
               OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pv,
             first_value(CASE WHEN known THEN d END IGNORE NULLS)
               OVER (ORDER BY d ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nd,
             first_value(CASE WHEN known THEN v END IGNORE NULLS)
               OVER (ORDER BY d ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nv
      FROM marked
    )
    SELECT d,
           -- floor(x*1e4+0.5)/1e4, not ROUND: midpoint interpolation of
           -- 6-decimal day sums yields SYSTEMATIC .xxxx5 ties, where
           -- Spark's ROUND (shortest-repr BigDecimal) and DuckDB's
           -- (binary-value) disagree by 1 ulp of the 4th decimal; the
           -- floor form is the same IEEE ops on both engines
           -- (extreme-money gate, r7)
           CASE WHEN known THEN FLOOR(v * 10000 + 0.5) / 10000
                WHEN pd IS NULL OR nd IS NULL THEN NULL
                ELSE FLOOR((pv + (nv - pv) * CAST(d - pd AS DOUBLE)
                                / CAST(nd - pd AS DOUBLE)) * 10000 + 0.5)
                     / 10000
           END AS v_filled,
           CAST(known AS INT) AS is_observed
    FROM nb
    """,
    doc="linear interpolation of a gappy daily series (every day "
    "divisible by 3 is masked, then reconstructed from its nearest "
    "known neighbors on both sides) — the time-series-repair "
    "companion to win_fill_forward's step-fill. value = pv + "
    "(nv-pv)*(d-pd)/(nd-pd): neighbor values are exact-DECIMAL day "
    "sums cast once to double, day distances are integers, so both "
    "engines evaluate the identical float expression; ROUND(4). "
    "Series edges with no neighbor on one side stay NULL rather "
    "than inventing data. The global-order window is over the "
    "per-DAY series — calendar-bounded (~2.4k rows here, 36.5k rows "
    "even for a century), not data-bounded, so the single-task "
    "window is safe at any corpus scale once the day grain is "
    "aggregated (that aggregation IS distributed).",
)
def interpolate_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    daily = (
        o.select(
            F.datediff(
                F.col("o_orderdate").cast("date"),
                F.lit("1970-01-01").cast("date"),
            ).alias("d"),
            "o_totalprice",
        )
        .groupBy("d")
        .agg(
            F.expr(
                "CAST(SUM(TRY_CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)"
            ).alias("v")
        )
    )
    marked = daily.select("d", "v", (F.col("d") % 3 != 0).alias("known"))
    kd = F.when(F.col("known"), F.col("d"))
    kv = F.when(F.col("known"), F.col("v"))
    w_prev = (
        Window.orderBy("d").rowsBetween(Window.unboundedPreceding, -1)
    )
    w_next = Window.orderBy("d").rowsBetween(1, Window.unboundedFollowing)
    nb = marked.select(
        "d",
        "v",
        "known",
        F.last(kd, ignorenulls=True).over(w_prev).alias("pd"),
        F.last(kv, ignorenulls=True).over(w_prev).alias("pv"),
        F.first(kd, ignorenulls=True).over(w_next).alias("nd"),
        F.first(kv, ignorenulls=True).over(w_next).alias("nv"),
    )
    interp = F.col("pv") + (F.col("nv") - F.col("pv")) * (
        (F.col("d") - F.col("pd")).cast("double")
        / (F.col("nd") - F.col("pd")).cast("double")
    )
    # floor(x*1e4+0.5)/1e4, not round(): see the oracle comment —
    # midpoint ties are systematic here and the two engines' ROUND
    # conventions differ at exact 5-tails. Spark's floor(DOUBLE)
    # returns LONG with a SATURATING cast (|x| >= ~9.2e18 pins to
    # Long.MAX) while DuckDB's FLOOR stays DOUBLE — but any double
    # with |x| >= 2^52 is already integer-valued, so FLOOR(x) = x
    # there in DOUBLE semantics; branching at 2^52 (inside the safe
    # long range) mirrors the oracle at every magnitude (ADVICE r7)
    def _floor_tie4(c):
        x = c * 10000 + F.lit(0.5)
        return (
            F.when(F.abs(x) >= F.lit(4503599627370496.0), x)
            .otherwise(F.floor(x).cast("double"))
            / 10000
        )

    return nb.select(
        "d",
        F.when(F.col("known"), _floor_tie4(F.col("v")))
        .when(F.col("pd").isNull() | F.col("nd").isNull(), F.lit(None))
        .otherwise(_floor_tie4(interp))
        .alias("v_filled"),
        F.col("known").cast("int").alias("is_observed"),
    )


@Q.add(
    "table_diff",
    """
    WITH a AS (SELECT o_orderkey, o_totalprice AS price FROM orders),
    b AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 97 = 0 THEN o_totalprice + 1.0
                  ELSE o_totalprice END AS price
      FROM orders WHERE o_orderkey % 101 <> 0
      UNION ALL
      -- guarded shift mirrors the engine: +10000000 below the int64
      -- rail, deterministic 2^62-band wrap at it (extremekeys, r6)
      SELECT CASE WHEN o_orderkey > 9223372036854775807 - 10000000
                  THEN 4611686018427387904
                       + (o_orderkey - (9223372036854775807 - 10000000))
                  ELSE o_orderkey + 10000000 END,
             o_totalprice
      FROM orders WHERE o_orderkey % 103 = 0
    ),
    d AS (
      SELECT COALESCE(a.o_orderkey, b.o_orderkey) AS k,
             CASE WHEN b.o_orderkey IS NULL THEN 'removed'
                  WHEN a.o_orderkey IS NULL THEN 'added'
                  WHEN a.price <> b.price THEN 'changed'
                  ELSE 'unchanged' END AS class
      FROM a FULL JOIN b ON a.o_orderkey = b.o_orderkey
    )
    SELECT class, COUNT(*) AS n,
           MIN(k) AS min_key, MAX(k) AS max_key
    FROM d GROUP BY class
    """,
    doc="snapshot reconciliation / data-diff: a full-outer join on the "
    "primary key classifies every row of two table versions as "
    "added / removed / changed / unchanged (the audit behind "
    "migration sign-offs and replication checks). The second "
    "version is derived in-query by deterministic integer-key rules "
    "(drop %101, restate %97 price, insert shifted %103 keys), so "
    "both engines diff byte-identical inputs; the price comparison "
    "is on identically-derived doubles — exact. Shapes: ONE "
    "co-partitioned full-outer shuffle join on the key, then a "
    "4-row rollup; at 100 TB this is the plan you want (sort-merge "
    "on the PK both sides, no broadcast of a full snapshot).",
)
def table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    a = o.select("o_orderkey", F.col("o_totalprice").alias("price"))
    b = (
        o.filter(F.col("o_orderkey") % 101 != 0)
        .select(
            "o_orderkey",
            F.when(
                F.col("o_orderkey") % 97 == 0, F.col("o_totalprice") + 1.0
            )
            .otherwise(F.col("o_totalprice"))
            .alias("price"),
        )
        .unionByName(
            o.filter(F.col("o_orderkey") % 103 == 0).select(
                # synthetic "added" keys: plain +10000000 below the
                # int64 rail (pre-r6 output bit-identical there);
                # rail keys wrap deterministically into the reserved
                # 2^62 band instead of ANSI-overflowing (extremekeys
                # sweep, r6) — band top 2^62+1e7 stays far from any
                # fixture id domain
                F.when(
                    F.col("o_orderkey")
                    > F.lit(9223372036854775807 - 10000000),
                    F.lit(4611686018427387904)
                    + (
                        F.col("o_orderkey")
                        - F.lit(9223372036854775807 - 10000000)
                    ),
                )
                .otherwise(F.col("o_orderkey") + 10000000)
                .alias("o_orderkey"),
                F.col("o_totalprice").alias("price"),
            )
        )
    )
    ak, bk = F.col("a.o_orderkey"), F.col("b.o_orderkey")
    d = (
        a.alias("a")
        .join(b.alias("b"), ak == bk, "full_outer")
        .select(
            F.coalesce(ak, bk).alias("k"),
            F.when(bk.isNull(), "removed")
            .when(ak.isNull(), "added")
            .when(F.col("a.price") != F.col("b.price"), "changed")
            .otherwise("unchanged")
            .alias("class"),
        )
    )
    return d.groupBy("class").agg(
        F.count("*").alias("n"),
        F.min("k").alias("min_key"),
        F.max("k").alias("max_key"),
    )


@Q.add(
    "referential_check",
    """
    WITH parent AS (SELECT c_custkey FROM customer WHERE c_custkey % 7 <> 0),
    e1 AS (
      SELECT 'orders.o_custkey->customer(degraded)' AS fk,
             COUNT(*) AS n_child,
             CAST(SUM(CASE WHEN p.c_custkey IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_orphans
      FROM orders LEFT JOIN parent p ON o_custkey = p.c_custkey
    ),
    e2 AS (
      SELECT 'lineitem.l_orderkey->orders' AS fk, COUNT(*) AS n_child,
             CAST(SUM(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_orphans
      FROM lineitem LEFT JOIN orders o ON l_orderkey = o.o_orderkey
    ),
    e3 AS (
      SELECT 'lineitem.l_partkey->part' AS fk, COUNT(*) AS n_child,
             CAST(SUM(CASE WHEN p.p_partkey IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_orphans
      FROM lineitem LEFT JOIN part p ON l_partkey = p.p_partkey
    ),
    u AS (SELECT * FROM e1 UNION ALL SELECT * FROM e2
          UNION ALL SELECT * FROM e3)
    SELECT fk, n_child, n_orphans,
           ROUND(CAST(n_orphans AS DOUBLE) / n_child, 6) AS orphan_rate
    FROM u
    """,
    doc="referential-integrity audit over three FK edges at once "
    "(orders->customer, lineitem->orders, lineitem->part), each a "
    "LEFT probe join rolled straight into (child count, orphan "
    "count, orphan rate) — the DQ gate run before every load "
    "promotion. The customer parent is deliberately degraded "
    "in-query (%7 keys removed) so the audit provably reports "
    "nonzero violations, not a vacuous all-green. Shapes: each edge "
    "is one equi-join whose dimension side broadcasts when small "
    "(customer, part) and sort-merges when not (orders); the "
    "per-edge rollup is a 1-row map-side-combined aggregate, and "
    "the final union is 3 rows.",
)
def referential_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    cust = load(spark, sf_dir, "customer")
    part = load(spark, sf_dir, "part")
    parent = cust.filter(F.col("c_custkey") % 7 != 0).select("c_custkey")

    def edge(child, ckey, par, pkey, label):
        return (
            child.select(ckey)
            .join(par, F.col(ckey) == F.col(pkey), "left")
            .agg(
                F.lit(label).alias("fk"),
                F.count("*").alias("n_child"),
                F.sum(F.col(pkey).isNull().cast("int"))
                .cast("bigint")
                .alias("n_orphans"),
            )
            .select(
                "fk",
                "n_child",
                "n_orphans",
                F.round(
                    F.col("n_orphans").cast("double") / F.col("n_child"), 6
                ).alias("orphan_rate"),
            )
        )

    e1 = edge(
        o, "o_custkey", F.broadcast(parent), "c_custkey",
        "orders.o_custkey->customer(degraded)",
    )
    e2 = edge(
        li, "l_orderkey", o.select("o_orderkey"), "o_orderkey",
        "lineitem.l_orderkey->orders",
    )
    e3 = edge(
        li, "l_partkey", F.broadcast(part.select("p_partkey")), "p_partkey",
        "lineitem.l_partkey->part",
    )
    return e1.unionByName(e2).unionByName(e3)


@Q.add(
    "cohort_ltv",
    """
    WITH first AS (
      SELECT o_custkey,
             MIN(date_part('year', o_orderdate) * 12
                 + date_part('month', o_orderdate)) AS cm
      FROM orders GROUP BY o_custkey
    ),
    r AS (
      SELECT f.cm AS cohort_m,
             (date_part('year', o.o_orderdate) * 12
              + date_part('month', o.o_orderdate)) - f.cm AS offs,
             TRY_CAST(CAST(CASE WHEN isfinite(o.o_totalprice) THEN o.o_totalprice END AS VARCHAR) AS DECIMAL(18,6)) AS p,
             o.o_custkey
      FROM orders o JOIN first f USING (o_custkey)
    ),
    g AS (
      SELECT cohort_m, offs, COUNT(DISTINCT o_custkey) AS n_active,
             SUM(p) AS rev
      FROM r GROUP BY cohort_m, offs
    )
    SELECT CAST(cohort_m AS BIGINT) AS cohort_m,
           CAST(offs AS BIGINT) AS offs, n_active,
           CAST(rev AS DOUBLE) AS revenue,
           CAST(SUM(rev) OVER (PARTITION BY cohort_m ORDER BY offs)
                AS DOUBLE) AS cum_revenue
    FROM g
    """,
    doc="cohort lifetime-value curve: customers grouped by first-order "
    "month, revenue rolled to (cohort, month-offset) cells, then the "
    "running LTV via a cumulative window WITHIN each cohort — the "
    "payback-period table every growth team reads. Cohort/offset are "
    "integer month arithmetic; revenue is exact DECIMAL end-to-end "
    "(the cumulative sum runs on DECIMAL, cast to double only on "
    "output) — so the running totals are order-independent and "
    "bit-identical. Shapes: first-order table shuffles on o_custkey "
    "and joins back co-partitioned; the cumulative window partitions "
    "by cohort with calendar-bounded rows per partition.",
)
def cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    m = (
        F.year("o_orderdate").cast("bigint") * 12 + F.month("o_orderdate")
    )
    first = o.groupBy("o_custkey").agg(F.min(m).alias("cm"))
    r = o.join(first, "o_custkey").select(
        F.col("cm").alias("cohort_m"),
        (m - F.col("cm")).alias("offs"),
        F.expr("TRY_CAST(o_totalprice AS DECIMAL(18,6))").alias("p"),
        "o_custkey",
    )
    g = r.groupBy("cohort_m", "offs").agg(
        F.countDistinct("o_custkey").alias("n_active"),
        F.sum("p").alias("rev"),
    )
    w = Window.partitionBy("cohort_m").orderBy("offs")
    return g.select(
        F.col("cohort_m").cast("bigint").alias("cohort_m"),
        F.col("offs").cast("bigint").alias("offs"),
        "n_active",
        F.col("rev").cast("double").alias("revenue"),
        F.sum("rev").over(w).cast("double").alias("cum_revenue"),
    )


@Q.add(
    "ab_test_proportions",
    """
    WITH u AS (
      SELECT user_id, user_id % 2 AS variant,
             CASE WHEN SUM(CASE WHEN event_type = 'purchase' THEN 1
                               ELSE 0 END) >= 14 THEN 1 ELSE 0 END AS conv
      FROM events GROUP BY user_id
    ),
    v AS (
      SELECT variant, COUNT(*) AS n, CAST(SUM(conv) AS BIGINT) AS c
      FROM u GROUP BY variant
    ),
    w AS (
      SELECT MAX(CASE WHEN variant = 0 THEN n END) AS n0,
             MAX(CASE WHEN variant = 0 THEN c END) AS c0,
             MAX(CASE WHEN variant = 1 THEN n END) AS n1,
             MAX(CASE WHEN variant = 1 THEN c END) AS c1
      FROM v
    ),
    s AS (
      SELECT n0, c0, n1, c1,
             CAST(c0 AS DOUBLE) / n0 AS rp0,
             CAST(c1 AS DOUBLE) / n1 AS rp1,
             sqrt((CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
                  * (1 - CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
                  * (1.0 / n0 + 1.0 / n1)) AS se
      FROM w
    )
    SELECT n0, c0, n1, c1,
           ROUND(rp0, 6) AS p0,
           ROUND(rp1, 6) AS p1,
           CASE WHEN se = 0 THEN NULL ELSE ROUND((rp1 - rp0) / se, 4)
           END AS z
    FROM s
    """,
    doc="two-proportion A/B z-test (pooled standard error) on a "
    "user-level conversion metric: users split by id parity, "
    "'converted' = >= 14 purchase events, z = (p1-p0)/SE_pooled — "
    "the experimentation readout. Every input to the float "
    "expression is an integer count, the expression tree is spelled "
    "identically in both engines, and the result is ROUND(4) — "
    "deterministic. A degenerate split (every user converts, or "
    "none — fuzz seeds 8/9's user/type skew) makes the pooled "
    "p-hat 0 or 1 and SE_pooled exactly 0.0: Spark's ANSI division "
    "raises DIVIDE_BY_ZERO where DuckDB's IEEE double division "
    "yields NaN, so BOTH engines guard se = 0 to a NULL z (the "
    "z-test is undefined there). Shapes: one map-side-combined "
    "rollup to the user grain (the only data-sized shuffle), a "
    "2-row variant agg, a 1-row pivot; the z-score math touches 4 "
    "integers.",
)
def ab_test_proportions(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    u = e.groupBy("user_id").agg(
        (F.col("user_id") % 2).alias("variant"),
        (
            F.sum((F.col("event_type") == "purchase").cast("int")) >= 14
        )
        .cast("int")
        .alias("conv"),
    )
    v = u.groupBy("variant").agg(
        F.count("*").alias("n"), F.sum("conv").cast("bigint").alias("c")
    )
    w = v.agg(
        F.max(F.when(F.col("variant") == 0, F.col("n"))).alias("n0"),
        F.max(F.when(F.col("variant") == 0, F.col("c"))).alias("c0"),
        F.max(F.when(F.col("variant") == 1, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("variant") == 1, F.col("c"))).alias("c1"),
    )
    n0, c0 = F.col("n0"), F.col("c0")
    n1, c1 = F.col("n1"), F.col("c1")
    pp = (c0 + c1).cast("double") / (n0 + n1)
    se = F.sqrt(pp * (1 - pp) * (1.0 / n0 + 1.0 / n1))
    return w.select(
        "n0",
        "c0",
        "n1",
        "c1",
        F.round(c0.cast("double") / n0, 6).alias("p0"),
        F.round(c1.cast("double") / n1, 6).alias("p1"),
        # se = 0 (degenerate split: pooled p-hat 0 or 1) -> NULL z in
        # BOTH engines; CASE short-circuits so ANSI never divides by 0
        F.when(
            se != 0,
            F.round(
                (c1.cast("double") / n1 - c0.cast("double") / n0) / se, 4
            ),
        ).alias("z"),
    )


@Q.add(
    "survival_km",
    """
    WITH u AS (
      SELECT user_id,
             MIN(((least(greatest(epoch_us(ts), -9223372036854775), 9223372036854775)) - (least(greatest(epoch_us(ts), -9223372036854775), 9223372036854775)) % 1000000) // 1000000) AS first_s,
             MAX(((least(greatest(epoch_us(ts), -9223372036854775), 9223372036854775)) - (least(greatest(epoch_us(ts), -9223372036854775), 9223372036854775)) % 1000000) // 1000000) AS last_s
      FROM events GROUP BY user_id
    ),
    mx AS (SELECT MAX(last_s) AS max_s FROM u),
    lives AS (
      SELECT (last_s - first_s) // 86400 AS dur_d,
             CASE WHEN (max_s - last_s) // 86400 >= 14 THEN 1 ELSE 0 END
               AS observed
      FROM u CROSS JOIN mx
    ),
    grp AS (
      SELECT dur_d, CAST(SUM(observed) AS BIGINT) AS n_event,
             CAST(COUNT(*) - SUM(observed) AS BIGINT) AS n_censored,
             COUNT(*) AS n_total
      FROM lives GROUP BY dur_d
    ),
    risk AS (
      SELECT dur_d, n_event, n_censored,
             CAST(SUM(n_total) OVER (ORDER BY dur_d DESC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS at_risk
      FROM grp
    )
    -- a duration where EVERY remaining at-risk user dies makes the KM
    -- factor exactly 0: true KM semantics is survival = 0 there and
    -- beyond, but a bare ln(factor) raises in DuckDB and NULLs in
    -- Spark (found by fuzz seed 3, whose ts-sentinel lanes made every
    -- non-sentinel user 'observed' and produced an all-death group).
    -- The zero-factor rows are counted in a parallel cumulative flag;
    -- their ln contribution is neutralized with ln(1)=0
    SELECT dur_d, n_event, n_censored, at_risk,
           CASE WHEN SUM(CASE WHEN n_event >= at_risk THEN 1 ELSE 0 END)
                     OVER (ORDER BY dur_d
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) > 0
                THEN 0.0
                ELSE ROUND(exp(SUM(ln(CASE WHEN n_event >= at_risk THEN 1.0
                                       ELSE 1 - CAST(n_event AS DOUBLE)
                                                / at_risk END))
                     OVER (ORDER BY dur_d
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW)), 4) END AS survival
    FROM risk
    """,
    doc="Kaplan-Meier survival estimator over user lifetimes (first-to-"
    "last-event span; users still active in the final 14 days are "
    "right-CENSORED, not counted as deaths — the distinction that "
    "separates KM from a naive duration histogram). at-risk counts "
    "come from a suffix cumulative sum (ORDER BY dur DESC), not a "
    "total-broadcast; the survival curve is the running product "
    "folded as exp(cumsum(ln(factor))) in ascending-duration order — "
    "the same frame order in both engines, so the float fold is "
    "bit-reproducible, ROUND(4). Shapes: one shuffle to the user "
    "grain; everything after runs on the per-DAY duration grain, "
    "which is calendar-bounded, so the unpartitioned windows are "
    "safe at any corpus scale.",
)
def survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    t_s = F.expr("ts_ns DIV 1000000000")
    u = e.groupBy("user_id").agg(
        F.min(t_s).alias("first_s"), F.max(t_s).alias("last_s")
    )
    mx = u.agg(F.max("last_s").alias("max_s"))
    lives = u.crossJoin(F.broadcast(mx)).select(
        F.expr("(last_s - first_s) DIV 86400").alias("dur_d"),
        F.expr(
            "CASE WHEN (max_s - last_s) DIV 86400 >= 14 THEN 1 ELSE 0 END"
        ).alias("observed"),
    )
    grp = lives.groupBy("dur_d").agg(
        F.sum("observed").cast("bigint").alias("n_event"),
        (F.count("*") - F.sum("observed")).cast("bigint").alias("n_censored"),
        F.count("*").alias("n_total"),
    )
    w_suffix = Window.orderBy(F.desc("dur_d")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    risk = grp.select(
        "dur_d",
        "n_event",
        "n_censored",
        F.sum("n_total").over(w_suffix).cast("bigint").alias("at_risk"),
    )
    w_cum = Window.orderBy("dur_d").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    # zero-factor (all-deaths) durations zero the curve from there on:
    # true KM semantics, and the only crash/NULL-free formulation in
    # both engines (fuzz seed 3 — see the oracle comment)
    all_die = F.col("n_event") >= F.col("at_risk")
    lnf = F.log(
        F.when(all_die, F.lit(1.0)).otherwise(
            1 - F.col("n_event").cast("double") / F.col("at_risk")
        )
    )
    n_zero = F.sum(all_die.cast("int")).over(w_cum)
    return risk.select(
        "dur_d",
        "n_event",
        "n_censored",
        "at_risk",
        F.when(n_zero > 0, F.lit(0.0))
        .otherwise(F.round(F.exp(F.sum(lnf).over(w_cum)), 4))
        .alias("survival"),
    )


@Q.add(
    "attribution_linear",
    """
    WITH fp AS (
      SELECT user_id,
             MIN(ROW((least(greatest(epoch_us(ts), -9223372036854775), 9223372036854775) * 1000), event_id)) AS p
      FROM events WHERE event_type = 'purchase'
      GROUP BY user_id
    ),
    touches AS (
      SELECT e.user_id, e.event_type,
             'ch' || (CAST((CASE WHEN json_valid(e.props) THEN json_extract_string(e.props, '$.k') END) AS BIGINT) % 5)
               AS channel
      FROM events e JOIN fp ON e.user_id = fp.user_id
      WHERE e.event_type IN ('click', 'view')
        AND ROW((least(greatest(epoch_us(e.ts), -9223372036854775), 9223372036854775) * 1000), e.event_id) < fp.p
    ),
    per_user AS (
      SELECT user_id, channel, COUNT(*) AS n_ch
      FROM touches GROUP BY user_id, channel
    ),
    tot AS (
      SELECT user_id, CAST(SUM(n_ch) AS BIGINT) AS n_touches
      FROM per_user GROUP BY user_id
    )
    SELECT channel,
           CAST(SUM(n_ch) AS BIGINT) AS n_touches,
           COUNT(DISTINCT p.user_id) AS n_users,
           CAST(SUM(n_ch * (1000000 // t.n_touches)) AS BIGINT)
             AS credit_fp
    FROM per_user p JOIN tot t ON p.user_id = t.user_id
    GROUP BY channel
    """,
    doc="linear (equal-credit) multi-touch attribution: every "
    "click/view before the user's FIRST purchase shares the "
    "conversion credit equally — the complement to "
    "attribution_last_touch's winner-takes-all. Credit is "
    "FIXED-POINT integer (1e6 DIV n_touches per touch), so the "
    "per-channel totals sum exactly and order-independently — "
    "fractional float credit could never hash-match across engines. "
    "The 'before first purchase' cut is a (ts_ns, event_id) row "
    "tuple compare against a per-user MIN — total order, no ties. "
    "Shapes: everything shuffles once on user_id (first-purchase "
    "agg, the touch filter join, the per-user totals are all "
    "co-partitioned), then one bounded rollup on ~5 channels.",
)
def attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    fp = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min(F.struct("ts_ns", "event_id")).alias("p"))
    )
    touches = (
        e.join(fp, "user_id")
        .filter(
            F.col("event_type").isin("click", "view")
            & (F.struct("ts_ns", "event_id") < F.col("p"))
        )
        .select(
            "user_id",
            F.concat(
                F.lit("ch"),
                (
                    F.get_json_object("props", "$.k").cast("bigint") % 5
                ).cast("string"),
            ).alias("channel"),
        )
    )
    per_user = touches.groupBy("user_id", "channel").agg(
        F.count("*").alias("n_ch")
    )
    tot = per_user.groupBy("user_id").agg(
        F.sum("n_ch").cast("bigint").alias("n_touches")
    )
    return (
        per_user.join(tot, "user_id")
        .groupBy("channel")
        .agg(
            F.sum("n_ch").cast("bigint").alias("n_touches"),
            F.countDistinct("user_id").alias("n_users"),
            F.sum(
                F.col("n_ch") * F.expr("1000000 DIV n_touches")
            )
            .cast("bigint")
            .alias("credit_fp"),
        )
    )


@Q.add(
    "event_path_topk",
    """
    WITH seq AS (
      SELECT user_id, event_type,
             lead(event_type, 1) OVER w AS e2,
             lead(event_type, 2) OVER w AS e3
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY (least(greatest(epoch_us(ts), -9223372036854775), 9223372036854775) * 1000), event_id)
    )
    SELECT event_type || '>' || e2 || '>' || e3 AS path, COUNT(*) AS n
    FROM seq WHERE e3 IS NOT NULL
    GROUP BY path
    ORDER BY n DESC, path
    LIMIT 20
    """,
    doc="top-20 behavioral trigrams (3-step event-type paths within a "
    "user's timeline) — the sequence-mining rollup behind journey "
    "analysis and next-action models, generalizing "
    "event_transitions' bigrams. The path window is fully "
    "tie-broken ((ts_ns, event_id)); counts are integers and the "
    "top-k is tie-broken (n DESC, path) — deterministic. Shapes: "
    "ONE Exchange on user_id serves the lead() window; the "
    "trigram rollup combines map-side on a bounded key space "
    "(|event types|^3 = 125), then a 20-row TakeOrdered.",
)
def event_path_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
    seq = e.select(
        "event_type",
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    )
    return (
        seq.filter(F.col("e3").isNotNull())
        .select(
            F.concat_ws(">", "event_type", "e2", "e3").alias("path")
        )
        .groupBy("path")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "path")
        .limit(20)
    )


@Q.add(
    "join_interval_overlap",
    """
    SELECT a.o_custkey,
           a.o_orderkey AS key_a, b.o_orderkey AS key_b,
           CAST(30 - abs(da - db) AS BIGINT) AS overlap_days
    FROM (SELECT o_custkey, o_orderkey,
                 datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
                   AS da
          FROM orders) a
    JOIN (SELECT o_custkey, o_orderkey,
                 datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
                   AS db
          FROM orders) b
      ON a.o_custkey = b.o_custkey
     AND a.o_orderkey < b.o_orderkey
     AND db < da + 30 AND da < db + 30
    """,
    doc="interval-overlap self-join: pairs of orders from the SAME "
    "customer whose 30-day service windows overlap, with the "
    "overlap length — the temporal-join primitive behind "
    "concurrent-session / overlapping-contract detection. The join "
    "is an EQUI-join on o_custkey with the range predicates as "
    "residual filters — co-partitioned, bounded by per-customer "
    "order count, never a global range join; contrast "
    "join_theta_range (banded global range) which solves the "
    "no-equi-key case. Pure integer day arithmetic both engines.",
)
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    d = o.select(
        "o_custkey",
        "o_orderkey",
        F.datediff(
            F.col("o_orderdate").cast("date"),
            F.lit("1970-01-01").cast("date"),
        ).alias("d"),
    )
    a = d.select(
        "o_custkey",
        F.col("o_orderkey").alias("key_a"),
        F.col("d").alias("da"),
    )
    b = d.select(
        "o_custkey",
        F.col("o_orderkey").alias("key_b"),
        F.col("d").alias("db"),
    )
    return (
        a.join(b, "o_custkey")
        .filter(
            (F.col("key_a") < F.col("key_b"))
            & (F.col("db") < F.col("da") + 30)
            & (F.col("da") < F.col("db") + 30)
        )
        .select(
            "o_custkey",
            "key_a",
            "key_b",
            (30 - F.abs(F.col("da") - F.col("db")))
            .cast("bigint")
            .alias("overlap_days"),
        )
    )


@Q.add(
    "impute_median",
    """
    WITH masked AS (
      SELECT event_id, event_type,
             CASE WHEN event_id % 5 = 0 THEN NULL ELSE value END AS v
      FROM events
    ),
    med AS (
      SELECT event_type,
             quantile_cont(CASE WHEN isfinite(v) THEN v END, 0.5) AS m
      FROM masked GROUP BY event_type
    )
    SELECT e.event_id, e.event_type,
           ROUND(COALESCE(e.v, med.m), 4) AS v_imputed,
           CAST(e.v IS NULL AS INT) AS was_missing
    FROM masked e JOIN med USING (event_type)
    """,
    doc="missing-value imputation with the per-group median (every "
    "event_id %% 5 value is masked to NULL in-query, then repaired) "
    "— the standard ML-preprocessing step, median-based so the fill "
    "is robust to the outliers anomaly_iqr hunts. The median is "
    "exact type-7 interpolation over the NON-NULL values (both "
    "engines' quantile aggregates skip NULLs — that shared contract "
    "is what the query pins); COALESCE + ROUND(4) are spelled "
    "identically. Shapes: 5 fence rows broadcast onto the fact "
    "side, zero fact shuffle; percentile_approx swaps in at scale.",
)
def impute_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    masked = e.select(
        "event_id",
        "event_type",
        F.when(F.col("event_id") % 5 == 0, F.lit(None))
        .otherwise(F.col("value"))
        .alias("v"),
    )
    med = masked.groupBy("event_type").agg(
        F.expr("percentile(CASE WHEN NOT isnan(v) AND"
               " abs(v) != double('infinity') THEN v END, 0.5)").alias("m")
    )
    return (
        masked.join(F.broadcast(med), "event_type")
        .select(
            "event_id",
            "event_type",
            F.round(F.coalesce(F.col("v"), F.col("m")), 4).alias("v_imputed"),
            F.col("v").isNull().cast("int").alias("was_missing"),
        )
    )


@Q.add(
    "seasonality_profile",
    """
    WITH s AS (
      -- clamped-us trunc to seconds mirrors the engine's clamped
      -- ts_ns DIV 1e9; every later / is ALSO trunc-mirrored ((a -
      -- a % b) // b) because sentinel dates clamp to NEGATIVE
      -- seconds, where DuckDB's // floors but Spark's DIV truncates
      -- (extreme-ts parity audit, r6)
      SELECT ((least(greatest(epoch_us(ts), -9223372036854775),
                     9223372036854775))
              - (least(greatest(epoch_us(ts), -9223372036854775),
                       9223372036854775)) % 1000000) // 1000000 AS sec,
             value
      FROM events
    ),
    b AS (
      SELECT (((sec - sec % 86400) // 86400) + 4) % 7 AS dow,
             ((sec % 86400) - (sec % 86400) % 3600) // 3600 AS hod,
             value
      FROM s
    )
    SELECT CAST(dow AS BIGINT) AS dow, CAST(hod AS BIGINT) AS hod,
           COUNT(*) AS n,
           -- floor(x*1e4 + 0.5)/1e4, not ROUND: the exact-decimal sum
           -- / count can land exactly on a 4th-decimal half (fuzz
           -- seed 2 produced avg = 38.00375), where Spark's BigDecimal
           -- HALF_UP and DuckDB's binary-double ROUND disagree by 1e-4;
           -- floor/add/divide are IEEE-exact in both engines
           floor(CAST(CAST(SUM(TRY_CAST(CAST(CASE WHEN isfinite(value) THEN value END AS VARCHAR) AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)
                 / COUNT(*) * 10000 + 0.5) / 10000 AS avg_value
    FROM b GROUP BY dow, hod
    """,
    doc="day-of-week x hour-of-day seasonality profile (168 cells) of "
    "event volume and value — the baseline every anomaly detector "
    "and capacity planner subtracts first. Weekday comes from pure "
    "INTEGER epoch arithmetic ((epoch_day + 4) %% 7, anchored on "
    "1970-01-01 = Thursday) — not the engines' dayofweek() "
    "functions, whose 0-vs-1-based and Sunday-vs-Monday conventions "
    "differ; averages are exact-DECIMAL-sum / count. ONE map-side-"
    "combined aggregation on a fixed 168-key space, keys computed "
    "row-local in the scan stage.",
)
def seasonality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    es = F.expr("ts_ns DIV 1000000000")
    return (
        e.select(
            (((es / F.lit(86400)).cast("bigint") + 4) % 7).alias("dow"),
            F.expr("(ts_ns DIV 1000000000 % 86400) DIV 3600").alias("hod"),
            "value",
        )
        .groupBy("dow", "hod")
        .agg(
            F.count("*").alias("n"),
            # floor-form, not F.round: HALF_UP-vs-binary-double splits
            # on exact 4th-decimal halves (fuzz seed 2) — see oracle
            (
                F.floor(
                    F.expr(
                        "CAST(SUM(TRY_CAST(value AS DECIMAL(18,6))) AS DOUBLE)"
                    )
                    / F.count("*")
                    * 10000
                    + F.lit(0.5)
                )
                / 10000
            ).alias("avg_value"),
        )
    )


@Q.add(
    "histogram_equidepth",
    """
    WITH ranked AS (
      SELECT o_totalprice,
             row_number() OVER (ORDER BY o_totalprice, o_orderkey) AS r
      FROM orders
    ),
    tot AS (SELECT COUNT(*) AS n FROM orders)
    SELECT CAST((r - 1) * 10 // n AS INT) AS bucket,
           COUNT(*) AS n_rows,
           MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi,
           CAST(CAST(SUM(TRY_CAST(CAST(CASE WHEN isfinite(o_totalprice) THEN o_totalprice END AS VARCHAR) AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)
             AS bucket_sum
    FROM ranked CROSS JOIN tot
    GROUP BY bucket
    """,
    doc="equi-DEPTH histogram (10 buckets of equal row count, the "
    "optimizer-statistics / data-profiling twin of agg_histogram's "
    "equi-WIDTH bins): bucket = (rank-1)*10 DIV n over a fully "
    "tie-broken order. The rank comes from operators/prefix."
    "global_cumsum — a distributed row_number, no one-task global "
    "window over the fact table (the oracle's row_number() is the "
    "toy-scale twin); per-bucket sums are exact DECIMAL. Shapes: "
    "one prefix-sum pass (each row shuffled once on its range bin), "
    "one 10-key map-side-combined rollup, a 1-row count broadcast.",
)
def histogram_equidepth(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.prefix import global_cumsum

    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    ranked = global_cumsum(
        o.withColumn("one", F.lit(1)),
        order_col="o_totalprice",
        value_col="one",
        out_col="r",
        tiebreak_col="o_orderkey",
    )
    tot = o.agg(F.count("*").alias("n"))
    return (
        ranked.crossJoin(F.broadcast(tot))
        .select(
            F.expr("CAST((r - 1) * 10 DIV n AS INT)").alias("bucket"),
            "o_totalprice",
        )
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_rows"),
            F.min("o_totalprice").alias("lo"),
            F.max("o_totalprice").alias("hi"),
            F.expr(
                "CAST(SUM(TRY_CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)"
            ).alias("bucket_sum"),
        )
    )


@Q.add(
    "zorder_cluster",
    """
    WITH pts AS (
      SELECT o_orderkey, o_custkey % 256 AS xb,
             datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
               % 256 AS yb
      FROM orders
    ),
    z AS (
      SELECT o_orderkey, xb, yb,
             (xb // 1 % 2) * 1 + (yb // 1 % 2) * 2
           + (xb // 2 % 2) * 4 + (yb // 2 % 2) * 8
           + (xb // 4 % 2) * 16 + (yb // 4 % 2) * 32
           + (xb // 8 % 2) * 64 + (yb // 8 % 2) * 128
           + (xb // 16 % 2) * 256 + (yb // 16 % 2) * 512
           + (xb // 32 % 2) * 1024 + (yb // 32 % 2) * 2048
           + (xb // 64 % 2) * 4096 + (yb // 64 % 2) * 8192
           + (xb // 128 % 2) * 16384 + (yb // 128 % 2) * 32768 AS zv
      FROM pts
    )
    SELECT CAST(zv // 1024 AS BIGINT) AS cluster,
           COUNT(*) AS n_rows,
           CAST(MIN(zv) AS BIGINT) AS min_z, CAST(MAX(zv) AS BIGINT) AS max_z,
           CAST(MAX(xb) - MIN(xb) AS BIGINT) AS x_span,
           CAST(MAX(yb) - MIN(yb) AS BIGINT) AS y_span
    FROM z GROUP BY cluster
    """,
    doc="Z-order (Morton) clustering assignment: interleave 8 bits of "
    "two dimensions (customer bucket x day bucket) into a 16-bit "
    "z-value, cluster = zv DIV 1024 — the multi-dimensional "
    "data-layout key behind Delta/Iceberg Z-ORDER table "
    "maintenance, which lets a scan prune on EITHER dimension. The "
    "per-cluster x_span/y_span output IS the payoff measurement: "
    "every 64-row cluster spans <= 32 of 256 in both dimensions "
    "(against 256 for a 1-D sort's minor key). Bit extraction is "
    "spelled as pure integer DIV/%% arithmetic — identical text in "
    "both engines, no bitwise-operator dialect drift. Zero joins; "
    "one 64-key map-side-combined rollup.",
)
def zorder_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    pts = o.select(
        (F.col("o_custkey") % 256).alias("xb"),
        (
            F.datediff(
                F.col("o_orderdate").cast("date"),
                F.lit("1970-01-01").cast("date"),
            )
            % 256
        ).alias("yb"),
    )
    zv = sum(
        (
            F.expr(f"(xb DIV {1 << i} % 2) * {1 << (2 * i)}")
            + F.expr(f"(yb DIV {1 << i} % 2) * {1 << (2 * i + 1)}")
        )
        for i in range(8)
    )
    return (
        pts.select("xb", "yb", zv.alias("zv"))
        .groupBy(F.expr("zv DIV 1024").cast("bigint").alias("cluster"))
        .agg(
            F.count("*").alias("n_rows"),
            F.min("zv").cast("bigint").alias("min_z"),
            F.max("zv").cast("bigint").alias("max_z"),
            (F.max("xb") - F.min("xb")).cast("bigint").alias("x_span"),
            (F.max("yb") - F.min("yb")).cast("bigint").alias("y_span"),
        )
    )


@Q.add(
    "join_spatial_grid",
    """
    WITH pts AS (
      SELECT c_custkey,
             (16 * (strpos('0123456789abcdef',
                    substr(md5(CAST(c_custkey AS VARCHAR) || ':x'), 1, 1)) - 1)
              + (strpos('0123456789abcdef',
                    substr(md5(CAST(c_custkey AS VARCHAR) || ':x'), 2, 1)) - 1))
             * 256
             + 16 * (strpos('0123456789abcdef',
                    substr(md5(CAST(c_custkey AS VARCHAR) || ':x'), 3, 1)) - 1)
              + (strpos('0123456789abcdef',
                    substr(md5(CAST(c_custkey AS VARCHAR) || ':x'), 4, 1)) - 1)
               AS hx,
             (16 * (strpos('0123456789abcdef',
                    substr(md5(CAST(c_custkey AS VARCHAR) || ':y'), 1, 1)) - 1)
              + (strpos('0123456789abcdef',
                    substr(md5(CAST(c_custkey AS VARCHAR) || ':y'), 2, 1)) - 1))
             * 256
             + 16 * (strpos('0123456789abcdef',
                    substr(md5(CAST(c_custkey AS VARCHAR) || ':y'), 3, 1)) - 1)
              + (strpos('0123456789abcdef',
                    substr(md5(CAST(c_custkey AS VARCHAR) || ':y'), 4, 1)) - 1)
               AS hy
      FROM customer
    ),
    km AS (
      SELECT c_custkey, hx % 2000 AS x, hy % 2000 AS y FROM pts
    ),
    cells AS (
      SELECT c_custkey, x, y, x // 50 AS cx, y // 50 AS cy FROM km
    ),
    probe AS (
      SELECT c.c_custkey, c.x, c.y, c.cx + dx.d AS ncx, c.cy + dy.d AS ncy
      FROM cells c,
           (VALUES (-1), (0), (1)) AS dx(d),
           (VALUES (-1), (0), (1)) AS dy(d)
    )
    SELECT a.c_custkey AS key_a, b.c_custkey AS key_b,
           ROUND(sqrt(CAST((a.x - b.x) * (a.x - b.x)
                           + (a.y - b.y) * (a.y - b.y) AS DOUBLE)), 3)
             AS dist_km
    FROM probe a
    JOIN cells b ON a.ncx = b.cx AND a.ncy = b.cy
    WHERE a.c_custkey < b.c_custkey
      AND (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) < 2500
    """,
    doc="grid-blocked spatial neighbor join: customers placed at "
    "deterministic planar km coordinates (md5-derived, so both "
    "engines site every point identically), find all pairs within "
    "50 km. The classic spatial-join plan: bucket into 50 km grid "
    "cells, probe side explodes to its 9 neighboring cells (a "
    "bounded 9x fan-out), EQUI-join on the cell id, exact distance "
    "as a residual filter — candidate count is bounded by local "
    "density x 9 cells, never n^2; the same shape scales to "
    "geohash/S2/H3 cells at planetary size. Membership is decided "
    "by the INTEGER squared distance (< 2500), so no float can "
    "flip a pair; the reported distance is one IEEE-exact sqrt, "
    "ROUND(3).",
)
def join_spatial_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")

    def h16(salt: str):
        s = F.md5(F.concat(F.col("c_custkey").cast("string"), F.lit(salt)))

        def d(i: int):
            return F.instr(F.lit("0123456789abcdef"), F.substring(s, i, 1)) - 1

        return (16 * d(1) + d(2)) * 256 + 16 * d(3) + d(4)

    km = c.select(
        "c_custkey",
        (h16(":x") % 2000).alias("x"),
        (h16(":y") % 2000).alias("y"),
    )
    cells = km.select(
        "c_custkey", "x", "y",
        F.expr("x DIV 50").alias("cx"), F.expr("y DIV 50").alias("cy"),
    )
    offs = spark.range(-1, 2).select(F.col("id").cast("int").alias("d"))
    probe = (
        cells.crossJoin(F.broadcast(offs.select(F.col("d").alias("dxo"))))
        .crossJoin(F.broadcast(offs.select(F.col("d").alias("dyo"))))
        .select(
            F.col("c_custkey").alias("key_a"),
            F.col("x").alias("xa"),
            F.col("y").alias("ya"),
            (F.col("cx") + F.col("dxo")).alias("ncx"),
            (F.col("cy") + F.col("dyo")).alias("ncy"),
        )
    )
    b = cells.select(
        F.col("c_custkey").alias("key_b"),
        F.col("x").alias("xb"),
        F.col("y").alias("yb"),
        F.col("cx"),
        F.col("cy"),
    )
    d2 = (F.col("xa") - F.col("xb")) * (F.col("xa") - F.col("xb")) + (
        F.col("ya") - F.col("yb")
    ) * (F.col("ya") - F.col("yb"))
    return (
        probe.join(
            b,
            (F.col("ncx") == F.col("cx")) & (F.col("ncy") == F.col("cy")),
        )
        .filter((F.col("key_a") < F.col("key_b")) & (d2 < 2500))
        .select(
            "key_a",
            "key_b",
            F.round(F.sqrt(d2.cast("double")), 3).alias("dist_km"),
        )
    )


@Q.add(
    "sliding_distinct_users",
    """
    WITH sec0 AS (
      -- trunc-mirrored day bucket (see seasonality_profile note)
      SELECT user_id,
             ((least(greatest(epoch_us(ts), -9223372036854775),
                     9223372036854775))
              - (least(greatest(epoch_us(ts), -9223372036854775),
                       9223372036854775)) % 1000000) // 1000000 AS sec
      FROM events
    ),
    ud AS (
      SELECT DISTINCT user_id, (sec - sec % 86400) // 86400 AS d
      FROM sec0
    ),
    contrib AS (
      SELECT user_id, d + t.i AS wd
      FROM ud, unnest(range(7)) AS t(i)
    )
    SELECT CAST(wd AS BIGINT) AS day_end,
           COUNT(DISTINCT user_id) AS u7
    FROM contrib GROUP BY wd
    """,
    doc="7-day sliding distinct users (the WAU curve): each (user, "
    "active-day) pair CONTRIBUTES to the 7 window-end days it falls "
    "inside — a bounded 7x fan-out + one distinct-count per day — "
    "instead of a per-day window with COUNT(DISTINCT), which no "
    "engine can express over sliding frames without re-scanning 7 "
    "days per day. This contribute-then-count shape is the standard "
    "scalable rewrite for sliding distinct aggregates (same trick "
    "streaming engines use for sliding-window dedup). Leading days "
    "(< 6 full days of history) appear with their partial truth — "
    "the same rows both engines derive. Pure integer epoch-day "
    "math; two shuffles (user-day dedup, then day).",
)
def sliding_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    ud = e.select(
        "user_id", F.expr("ts_ns DIV 1000000000 DIV 86400").alias("d")
    ).distinct()
    contrib = ud.select(
        "user_id",
        F.explode(F.sequence(F.lit(0), F.lit(6))).alias("i"),
        "d",
    ).select("user_id", (F.col("d") + F.col("i")).alias("wd"))
    return contrib.groupBy(F.col("wd").cast("bigint").alias("day_end")).agg(
        F.countDistinct("user_id").alias("u7")
    )


@Q.add(
    "anomaly_mahalanobis",
    """
    WITH m AS (
      SELECT l_returnflag, COUNT(*) AS n,
             CAST(CAST(SUM(TRY_CAST(CAST(CASE WHEN isfinite(l_quantity) THEN l_quantity END AS VARCHAR) AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) AS sx,
             CAST(CAST(SUM(TRY_CAST(CAST(CASE WHEN isfinite(l_extendedprice) THEN l_extendedprice END AS VARCHAR) AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) AS sy,
             CAST(CAST(SUM(TRY_CAST(CAST(CASE WHEN isfinite(l_quantity * l_quantity) THEN l_quantity * l_quantity END AS VARCHAR) AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) AS sxx,
             CAST(CAST(SUM(TRY_CAST(CAST(CASE WHEN isfinite(l_extendedprice * l_extendedprice) THEN l_extendedprice * l_extendedprice END AS VARCHAR) AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) AS syy,
             CAST(CAST(SUM(TRY_CAST(CAST(CASE WHEN isfinite(l_quantity * l_extendedprice) THEN l_quantity * l_extendedprice END AS VARCHAR) AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) AS sxy
      FROM lineitem GROUP BY l_returnflag
    ),
    cov AS (
      SELECT l_returnflag, sx / n AS mx, sy / n AS my,
             (sxx - sx * sx / n) / (n - 1) AS vxx,
             (syy - sy * sy / n) / (n - 1) AS vyy,
             (sxy - sx * sy / n) / (n - 1) AS vxy
      FROM m WHERE n > 2
    )
    SELECT l.l_orderkey, l.l_linenumber, l.l_returnflag,
           ROUND(((l.l_quantity - mx) * (l.l_quantity - mx) * vyy
                  - 2 * (l.l_quantity - mx) * (l.l_extendedprice - my) * vxy
                  + (l.l_extendedprice - my) * (l.l_extendedprice - my) * vxx)
                 / (vxx * vyy - vxy * vxy), 4) AS d2
    FROM lineitem l JOIN cov USING (l_returnflag)
    WHERE ((l.l_quantity - mx) * (l.l_quantity - mx) * vyy
           - 2 * (l.l_quantity - mx) * (l.l_extendedprice - my) * vxy
           + (l.l_extendedprice - my) * (l.l_extendedprice - my) * vxx)
          / (vxx * vyy - vxy * vxy) > 5
    """,
    doc="2-D Mahalanobis outlier detection per group ((quantity, "
    "price) against the group's mean/covariance, flag d^2 > 5): the "
    "correlation-aware generalization of "
    "feature_zscore — a row can be normal in each margin yet "
    "anomalous jointly, which is exactly what the cross term "
    "catches. The five moments are exact DECIMAL(38,6) sums "
    "(integer-scaled products, order-independent); mean/cov/d^2 "
    "derive in ONE identically-spelled double expression (the 2x2 "
    "inverse inlined), ROUND(4). Shapes: per-group moments are a "
    "bounded rollup broadcast back onto the fact scan — zero fact "
    "shuffle; the d^2 filter runs map-side in the scan stage.",
)
def anomaly_mahalanobis(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    m = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.expr("CAST(SUM(TRY_CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE)").alias("sx"),
        F.expr(
            "CAST(SUM(TRY_CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE)"
        ).alias("sy"),
        F.expr(
            "CAST(SUM(TRY_CAST(l_quantity * l_quantity AS DECIMAL(38,6))) AS DOUBLE)"
        ).alias("sxx"),
        F.expr(
            "CAST(SUM(TRY_CAST(l_extendedprice * l_extendedprice AS DECIMAL(38,6)))"
            " AS DOUBLE)"
        ).alias("syy"),
        F.expr(
            "CAST(SUM(TRY_CAST(l_quantity * l_extendedprice AS DECIMAL(38,6)))"
            " AS DOUBLE)"
        ).alias("sxy"),
    )
    cov = m.filter(F.col("n") > 2).select(
        "l_returnflag",
        (F.col("sx") / F.col("n")).alias("mx"),
        (F.col("sy") / F.col("n")).alias("my"),
        ((F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")) / (F.col("n") - 1)).alias("vxx"),
        ((F.col("syy") - F.col("sy") * F.col("sy") / F.col("n")) / (F.col("n") - 1)).alias("vyy"),
        ((F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n")) / (F.col("n") - 1)).alias("vxy"),
    )
    j = li.join(F.broadcast(cov), "l_returnflag")
    dx = F.col("l_quantity") - F.col("mx")
    dy = F.col("l_extendedprice") - F.col("my")
    d2 = (
        dx * dx * F.col("vyy") - 2 * dx * dy * F.col("vxy") + dy * dy * F.col("vxx")
    ) / (F.col("vxx") * F.col("vyy") - F.col("vxy") * F.col("vxy"))
    return j.filter(d2 > 5).select(
        "l_orderkey",
        "l_linenumber",
        "l_returnflag",
        F.round(d2, 4).alias("d2"),
    )


@Q.add(
    "dedup_replay",
    """
    WITH stream AS (
      SELECT event_id, event_type, (least(greatest(epoch_us(ts), -9223372036854775), 9223372036854775) * 1000) AS t_ns, 0 AS replica
      FROM events
      UNION ALL
      -- NULL at the rail mirrors the engine's try_add (harmless:
      -- t_ns only tie-breaks within a replica group, and each
      -- event_id has at most one replay row)
      SELECT event_id, event_type,
             CASE WHEN (least(greatest(epoch_us(ts), -9223372036854775),
                              9223372036854775) * 1000)
                       > 9223372036854775807 - 3600000000000
                  THEN NULL
                  ELSE (least(greatest(epoch_us(ts), -9223372036854775),
                              9223372036854775) * 1000) + 3600000000000
             END, 1
      FROM events WHERE event_id % 7 = 0
    ),
    kept AS (
      SELECT event_id, event_type, replica,
             row_number() OVER (PARTITION BY event_id
                                ORDER BY replica, t_ns) AS rn
      FROM stream
    )
    SELECT event_type,
           COUNT(*) AS n_delivered,
           CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_unique,
           CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_duplicates
    FROM kept GROUP BY event_type
    """,
    doc="at-least-once delivery dedup (exactly-once semantics restored "
    "in batch): an event stream where every %%7 event is redelivered "
    "an hour later collapses back to one row per event_id, keeping "
    "the FIRST delivery ((replica, ts) order) — the idempotent-sink "
    "pattern behind every Kafka->warehouse loader, and the batch "
    "twin of streaming/dedup's watermarked dropDuplicates. The "
    "replay is derived in-query so both engines dedup identical "
    "streams. Shapes: one Exchange on event_id serves the "
    "first-delivery window (per-key partitions are delivery-count "
    "bounded); the audit rollup combines map-side on 5 types.",
)
def dedup_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    base = e.select(
        "event_id", "event_type", F.col("ts_ns").alias("t_ns"),
        F.lit(0).alias("replica"),
    )
    # try_add (extreme-ts sweep): the +1h replay shift overflows at the
    # ts_ns clamp rail; the NULL is harmless — t_ns only tie-breaks
    # WITHIN a replica group and replica already orders original-first
    replay = (
        e.filter(F.col("event_id") % 7 == 0)
        .select(
            "event_id",
            "event_type",
            F.try_add(F.col("ts_ns"), F.lit(3600000000000)).alias("t_ns"),
            F.lit(1).alias("replica"),
        )
    )
    w = Window.partitionBy("event_id").orderBy("replica", "t_ns")
    kept = base.unionByName(replay).select(
        "event_type", F.row_number().over(w).alias("rn")
    )
    return kept.groupBy("event_type").agg(
        F.count("*").alias("n_delivered"),
        F.sum((F.col("rn") == 1).cast("int")).cast("bigint").alias("n_unique"),
        F.sum((F.col("rn") > 1).cast("int")).cast("bigint").alias("n_duplicates"),
    )


@Q.add(
    "concentration_8020",
    """
    WITH cust AS (
      SELECT o_custkey,
             -- COALESCE 0: see rfm_segmentation's monetary comment
             COALESCE(SUM(TRY_CAST(CAST(CASE WHEN isfinite(o_totalprice) THEN o_totalprice END AS VARCHAR) AS DECIMAL(18,6))), 0) AS rev
      FROM orders GROUP BY o_custkey
    ),
    ranked AS (
      SELECT o_custkey, rev,
             row_number() OVER (ORDER BY rev DESC, o_custkey) AS r,
             SUM(rev) OVER (ORDER BY rev DESC, o_custkey
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS cum
      FROM cust
    ),
    tot AS (SELECT SUM(rev) AS total, COUNT(*) AS n FROM cust)
    SELECT CAST(MIN(r) AS BIGINT) AS n_top_customers,
           CAST(MAX(t.n) AS BIGINT) AS n_customers,
           ROUND(CAST(MIN(r) AS DOUBLE) / MAX(t.n), 4) AS top_frac,
           CAST(MAX(t.total) AS DOUBLE) AS total_revenue
    FROM ranked CROSS JOIN tot t
    WHERE cum * 10 >= t.total * 8
    """,
    doc="revenue-concentration (Pareto 80/20) analysis: the smallest "
    "prefix of customers, ranked by revenue, whose cumulative "
    "revenue reaches 80%% of the total. Both the rank and the "
    "running revenue come from ONE operators/prefix.global_cumsum "
    "pass over the per-customer rollup (order: rev DESC fully "
    "tie-broken) — no one-task global window; the 80%% cut is the "
    "exact-DECIMAL integer-free comparison cum*10 >= total*8, so "
    "no float decides the boundary customer. Output is a 1-row "
    "summary (count, fraction, total). Shapes: customer rollup "
    "shuffle, one prefix-sum pass, a 1-row total broadcast, a "
    "min/max fold.",
)
def concentration_8020(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.prefix import global_cumsum_multi

    o = load(spark, sf_dir, "orders")
    cust = o.groupBy("o_custkey").agg(
        F.expr(
            "COALESCE(SUM(TRY_CAST(o_totalprice AS DECIMAL(18,6))), 0)"
        ).alias("rev")
    )
    # one prefix-sum pass yields BOTH the rank (cumsum of 1s) and the
    # running revenue: order by (-rev double, custkey). r10: literally
    # one pass now — global_cumsum_multi computes both running totals
    # in a single bin Exchange + window instead of two chained passes
    # (the second of which re-ran the first's probe and bin lineage).
    cust = cust.withColumn("negrev", -F.col("rev").cast("double")).withColumn(
        "one", F.lit(1)
    )
    ranked = global_cumsum_multi(
        cust, order_col="negrev", values={"r": "one", "cum": "rev"},
        tiebreak_col="o_custkey",
    )
    tot = cust.agg(
        F.sum("rev").alias("total"), F.count("*").alias("n")
    )
    return (
        ranked.crossJoin(F.broadcast(tot))
        .filter(F.col("cum") * 10 >= F.col("total") * 8)
        .agg(
            F.min("r").cast("bigint").alias("n_top_customers"),
            F.max("n").cast("bigint").alias("n_customers"),
            F.round(
                F.min("r").cast("double") / F.max("n"), 4
            ).alias("top_frac"),
            F.max("total").cast("double").alias("total_revenue"),
        )
    )


@Q.add(
    "decayed_engagement",
    """
    WITH mx AS (
      SELECT MAX(((least(greatest(epoch_us(ts), -9223372036854775), 9223372036854775)) - (least(greatest(epoch_us(ts), -9223372036854775), 9223372036854775)) % 1000000) // 1000000) AS max_s FROM events
    ),
    w AS (
      SELECT user_id, event_type,
             CAST(ROUND(exp(ln(0.5)
                            * CAST((max_s - ((least(greatest(epoch_us(ts), -9223372036854775), 9223372036854775)) - (least(greatest(epoch_us(ts), -9223372036854775), 9223372036854775)) % 1000000) // 1000000)
                                   // 86400 AS DOUBLE) / 7.0)
                        * 1000000) AS BIGINT) AS w_fp
      FROM events CROSS JOIN mx
    )
    SELECT user_id,
           CAST(SUM(w_fp) AS BIGINT) AS score_fp,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN w_fp ELSE 0 END)
                AS BIGINT) AS purchase_fp,
           COUNT(*) AS n_events
    FROM w GROUP BY user_id
    """,
    doc="exponentially time-decayed engagement score per user "
    "(half-life 7 days, anchored on the corpus max event time) — "
    "the recency-weighted activity feature every feature store "
    "materializes, where yesterday's click outweighs last month's. "
    "Each event's weight 0.5^(age_days/7) is computed as "
    "exp(ln(0.5)*age/7) — identical expression text both engines — "
    "then ROUNDED PER ROW to 1e-6 fixed-point int64, so the "
    "per-user sums are exact integer arithmetic, order-independent "
    "across any partitioning (a float weight sum would be "
    "partition-order dependent). Age is integer epoch-day math. "
    "Shapes: 1-row max broadcast, then ONE map-side-combined "
    "rollup on user_id.",
)
def decayed_engagement(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    e = load(spark, sf_dir, "events")
    mx = e.agg(F.expr("MAX(ts_ns DIV 1000000000)").alias("max_s"))
    age_d = F.expr("(max_s - ts_ns DIV 1000000000) DIV 86400")
    w_fp = F.round(
        F.exp(F.lit(math.log(0.5)) * age_d.cast("double") / F.lit(7.0))
        * 1000000
    ).cast("bigint")
    w = e.crossJoin(F.broadcast(mx)).select(
        "user_id", "event_type", w_fp.alias("w_fp")
    )
    return w.groupBy("user_id").agg(
        F.sum("w_fp").cast("bigint").alias("score_fp"),
        F.sum(
            F.when(F.col("event_type") == "purchase", F.col("w_fp")).otherwise(
                0
            )
        )
        .cast("bigint")
        .alias("purchase_fp"),
        F.count("*").alias("n_events"),
    )


@Q.add(
    "skew_audit",
    """
    WITH b AS (
      SELECT (16 * (strpos('0123456789abcdef',
                    substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 1)) - 1)
              + (strpos('0123456789abcdef',
                    substr(md5(CAST(l_orderkey AS VARCHAR)), 2, 1)) - 1)) % 32
               AS bucket,
             l_orderkey
      FROM lineitem
    )
    SELECT CAST(bucket AS INT) AS bucket,
           COUNT(*) AS n_rows,
           COUNT(DISTINCT l_orderkey) AS n_keys,
           ROUND(CAST(COUNT(*) AS DOUBLE)
                 / (SELECT CAST(COUNT(*) AS DOUBLE) / 32 FROM lineitem),
                 4) AS skew_ratio
    FROM b GROUP BY bucket
    """,
    doc="partition-skew audit: row and distinct-key counts per "
    "simulated shuffle bucket (32-way, bucketed by the md5 both "
    "engines share) with each bucket's load as a ratio to the "
    "uniform ideal — the diagnostic run BEFORE a big join to "
    "decide whether join_salted / AQE skew handling is needed, "
    "and the measurement tool behind SCALE_AUDIT's shuffle "
    "posture. A ratio near 1.0 everywhere clears the join; a "
    "hot bucket names the keys to salt. ONE map-side-combined "
    "rollup on a fixed 32-key space + a 1-row total broadcast.",
)
def skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")

    def hexpos(i: int):
        return (
            F.instr(
                F.lit("0123456789abcdef"),
                F.substring(
                    F.md5(F.col("l_orderkey").cast("string")), i, 1
                ),
            )
            - 1
        )

    per_bucket = (
        li.select(
            ((16 * hexpos(1) + hexpos(2)) % 32).alias("bucket"),
            "l_orderkey",
        )
        .groupBy(F.col("bucket").cast("int").alias("bucket"))
        .agg(
            F.count("*").alias("n_rows"),
            F.countDistinct("l_orderkey").alias("n_keys"),
        )
    )
    # r11 (guide §1.2): ideal = COUNT(*)/32 derives from the bucket
    # rollup itself — every lineitem row lands in exactly one bucket
    # (md5 of a NULL key just makes a NULL bucket group), so
    # SUM(n_rows) == COUNT(*) and the dedicated full-table count scan
    # is gone (2 lineitem scans -> 1). The total rides a 32-row
    # single-partition window instead of a broadcast of a re-aggregated
    # branch, which ColumnPruning would specialize (n_keys pruned)
    # into a non-reusable second scan — the perplexity_unigram trap.
    w_all = Window.partitionBy()
    ideal = F.sum("n_rows").over(w_all).cast("double") / 32
    return per_bucket.select(
        "bucket",
        "n_rows",
        "n_keys",
        F.round(F.col("n_rows").cast("double") / ideal, 4).alias(
            "skew_ratio"
        ),
    )


@Q.add(
    "union_schema_evolve",
    """
    WITH v1 AS (
      SELECT o_orderkey, o_totalprice, CAST(NULL AS VARCHAR) AS channel
      FROM orders WHERE o_orderkey % 2 = 0
    ),
    v2 AS (
      SELECT o_orderkey, o_totalprice,
             'ch' || CAST(o_orderkey % 3 AS VARCHAR) AS channel
      FROM orders WHERE o_orderkey % 2 = 1
    ),
    unioned AS (
      SELECT * FROM v1 UNION ALL BY NAME SELECT * FROM v2
    )
    SELECT COALESCE(channel, 'unknown') AS channel,
           COUNT(*) AS n,
           CAST(CAST(SUM(TRY_CAST(CAST(CASE WHEN isfinite(o_totalprice) THEN o_totalprice END AS VARCHAR) AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)
             AS total
    FROM unioned GROUP BY COALESCE(channel, 'unknown')
    """,
    doc="schema-evolution union: an old snapshot (no 'channel' column) "
    "and a new one (with it) combine BY NAME with the missing column "
    "null-filled — Spark's unionByName(allowMissingColumns=True) / "
    "DuckDB's UNION ALL BY NAME, the append path every evolving "
    "table needs when readers span schema versions (position-based "
    "UNION would silently misalign). The old-snapshot rows surface "
    "under an explicit 'unknown' bucket. One map-side-combined "
    "rollup; the version split is derived in-query so both engines "
    "union identical inputs.",
)
def union_schema_evolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    v1 = o.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_totalprice"
    )
    v2 = o.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey",
        "o_totalprice",
        F.concat(F.lit("ch"), (F.col("o_orderkey") % 3).cast("string")).alias(
            "channel"
        ),
    )
    unioned = v1.unionByName(v2, allowMissingColumns=True)
    return unioned.groupBy(
        F.coalesce("channel", F.lit("unknown")).alias("channel")
    ).agg(
        F.count("*").alias("n"),
        F.expr(
            "CAST(SUM(TRY_CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)"
        ).alias("total"),
    )


@Q.add(
    "join_null_safe",
    """
    WITH l AS (
      SELECT event_id,
             CASE WHEN event_id % 10 = 0 THEN NULL
                  ELSE user_id % 50 END AS k
      FROM events WHERE event_id % 2 = 0
    ),
    r AS (
      SELECT CASE WHEN g % 7 = 0 THEN NULL ELSE g END AS k,
             'grp' || CAST(g AS VARCHAR) AS tag
      FROM (SELECT DISTINCT user_id % 50 AS g FROM events)
    )
    SELECT COALESCE(CAST(l.k AS VARCHAR), 'NULL') AS key_class,
           COUNT(*) AS n_matches,
           COUNT(DISTINCT tag) AS n_tags
    FROM l JOIN r ON l.k IS NOT DISTINCT FROM r.k
    GROUP BY key_class
    """,
    doc="null-safe equi-join (Spark's <=> operator == SQL IS NOT "
    "DISTINCT FROM): NULL keys MATCH each other instead of silently "
    "dropping — the semantic needed when NULL is a real category "
    "(unknown cohort, missing dimension) rather than absence; a "
    "plain equi-join would lose every NULL row on both sides. "
    "Catalyst plans <=> as a hash join key (EqualNullSafe), so this "
    "stays a shuffle/broadcast HASH join, not a nested loop — the "
    "property the plan sweep pins. Both sides' NULLs are derived "
    "in-query by the same integer rules.",
)
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    left = e.filter(F.col("event_id") % 2 == 0).select(
        "event_id",
        F.when(F.col("event_id") % 10 == 0, F.lit(None))
        .otherwise(F.col("user_id") % 50)
        .alias("k"),
    )
    right = (
        e.select((F.col("user_id") % 50).alias("g"))
        .distinct()
        .select(
            F.when(F.col("g") % 7 == 0, F.lit(None))
            .otherwise(F.col("g"))
            .alias("k"),
            F.concat(F.lit("grp"), F.col("g").cast("string")).alias("tag"),
        )
    )
    j = left.join(right, left.k.eqNullSafe(right.k))
    return j.groupBy(
        F.coalesce(left.k.cast("string"), F.lit("NULL")).alias("key_class")
    ).agg(
        F.count("*").alias("n_matches"),
        F.countDistinct("tag").alias("n_tags"),
    )


# ---------------------------------------------------------------------------
# round-4 additions, ninth wave: time-series resampling, rolling
# correlation, survivorship merge, independence testing
# ---------------------------------------------------------------------------


@Q.add(
    "resample_ohlc",
    """
    WITH ev AS (
      SELECT *,
             -- int128 composite ORDER-ISOMORPHIC to Spark's
             -- struct(ts_ns, event_id) for ANY int64 event_id
             -- (extremekeys sweep, r6 — the old ns*1e6+event_id
             -- encoding assumed event_id < 1e6): ns is clamped in
             -- micros exactly like tables.load's ts_ns, the 2^64
             -- radix strictly separates ns buckets, and the +2^63
             -- bias maps event_id into [0, 2^64) preserving order;
             -- |ns_c|*2^64 + 2^64 - 1 < 2^127 - 1, no overflow
             CAST(least(greatest(epoch_us(ts), -9223372036854775),
                        9223372036854775) * 1000 AS HUGEINT)
               * 18446744073709551616::HUGEINT
               + (CAST(event_id AS HUGEINT) + 9223372036854775808::HUGEINT)
               AS ord_key
      FROM events
    )
    , w AS (
      -- window first/last_value RESPECT NULL values like Spark's
      -- min_by/max_by; DuckDB's arg_min/arg_max silently skip rows
      -- whose value is NULL and would report the first non-null tick
      -- as the open (r6 NULL-corpus parity audit)
      SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day, event_type,
             value,
             first_value(value) OVER (
               PARTITION BY strftime(CAST(ts AS DATE), '%Y-%m-%d'), event_type
               ORDER BY ord_key) AS open_v,
             last_value(value) OVER (
               PARTITION BY strftime(CAST(ts AS DATE), '%Y-%m-%d'), event_type
               ORDER BY ord_key
               ROWS BETWEEN UNBOUNDED PRECEDING
                        AND UNBOUNDED FOLLOWING) AS close_v
      FROM ev
    )
    SELECT day, event_type,
           MIN(open_v) AS open,
           MAX(value) AS high,
           MIN(value) AS low,
           MIN(close_v) AS close,
           COUNT(*) AS n_ticks,
           CAST(CAST(SUM(TRY_CAST(CAST(CASE WHEN isfinite(value) THEN value END AS VARCHAR) AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS volume
    FROM w
    GROUP BY day, event_type
    """,
    doc="time-series downsampling to daily OHLC bars per series "
    "(event_type): open/close are the first/last value by the unique "
    "(ts_ns, event_id) composite — Spark min_by/max_by over a struct "
    "key, DuckDB arg_min/arg_max over the equivalent HUGEINT "
    "composite (DuckDB's arg_min has no struct overload; the int128 "
    "encoding is collision-free because event_id < 1e6). One "
    "map-side-combinable hash aggregate — min/max/count/decimal-sum "
    "and min_by/max_by are all associative partial aggs, so 100 TB "
    "of ticks reduce to days*series rows with no window and no "
    "second shuffle. Volume sum is exact DECIMAL, order-independent.",
)
def resample_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    return e.groupBy(
        F.date_format("ts", "yyyy-MM-dd").alias("day"), "event_type"
    ).agg(
        F.expr("min_by(value, struct(ts_ns, event_id))").alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.expr("max_by(value, struct(ts_ns, event_id))").alias("close"),
        F.count("*").alias("n_ticks"),
        F.expr("CAST(SUM(TRY_CAST(value AS DECIMAL(18,6))) AS DOUBLE)").alias(
            "volume"
        ),
    )


@Q.add(
    "rolling_corr_daily",
    """
    WITH daily AS (
      SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
             CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
               AS BIGINT) AS x,
             CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
               AS BIGINT) AS y
      FROM events GROUP BY day
    ),
    win AS (
      SELECT day, x, y,
             COUNT(*)    OVER w AS nw,
             SUM(x)      OVER w AS sx,
             SUM(y)      OVER w AS sy,
             SUM(x * y)  OVER w AS sxy,
             SUM(x * x)  OVER w AS sxx,
             SUM(y * y)  OVER w AS syy
      FROM daily
      WINDOW w AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    )
    SELECT day, x, y, nw,
           CASE WHEN nw * sxx - sx * sx > 0 AND nw * syy - sy * sy > 0
                THEN CAST(nw * sxy - sx * sy AS DOUBLE)
                     / (sqrt(CAST(nw * sxx - sx * sx AS DOUBLE))
                        * sqrt(CAST(nw * syy - sy * sy AS DOUBLE)))
           END AS corr7
    FROM win
    """,
    doc="7-day rolling Pearson correlation between two daily series "
    "(click count vs view count): every moment (sums, sums of "
    "squares, cross products) is an exact INTEGER window sum over "
    "the daily counts, so the rolling frame is order-independent "
    "and bit-stable; the only float ops are the final sqrt (IEEE "
    "correctly-rounded in both engines) and one division. The "
    "distributed stage is the daily rollup (map-side combinable "
    "hash agg over 100 TB of raw events); the window then runs "
    "over a days-bounded series — thousands of rows, one "
    "partition by construction, not a scale risk.",
)
def rolling_corr_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    daily = e.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day")).agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias(
            "x"
        ),
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias(
            "y"
        ),
    )
    w = Window.orderBy("day").rowsBetween(-6, Window.currentRow)
    t = daily.select(
        "day",
        "x",
        "y",
        F.count("*").over(w).alias("nw"),
        F.sum("x").over(w).alias("sx"),
        F.sum("y").over(w).alias("sy"),
        F.sum(F.col("x") * F.col("y")).over(w).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).over(w).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).over(w).alias("syy"),
    )
    denx = F.col("nw") * F.col("sxx") - F.col("sx") * F.col("sx")
    deny = F.col("nw") * F.col("syy") - F.col("sy") * F.col("sy")
    num = F.col("nw") * F.col("sxy") - F.col("sx") * F.col("sy")
    corr = F.when(
        (denx > 0) & (deny > 0),
        num.cast("double")
        / (F.sqrt(denx.cast("double")) * F.sqrt(deny.cast("double"))),
    )
    return t.select("day", "x", "y", "nw", corr.alias("corr7"))


@Q.add(
    "golden_record",
    """
    WITH ev AS (
      SELECT *,
             -- same order-isomorphic (ts_ns, event_id) int128
             -- composite as resample_ohlc (extremekeys sweep, r6):
             -- 2^64 radix + 2^63 bias is total for ANY int64
             -- event_id, clamp mirrors tables.load's ts_ns
             least(greatest(epoch_us(ts), -9223372036854775),
                   9223372036854775) * 1000 AS ns_c,
             CAST(least(greatest(epoch_us(ts), -9223372036854775),
                        9223372036854775) * 1000 AS HUGEINT)
               * 18446744073709551616::HUGEINT
               + (CAST(event_id AS HUGEINT) + 9223372036854775808::HUGEINT)
               AS ord_key
      FROM events
    )
    SELECT user_id,
           COUNT(*) AS n_events,
           -- clamped ns (same as the engine's ts_ns — bare epoch_ns
           -- overflows BIGINT on sentinel dates), and TRUNCATING
           -- division to mirror Spark's DIV: DuckDB's // floors, which
           -- diverges on pre-1970 negative ns; (a - a%b)//b is exact
           -- truncation since % keeps the dividend sign in both engines
           MIN((ns_c - ns_c % 1000000000) // 1000000000) AS first_s,
           MAX((ns_c - ns_c % 1000000000) // 1000000000) AS last_s,
           CAST(CAST(SUM(TRY_CAST(CAST(CASE WHEN isfinite(value) THEN value END AS VARCHAR) AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS total_value,
           MIN(let) AS last_event_type,
           MIN(lk) AS last_k
    FROM (
      -- first_value over ord_key DESC RESPECTS a NULL k at the latest
      -- event (Spark max_by returns it); arg_max would skip to the
      -- newest non-null k (r6 NULL-corpus parity audit). let/lk are
      -- constant per user, so MIN just projects them through the group
      SELECT *,
             first_value(event_type) OVER (
               PARTITION BY user_id ORDER BY ord_key DESC) AS let,
             first_value(CAST((CASE WHEN json_valid(props) THEN json_extract_string(props, '$.k') END) AS BIGINT))
               OVER (PARTITION BY user_id ORDER BY ord_key DESC) AS lk
      FROM ev
    )
    GROUP BY user_id
    """,
    doc="survivorship merge (golden record): collapse each entity's "
    "event history into one canonical row — recency-winning "
    "attributes (last_event_type, last JSON prop) via max_by over "
    "the unique (ts_ns, event_id) key, lifetime extent as integer "
    "epoch seconds, exact DECIMAL value total. The whole record "
    "builds in ONE map-side-combinable hash aggregate keyed on "
    "user_id — no self-join, no window, no second shuffle; at 100 "
    "TB this is the canonical MDM compaction pattern (same agg "
    "family as compact_latest, but column-wise survivorship rather "
    "than whole-row latest).",
)
def golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events").withColumn(
        "k_val", F.get_json_object("props", "$.k").cast("bigint")
    )
    return e.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.expr("MIN(ts_ns DIV 1000000000)").alias("first_s"),
        F.expr("MAX(ts_ns DIV 1000000000)").alias("last_s"),
        F.expr("CAST(SUM(TRY_CAST(value AS DECIMAL(18,6))) AS DOUBLE)").alias(
            "total_value"
        ),
        F.expr("max_by(event_type, struct(ts_ns, event_id))").alias(
            "last_event_type"
        ),
        F.expr("max_by(k_val, struct(ts_ns, event_id))").alias("last_k"),
    )


@Q.add(
    "chi2_independence",
    """
    WITH obs AS (
      SELECT CAST((((least(greatest(epoch_us(ts), -9223372036854775), 9223372036854775)) - (least(greatest(epoch_us(ts), -9223372036854775), 9223372036854775)) % 86400000000) // 86400000000 + 4) % 7 AS INT) AS dow,
             event_type, COUNT(*) AS o
      FROM events GROUP BY dow, event_type
    ),
    tot AS (SELECT SUM(o) AS n FROM obs),
    r AS (SELECT event_type, SUM(o) AS rt FROM obs GROUP BY event_type),
    c AS (SELECT dow, SUM(o) AS ct FROM obs GROUP BY dow),
    cells AS (
      SELECT obs.dow, obs.event_type, obs.o,
             CAST(r.rt AS DOUBLE) * CAST(c.ct AS DOUBLE)
               / CAST(tot.n AS DOUBLE) AS expected
      FROM obs JOIN r USING (event_type) JOIN c USING (dow), tot
    ),
    terms AS (
      SELECT dow, event_type, o, expected,
             CAST(floor((CAST(o AS DOUBLE) - expected)
                        * (CAST(o AS DOUBLE) - expected)
                        / expected * 1000000 + 0.5) AS BIGINT) AS term_fp
      FROM cells
    )
    SELECT dow, event_type, o AS n_obs, expected,
           CAST(SUM(term_fp) OVER () AS DOUBLE) / 1000000 AS chi2_total
    FROM terms
    """,
    doc="chi-square test of independence on the event_type x "
    "day-of-week contingency table: expected counts from broadcast "
    "marginals (r*c/N over exact integer totals), per-cell "
    "(o-e)^2/e computed with the identical double expression in "
    "both engines (int->double conversions exact, every op "
    "correctly rounded), and the cross-cell chi2 total summed in "
    "1e-6 fixed-point int64 so the 35-cell reduction is "
    "order-independent. Day-of-week is integer epoch-day math "
    "((days+4)%7 — no timezone, no locale), not engine dow(). The "
    "distributed stage is the contingency rollup; everything after "
    "runs on a 35-row frame.",
)
def chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    obs = e.groupBy(
        F.expr("CAST((ts_ns DIV 86400000000000 + 4) % 7 AS INT)").alias(
            "dow"
        ),
        "event_type",
    ).agg(F.count("*").alias("o"))
    tot = obs.agg(F.sum("o").alias("n"))
    r = obs.groupBy("event_type").agg(F.sum("o").alias("rt"))
    c = obs.groupBy("dow").agg(F.sum("o").alias("ct"))
    cells = (
        obs.join(F.broadcast(r), "event_type")
        .join(F.broadcast(c), "dow")
        .crossJoin(F.broadcast(tot))
        .withColumn(
            "expected",
            F.col("rt").cast("double")
            * F.col("ct").cast("double")
            / F.col("n").cast("double"),
        )
    )
    d = F.col("o").cast("double") - F.col("expected")
    terms = cells.withColumn(
        "term_fp",
        F.floor(d * d / F.col("expected") * 1000000 + F.lit(0.5)).cast(
            "bigint"
        ),
    )
    wall = Window.partitionBy()
    return terms.select(
        "dow",
        "event_type",
        F.col("o").alias("n_obs"),
        "expected",
        (F.sum("term_fp").over(wall).cast("double") / 1000000).alias(
            "chi2_total"
        ),
    )


@Q.add(
    "mutual_info_feature",
    """
    WITH obs AS (
      SELECT CAST((((least(greatest(epoch_us(ts), -9223372036854775), 9223372036854775)) - (least(greatest(epoch_us(ts), -9223372036854775), 9223372036854775)) % 86400000000) // 86400000000 + 4) % 7 AS INT) AS dow,
             event_type, COUNT(*) AS o
      FROM events GROUP BY dow, event_type
    ),
    tot AS (SELECT SUM(o) AS n FROM obs),
    r AS (SELECT event_type, SUM(o) AS rt FROM obs GROUP BY event_type),
    c AS (SELECT dow, SUM(o) AS ct FROM obs GROUP BY dow),
    cells AS (
      SELECT obs.dow, obs.event_type, obs.o,
             ln(CAST(obs.o AS DOUBLE) * CAST(tot.n AS DOUBLE)
                / (CAST(r.rt AS DOUBLE) * CAST(c.ct AS DOUBLE))) AS pmi,
             CAST(tot.n AS BIGINT) AS n
      FROM obs JOIN r USING (event_type) JOIN c USING (dow), tot
    ),
    terms AS (
      SELECT dow, event_type, o, pmi, n,
             CAST(floor(CAST(o AS DOUBLE) / CAST(n AS DOUBLE) * pmi
                        * 1000000 + 0.5) AS BIGINT) AS term_fp
      FROM cells
    )
    -- pmi is snapped to 1e-6 fixed point at the output boundary: ln is
    -- not correctly-rounded IEEE, and JVM Math.log vs DuckDB libm log
    -- disagree by 1 ulp on some count ratios (found by fuzz seed 1);
    -- the snap is the repo-wide absorption pattern for libm wobble
    SELECT dow, event_type, o AS n_obs,
           floor(pmi * 1000000 + 0.5) / 1000000 AS pmi,
           CAST(SUM(term_fp) OVER () AS DOUBLE) / 1000000 AS mi_total
    FROM terms
    """,
    doc="mutual information between a categorical feature "
    "(integer-epoch day-of-week) and the label (event_type) — the "
    "feature-selection twin of chi2_independence: per-cell pointwise "
    "MI ln(p(x,y)/(p(x)p(y))) computed from exact integer counts "
    "with the identical double expression both engines (marginals "
    "broadcast), the cross-cell expectation summed in 1e-6 "
    "fixed-point int64. Distributed work is the contingency rollup; "
    "the MI math runs on 35 rows.",
)
def mutual_info_feature(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    obs = e.groupBy(
        F.expr("CAST((ts_ns DIV 86400000000000 + 4) % 7 AS INT)").alias(
            "dow"
        ),
        "event_type",
    ).agg(F.count("*").alias("o"))
    tot = obs.agg(F.sum("o").alias("n"))
    r = obs.groupBy("event_type").agg(F.sum("o").alias("rt"))
    c = obs.groupBy("dow").agg(F.sum("o").alias("ct"))
    cells = (
        obs.join(F.broadcast(r), "event_type")
        .join(F.broadcast(c), "dow")
        .crossJoin(F.broadcast(tot))
        .withColumn(
            "pmi",
            F.log(
                F.col("o").cast("double")
                * F.col("n").cast("double")
                / (F.col("rt").cast("double") * F.col("ct").cast("double"))
            ),
        )
    )
    terms = cells.withColumn(
        "term_fp",
        F.floor(
            F.col("o").cast("double")
            / F.col("n").cast("double")
            * F.col("pmi")
            * 1000000
            + F.lit(0.5)
        ).cast("bigint"),
    )
    wall = Window.partitionBy()
    return terms.select(
        "dow",
        "event_type",
        F.col("o").alias("n_obs"),
        # 1e-6 fixed-point snap — ln() is not correctly-rounded IEEE
        # and drifts 1 ulp vs DuckDB's libm on some count ratios
        # (fuzz seed 1); same absorption as the oracle side
        (F.floor(F.col("pmi") * 1000000 + F.lit(0.5)) / 1000000).alias(
            "pmi"
        ),
        (F.sum("term_fp").over(wall).cast("double") / 1000000).alias(
            "mi_total"
        ),
    )


@Q.add(
    "winsorize_pct",
    """
    WITH th AS (
      SELECT event_type,
             quantile_cont(CASE WHEN isfinite(value) THEN value END, 0.05) AS lo,
             quantile_cont(CASE WHEN isfinite(value) THEN value END, 0.95) AS hi
      FROM events GROUP BY event_type
    )
    SELECT e.event_type, COUNT(*) AS n,
           ROUND(MIN(lo), 4) AS p05,
           ROUND(MIN(hi), 4) AS p95,
           CAST(CAST(SUM(TRY_CAST(LEAST(GREATEST(e.value, lo), hi)
                         AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)
             / COUNT(*) AS winsorized_mean
    FROM events e JOIN th USING (event_type)
    GROUP BY e.event_type
    """,
    doc="per-group winsorization: clamp values into the exact "
    "interpolated [p05, p95] band (Spark percentile == DuckDB "
    "quantile_cont, both type-7 — the agg_percentiles parity) and "
    "report the robust mean via an exact DECIMAL sum of the clamped "
    "values — order-independent, no float accumulation. Thresholds "
    "are a 5-row broadcast joined back to the fact scan, so the "
    "events table streams exactly twice (once for the percentile "
    "sort, once clamped) with no self-shuffle; at 100 TB swap the "
    "exact percentile for percentile_approx and stream once.",
)
def winsorize_pct(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    th = e.groupBy("event_type").agg(
        F.expr("percentile(CASE WHEN NOT isnan(value) AND abs(value) != double('infinity') THEN value END, 0.05)").alias("lo"),
        F.expr("percentile(CASE WHEN NOT isnan(value) AND abs(value) != double('infinity') THEN value END, 0.95)").alias("hi"),
    )
    j = e.join(F.broadcast(th), "event_type")
    clamped = F.least(F.greatest(F.col("value"), F.col("lo")), F.col("hi"))
    return j.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.round(F.min("lo"), 4).alias("p05"),
        F.round(F.min("hi"), 4).alias("p95"),
        (
            F.expr(
                "CAST(SUM(TRY_CAST(LEAST(GREATEST(value, lo), hi) "
                "AS DECIMAL(18,6))) AS DOUBLE)"
            )
            / F.count("*")
        ).alias("winsorized_mean"),
    )


@Q.add(
    "split_time_leakage",
    """
    WITH bounds AS (
      SELECT MIN((least(greatest(epoch_us(ts), -9223372036854775), 9223372036854775) * 1000)) AS lo, MAX((least(greatest(epoch_us(ts), -9223372036854775), 9223372036854775) * 1000)) AS hi FROM events
    ),
    u AS (
      SELECT user_id, MIN((least(greatest(epoch_us(ts), -9223372036854775), 9223372036854775) * 1000)) AS mn, MAX((least(greatest(epoch_us(ts), -9223372036854775), 9223372036854775) * 1000)) AS mx
      FROM events GROUP BY user_id
    ),
    flags AS (
      SELECT CASE WHEN CAST(mn AS HUGEINT) * 2
                       < CAST(lo AS HUGEINT) + hi THEN 1 ELSE 0
             END AS early_any,
             CASE WHEN CAST(mx AS HUGEINT) * 2
                       >= CAST(lo AS HUGEINT) + hi THEN 1 ELSE 0
             END AS late_any
      FROM u, bounds
    )
    SELECT COUNT(*) AS n_users,
           CAST(SUM(early_any) AS BIGINT) AS n_early,
           CAST(SUM(late_any) AS BIGINT) AS n_late,
           CAST(SUM(early_any * late_any) AS BIGINT) AS n_both,
           CAST(SUM(early_any * late_any) AS DOUBLE) / COUNT(*)
             AS leakage_rate
    FROM flags
    """,
    doc="temporal train/test split leakage audit: split the corpus at "
    "the integer epoch-ns midpoint (the drift_psi split — no float "
    "time math) and count entities that appear on BOTH sides — each "
    "such user leaks future information into a time-based holdout. "
    "One per-user min/max rollup (map-side combinable) + a 1-row "
    "bounds broadcast + a scalar reduction; the events table "
    "streams once. Companion to contamination_ngram (content "
    "leakage) and split_train_val (random splits).",
)
def split_time_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    b = e.agg(F.min("ts_ns").alias("lo"), F.max("ts_ns").alias("hi"))
    u = e.groupBy("user_id").agg(
        F.min("ts_ns").alias("mn"), F.max("ts_ns").alias("mx")
    )
    # widened midpoint compare (extreme-ts sweep, full-materialization
    # pass): mn*2 and lo+hi overflow int64 at the ts_ns clamp rails —
    # DECIMAL(38,0)/HUGEINT on the two engines keeps the comparison
    # EXACT at every magnitude, no overflow possible
    d38 = "decimal(38,0)"
    flags = u.crossJoin(F.broadcast(b)).select(
        F.when(
            F.col("mn").cast(d38) * 2 < F.col("lo").cast(d38) + F.col("hi"), 1
        )
        .otherwise(0)
        .alias("early_any"),
        F.when(
            F.col("mx").cast(d38) * 2 >= F.col("lo").cast(d38) + F.col("hi"), 1
        )
        .otherwise(0)
        .alias("late_any"),
    )
    return flags.agg(
        F.count("*").alias("n_users"),
        F.sum("early_any").cast("bigint").alias("n_early"),
        F.sum("late_any").cast("bigint").alias("n_late"),
        F.sum(F.col("early_any") * F.col("late_any"))
        .cast("bigint")
        .alias("n_both"),
        (
            F.sum(F.col("early_any") * F.col("late_any")).cast("double")
            / F.count("*")
        ).alias("leakage_rate"),
    )


@Q.add(
    "autocorrelation",
    """
    WITH daily AS (
      SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day, COUNT(*) AS x
      FROM events GROUP BY day
    ),
    lagged AS (
      SELECT lag, x, y FROM (
        SELECT 1 AS lag, x, lag(x, 1) OVER (ORDER BY day) AS y FROM daily
        UNION ALL
        SELECT 2, x, lag(x, 2) OVER (ORDER BY day) FROM daily
        UNION ALL
        SELECT 3, x, lag(x, 3) OVER (ORDER BY day) FROM daily
        UNION ALL
        SELECT 4, x, lag(x, 4) OVER (ORDER BY day) FROM daily
        UNION ALL
        SELECT 5, x, lag(x, 5) OVER (ORDER BY day) FROM daily
      ) WHERE y IS NOT NULL
    ),
    m AS (
      SELECT lag, COUNT(*) AS n,
             SUM(x) AS sx, SUM(y) AS sy, SUM(x * y) AS sxy,
             SUM(x * x) AS sxx, SUM(y * y) AS syy
      FROM lagged GROUP BY lag
    )
    SELECT lag, CAST(n AS BIGINT) AS n,
           CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
                THEN CAST(n * sxy - sx * sy AS DOUBLE)
                     / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                        * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))
           END AS acf
    FROM m
    """,
    doc="autocorrelation function of the daily event-count series at "
    "lags 1-5 (the seasonality detector feeding ARIMA-style lag "
    "choice): each lag's Pearson r over (x_t, x_{t-lag}) pairs is "
    "computed from exact INTEGER moments — only the final sqrt and "
    "one division touch floats (rolling_corr_daily's discipline). "
    "The distributed stage is the daily rollup; all five lag columns "
    "come from ONE window pass over the days-bounded series and "
    "unpivot row-locally (r11, guide §2.4 — the old five-branch "
    "union re-ran the daily rollup and its global sort per lag: "
    "10+ exchanges for one ~days-row series), then one bounded "
    "per-lag rollup.",
)
def autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    daily = e.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day")).agg(
        F.count("*").alias("x")
    )
    wd = Window.orderBy("day")
    lags = (1, 2, 3, 4, 5)
    # one window pass computes all five lag columns (the series is
    # days-bounded, so the single-task global sort is the same one
    # each of the old five branches paid); the (lag, y) unpivot is a
    # row-local explode — per-lag rows and moments are identical to
    # the old per-branch windows
    wide = daily.select(
        "x", *[F.lag("x", k).over(wd).alias(f"__y{k}") for k in lags]
    )
    lagged = (
        wide.select(
            "x",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(k).alias("lag"),
                            F.col(f"__y{k}").alias("y"),
                        )
                        for k in lags
                    ]
                )
            ).alias("p"),
        )
        .select(F.col("p.lag").alias("lag"), "x", F.col("p.y").alias("y"))
        .filter(F.col("y").isNotNull())
    )
    m = lagged.groupBy("lag").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    denx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    deny = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    acf = F.when(
        (denx > 0) & (deny > 0),
        num.cast("double")
        / (F.sqrt(denx.cast("double")) * F.sqrt(deny.cast("double"))),
    )
    return m.select("lag", "n", acf.alias("acf"))


@Q.add(
    "bootstrap_ci_det",
    """
    WITH d AS (
      SELECT value,
             md5(CAST(event_id AS VARCHAR) || ':0')
               || md5(CAST(event_id AS VARCHAR) || ':1') AS digs
      FROM events
    ),
    fan AS (
      SELECT b.b, d.value,
             CAST(('0x' || substr(digs,
                                  ((b.b - 1) // 10) * 32
                                    + ((b.b - 1) % 10) * 3 + 1, 3))
                  AS BIGINT) % 3 AS m
      FROM d, (SELECT CAST(r AS INT) + 1 AS b FROM range(20) t(r)) b
    ),
    reps AS (
      SELECT b,
             CAST(SUM(m * TRY_CAST(CAST(CASE WHEN isfinite(value) THEN value END AS VARCHAR) AS DECIMAL(18,6))) AS DOUBLE)
               / SUM(m) AS rep_mean
      FROM fan GROUP BY b
    )
    SELECT COUNT(*) AS n_boot,
           ROUND(quantile_cont(rep_mean, 0.05), 6) AS boot_p05,
           ROUND(quantile_cont(rep_mean, 0.50), 6) AS boot_p50,
           ROUND(quantile_cont(rep_mean, 0.95), 6) AS boot_p95
    FROM reps
    """,
    doc="deterministic Poisson-style bootstrap CI for the mean event "
    "value: 20 replicates, each row's multiplicity in replicate b is "
    "a 3-hex chunk of md5(event_id:0)||md5(event_id:1) taken mod 3 "
    "in {0,1,2} (E~1 — the hash plays the RNG, so both engines draw "
    "the SAME resamples; no seed state, no collect). TWO digests per "
    "event feed all 20 replicates (10 three-hex chunks per digest; "
    "chars 31-32 of each digest are unused) — 10x less hash work "
    "than the r9 per-(event,b) digest at identical statistics "
    "(VERDICT r9 item 4). Replicate means are exact DECIMAL sums "
    "over integer multiplicities; the CI is the type-7 quantile over "
    "20 replicate rows. The 20x fan-out is row-local (posexplode of "
    "a per-row multiplicity array — no join), map-side combines into "
    "20 groups; this is the one-pass distributed bootstrap pattern "
    "(Kleiner's BLB without the blocking).",
)
def bootstrap_ci_det(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    digs = F.concat(
        F.md5(F.concat(F.col("event_id").cast("string"), F.lit(":0"))),
        F.md5(F.concat(F.col("event_id").cast("string"), F.lit(":1"))),
    )
    # r10 (guide §2.3/§4): the DECIMAL cast of `value` is hoisted ABOVE
    # the 20x posexplode — one TRY_CAST per event instead of twenty,
    # and the fan rows carry the 8-byte decimal instead of the raw
    # string. SUM(m * v) over the pre-cast column is bit-identical to
    # SUM(m * TRY_CAST(value ...)): same cast, same values, same
    # decimal sum type.
    fan = (
        e.select(
            F.expr("TRY_CAST(value AS DECIMAL(18,6))").alias("v"),
            digs.alias("digs"),
        )
        .select(
            "v",
            F.posexplode(
                F.expr(
                    "transform(sequence(0, 19), j -> CAST(CAST(conv("
                    "substring(digs, (j div 10) * 32 + (j % 10) * 3 + 1, 3),"
                    " 16, 10) AS BIGINT) % 3 AS INT))"
                )
            ).alias("j", "m"),
        )
        .select((F.col("j") + 1).alias("b"), "v", "m")
    )
    reps = fan.groupBy("b").agg(
        (F.expr("CAST(SUM(m * v) AS DOUBLE)") / F.sum("m")).alias("rep_mean")
    )
    return reps.agg(
        F.count("*").alias("n_boot"),
        F.expr("ROUND(percentile(rep_mean, 0.05), 6)").alias("boot_p05"),
        F.expr("ROUND(percentile(rep_mean, 0.50), 6)").alias("boot_p50"),
        F.expr("ROUND(percentile(rep_mean, 0.95), 6)").alias("boot_p95"),
    )


@Q.add(
    "weighted_median",
    """
    WITH w AS (
      -- NULL values carry no median mass (engine filters identically;
      -- unmirrored they also sort NULLS FIRST in Spark vs LAST in
      -- DuckDB) (r6 NULL-corpus parity audit)
      SELECT event_type, value,
             COALESCE(CAST((CASE WHEN json_valid(props) THEN json_extract_string(props, '$.k') END) AS BIGINT) + 1,
                      1) AS wt
      FROM events WHERE value IS NOT NULL
    ),
    c AS (
      SELECT event_type, value, wt,
             SUM(wt) OVER (
               PARTITION BY event_type
               ORDER BY value, wt
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             SUM(wt) OVER (PARTITION BY event_type) AS tot
      FROM w
    )
    SELECT event_type, CAST(MIN(tot) AS BIGINT) AS total_weight,
           MIN(CASE WHEN cum * 2 >= tot THEN value END) AS w_median
    FROM c GROUP BY event_type
    """,
    doc="weighted median of value per event_type (weights = the "
    "integer JSON prop + 1, so every weight is positive): the "
    "smallest value whose cumulative weight reaches half the total "
    "— the boundary test cum*2 >= tot is pure integer, no float "
    "quantile interpolation, and the keyed window distributes by "
    "group (one sort per event_type partition, no global sort). "
    "The robust-aggregation sibling of agg_median_mode (unweighted) "
    "and winsorize_pct (trimmed mean).",
)
def weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NULL values carry no median mass (r6 NULL-corpus parity; Spark
    # would otherwise sort them NULLS FIRST into the cum-weight walk)
    e = load(spark, sf_dir, "events").filter(F.col("value").isNotNull()).select(
        "event_type",
        "value",
        F.coalesce(
            F.get_json_object("props", "$.k").cast("bigint") + 1, F.lit(1)
        ).alias("wt"),
    )
    wo = (
        Window.partitionBy("event_type")
        .orderBy("value", "wt")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wp = Window.partitionBy("event_type")
    c = e.select(
        "event_type",
        "value",
        F.sum("wt").over(wo).alias("cum"),
        F.sum("wt").over(wp).alias("tot"),
    )
    return c.groupBy("event_type").agg(
        F.min("tot").cast("bigint").alias("total_weight"),
        F.min(
            F.when(F.col("cum") * 2 >= F.col("tot"), F.col("value"))
        ).alias("w_median"),
    )


@Q.add(
    "minmax_downsample",
    """
    WITH sel AS (
      SELECT event_type, ((least(greatest(epoch_us(ts), -9223372036854775), 9223372036854775)) - (least(greatest(epoch_us(ts), -9223372036854775), 9223372036854775)) % 3600000000) // 3600000000 AS hb,
             event_id, value,
             row_number() OVER (
               PARTITION BY event_type, ((least(greatest(epoch_us(ts), -9223372036854775), 9223372036854775)) - (least(greatest(epoch_us(ts), -9223372036854775), 9223372036854775)) % 3600000000) // 3600000000
               ORDER BY value ASC, event_id ASC) AS r_lo,
             row_number() OVER (
               PARTITION BY event_type, ((least(greatest(epoch_us(ts), -9223372036854775), 9223372036854775)) - (least(greatest(epoch_us(ts), -9223372036854775), 9223372036854775)) % 3600000000) // 3600000000
               ORDER BY value DESC, event_id ASC) AS r_hi
      FROM events WHERE value IS NOT NULL
    )
    SELECT event_type, CAST(hb AS BIGINT) AS hour_bucket,
           COUNT(*) AS n_points,
           MIN(CASE WHEN r_lo = 1 THEN event_id END) AS lo_event_id,
           MIN(CASE WHEN r_lo = 1 THEN value END) AS lo_value,
           MIN(CASE WHEN r_hi = 1 THEN event_id END) AS hi_event_id,
           MIN(CASE WHEN r_hi = 1 THEN value END) AS hi_value
    FROM sel GROUP BY event_type, hb
    """,
    doc="min-max downsampling for monitoring/visualization: per "
    "(series, epoch-hour bucket) keep exactly the extreme points — "
    "the standard lossy compaction that preserves spikes a plain "
    "AVG rollup would smooth away. Extremes are picked by fully "
    "tie-broken row_number windows (value, event_id), bucket time "
    "is integer epoch-hour math; the keyed window distributes by "
    "(series, bucket) so each partition sorts only its own points. "
    "At 100 TB emit one (lo, hi) pair per bucket — a 10^6x "
    "reduction ahead of any dashboard query.",
)
def minmax_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NULL values cannot be extremes — and Spark's ASC window would
    # rank them FIRST (NULLS FIRST) while DuckDB ranks them LAST,
    # silently electing a NULL row as the bucket minimum (r6
    # NULL-corpus parity audit)
    e = (
        load(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .withColumn("hb", F.expr("ts_ns DIV 3600000000000"))
    )
    wlo = Window.partitionBy("event_type", "hb").orderBy(
        F.asc("value"), F.asc("event_id")
    )
    whi = Window.partitionBy("event_type", "hb").orderBy(
        F.desc("value"), F.asc("event_id")
    )
    sel = e.select(
        "event_type",
        "hb",
        "event_id",
        "value",
        F.row_number().over(wlo).alias("r_lo"),
        F.row_number().over(whi).alias("r_hi"),
    )
    return sel.groupBy(
        "event_type", F.col("hb").cast("bigint").alias("hour_bucket")
    ).agg(
        F.count("*").alias("n_points"),
        F.min(F.when(F.col("r_lo") == 1, F.col("event_id"))).alias(
            "lo_event_id"
        ),
        F.min(F.when(F.col("r_lo") == 1, F.col("value"))).alias("lo_value"),
        F.min(F.when(F.col("r_hi") == 1, F.col("event_id"))).alias(
            "hi_event_id"
        ),
        F.min(F.when(F.col("r_hi") == 1, F.col("value"))).alias("hi_value"),
    )


@Q.add(
    "theilsen_trend",
    """
    WITH daily AS (
      SELECT ((least(greatest(epoch_us(ts), -9223372036854775), 9223372036854775)) - (least(greatest(epoch_us(ts), -9223372036854775), 9223372036854775)) % 86400000000) // 86400000000 AS d, COUNT(*) AS x
      FROM events GROUP BY d
    ),
    pairs AS (
      SELECT (CAST(b.x AS DOUBLE) - CAST(a.x AS DOUBLE))
               / CAST(b.d - a.d AS DOUBLE) AS slope
      FROM daily a JOIN daily b ON b.d > a.d
    )
    SELECT (SELECT COUNT(*) FROM daily) AS n_days,
           COUNT(*) AS n_pairs,
           ROUND(quantile_cont(slope, 0.50), 6) AS slope_per_day,
           ROUND(quantile_cont(slope, 0.50) * 7, 6) AS slope_per_week
    FROM pairs
    """,
    doc="Theil-Sen robust trend estimator on the daily event-count "
    "series: the median of all pairwise slopes (x_j - x_i)/(d_j - "
    "d_i) over integer epoch-days — outlier-resistant where OLS "
    "(agg_regression) is not, 29% breakdown point. Slopes are "
    "single divisions of exact integers (identical doubles both "
    "engines); the median is the type-7 quantile over the "
    "days^2/2-bounded pair frame. The distributed stage is the "
    "daily rollup; the O(days^2) pair join runs on a frame whose "
    "size the calendar bounds, not the corpus.",
)
def theilsen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    daily = e.groupBy(
        F.expr("ts_ns DIV 86400000000000").alias("d")
    ).agg(F.count("*").alias("x"))
    a = daily.select(F.col("d").alias("da"), F.col("x").alias("xa"))
    b = daily.select(F.col("d").alias("db"), F.col("x").alias("xb"))
    pairs = a.join(b, F.col("db") > F.col("da")).select(
        (
            (F.col("xb").cast("double") - F.col("xa").cast("double"))
            / (F.col("db") - F.col("da")).cast("double")
        ).alias("slope")
    )
    nd = daily.agg(F.count("*").alias("n_days"))
    return pairs.agg(
        F.count("*").alias("n_pairs"),
        F.expr("ROUND(percentile(slope, 0.50), 6)").alias("slope_per_day"),
        F.expr("ROUND(percentile(slope, 0.50) * 7, 6)").alias(
            "slope_per_week"
        ),
    ).crossJoin(F.broadcast(nd)).select(
        "n_days", "n_pairs", "slope_per_day", "slope_per_week"
    )


@Q.add(
    "forecast_mase",
    """
    WITH daily AS (
      SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day, COUNT(*) AS x
      FROM events GROUP BY day
    ),
    lagged AS (
      SELECT day, x,
             lag(x, 7) OVER (ORDER BY day) AS yhat,
             lag(x, 1) OVER (ORDER BY day) AS prev
      FROM daily
    ),
    scored AS (
      SELECT day, x, yhat,
             CASE WHEN yhat IS NOT NULL THEN ABS(x - yhat) END AS abs_err,
             CASE WHEN prev IS NOT NULL THEN ABS(x - prev) END AS naive_err
      FROM lagged
    )
    SELECT day, x AS n_events, yhat AS forecast, abs_err,
           (CAST(SUM(abs_err) OVER () AS DOUBLE)
            / SUM(CASE WHEN abs_err IS NOT NULL THEN 1 END) OVER ())
           / (CAST(SUM(naive_err) OVER () AS DOUBLE)
              / SUM(CASE WHEN naive_err IS NOT NULL THEN 1 END) OVER ())
             AS mase
    FROM scored
    """,
    doc="seasonal-naive forecast backtest with MASE (Hyndman's "
    "scale-free benchmark metric): forecast_t = x_{t-7} (same "
    "weekday last week), error scaled by the in-sample naive "
    "|x_t - x_{t-1}| MAE. Every error is an exact integer; the two "
    "MAEs and their ratio are identical double divisions — no "
    "float accumulates across rows. The distributed stage is the "
    "daily rollup; the lag/window math runs on the days-bounded "
    "series. MASE < 1 means the seasonal forecast beats naive — "
    "the go/no-go gate before shipping any fancier model.",
)
def forecast_mase(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    daily = e.groupBy(
        F.date_format("ts", "yyyy-MM-dd").alias("day")
    ).agg(F.count("*").alias("x"))
    wd = Window.orderBy("day")
    lagged = daily.select(
        "day",
        "x",
        F.lag("x", 7).over(wd).alias("yhat"),
        F.lag("x", 1).over(wd).alias("prev"),
    )
    scored = lagged.select(
        "day",
        "x",
        "yhat",
        F.when(
            F.col("yhat").isNotNull(), F.abs(F.col("x") - F.col("yhat"))
        ).alias("abs_err"),
        F.when(
            F.col("prev").isNotNull(), F.abs(F.col("x") - F.col("prev"))
        ).alias("naive_err"),
    )
    wall = Window.partitionBy()
    mae = F.sum("abs_err").over(wall).cast("double") / F.sum(
        F.when(F.col("abs_err").isNotNull(), 1)
    ).over(wall)
    nmae = F.sum("naive_err").over(wall).cast("double") / F.sum(
        F.when(F.col("naive_err").isNotNull(), 1)
    ).over(wall)
    return scored.select(
        "day",
        F.col("x").alias("n_events"),
        F.col("yhat").alias("forecast"),
        "abs_err",
        (mae / nmae).alias("mase"),
    )


@Q.add(
    "benford_audit",
    """
    WITH cents AS (
      -- int64-saturation mirror (r7 nonfinite parity): Spark's
      -- floor(DOUBLE) -> LONG uses the JVM's saturating double->long
      -- conversion, so +Inf / >=2^63 cents become Long.MAX (leading
      -- digit 9); DuckDB's CAST raises instead. The CASE reproduces
      -- the saturation exactly.
      SELECT CASE WHEN isnan(value) THEN 0
                  WHEN value * 100 + 0.5 >= 9223372036854775807.0
                  THEN 9223372036854775807
                  ELSE CAST(floor(value * 100 + 0.5) AS BIGINT) END AS c
      FROM events WHERE value > 0
    ),
    digits AS (
      SELECT CAST(substr(CAST(c AS VARCHAR), 1, 1) AS INT) AS d
      FROM cents WHERE c > 0
    ),
    obs AS (SELECT d, COUNT(*) AS n FROM digits GROUP BY d),
    spine AS (SELECT CAST(r AS INT) + 1 AS d FROM range(9) t(r)),
    j AS (
      SELECT spine.d, COALESCE(n, 0) AS n
      FROM spine LEFT JOIN obs ON spine.d = obs.d
    ),
    terms AS (
      SELECT d, n,
             CAST(n AS DOUBLE) / NULLIF(SUM(n) OVER (), 0) AS share,
             ln(1.0 + 1.0 / d) / ln(10.0) AS expected
      FROM j
    )
    SELECT d AS first_digit, CAST(n AS BIGINT) AS n,
           share, expected AS benford_expected,
           CAST(SUM(CAST(floor((share - expected) * (share - expected)
                               / expected * 1000000 + 0.5) AS BIGINT))
                OVER () AS DOUBLE) / 1000000 AS chi2_stat
    FROM terms
    """,
    doc="Benford's-law first-digit audit (the classic fabricated-data "
    "/ unit-mixing detector): leading digits extracted via INTEGER "
    "cents -> string (no float log10, no locale formatting — int-to-"
    "string is identical in both engines), all 9 digits reported on "
    "an explicit spine, expected shares ln(1+1/d)/ln(10) computed "
    "by the identical expression, and the chi-square-style deviation "
    "total summed in 1e-6 fixed-point. One map-side-combined digit "
    "rollup over the scan; audit math on 9 rows. The share division "
    "is NULLIF-guarded on both engines: an empty partition makes the "
    "spine total 0, and 0/0 is an ANSI DIVIDE_BY_ZERO on Spark and a "
    "settings-dependent NULL-or-NaN on DuckDB — NULL share/chi2 is "
    "the one answer both agree on (empty-input sweep).",
)
def benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events").filter(F.col("value") > 0)
    cents = e.select(
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("c")
    ).filter(F.col("c") > 0)
    digits = cents.select(
        F.substring(F.col("c").cast("string"), 1, 1).cast("int").alias("d")
    )
    obs = digits.groupBy("d").agg(F.count("*").alias("n"))
    spine = spark.range(9).select((F.col("id") + 1).cast("int").alias("d"))
    j = spine.join(F.broadcast(obs), "d", "left").select(
        "d", F.coalesce("n", F.lit(0)).alias("n")
    )
    wall = Window.partitionBy()
    terms = j.select(
        "d",
        "n",
        (
            F.col("n").cast("double")
            / F.nullif(F.sum("n").over(wall), F.lit(0))
        ).alias("share"),
        (F.log(1.0 + 1.0 / F.col("d")) / F.log(F.lit(10.0))).alias(
            "expected"
        ),
    )
    term_fp = F.floor(
        (F.col("share") - F.col("expected"))
        * (F.col("share") - F.col("expected"))
        / F.col("expected")
        * 1000000
        + F.lit(0.5)
    ).cast("bigint")
    return terms.select(
        F.col("d").alias("first_digit"),
        F.col("n").cast("bigint").alias("n"),
        "share",
        F.col("expected").alias("benford_expected"),
        (F.sum(term_fp).over(wall).cast("double") / 1000000).alias(
            "chi2_stat"
        ),
    )


@Q.add(
    "period_bridge",
    """
    WITH halves AS (
      SELECT event_type,
             CASE WHEN ((least(greatest(epoch_us(ts), -9223372036854775), 9223372036854775)) - (least(greatest(epoch_us(ts), -9223372036854775), 9223372036854775)) % 86400000000) // 86400000000 - 19723 < 15
                  THEN 0 ELSE 1 END AS period,
             value
      FROM events
    ),
    seg AS (
      SELECT event_type,
             CAST(SUM(CASE WHEN period = 0
                           THEN TRY_CAST(CAST(CASE WHEN isfinite(value) THEN value END AS VARCHAR) AS DECIMAL(18,6)) END)
                  AS DOUBLE) AS v0,
             CAST(SUM(CASE WHEN period = 1
                           THEN TRY_CAST(CAST(CASE WHEN isfinite(value) THEN value END AS VARCHAR) AS DECIMAL(18,6)) END)
                  AS DOUBLE) AS v1,
             CAST(SUM(CASE WHEN period = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n0,
             CAST(SUM(CASE WHEN period = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n1
      FROM halves GROUP BY event_type
    )
    SELECT event_type, n0, n1, v0, v1,
           v1 - v0 AS delta,
           (v1 - v0) - (CAST(CAST(SUM(TRY_CAST(CAST(CASE WHEN isfinite(v1 - v0) THEN v1 - v0 END AS VARCHAR) AS DECIMAL(18,6))) OVER () AS VARCHAR) AS DOUBLE)
                        / COUNT(*) OVER ()) AS delta_vs_avg,
           CAST(CAST(SUM(TRY_CAST(CAST(CASE WHEN isfinite(v1 - v0) THEN v1 - v0 END AS VARCHAR) AS DECIMAL(18,6))) OVER () AS VARCHAR) AS DOUBLE)
             AS total_bridge
    FROM seg
    """,
    doc="period-over-period bridge (waterfall) analysis: total value "
    "change between the first and second 15-day period decomposed "
    "into per-segment deltas that sum EXACTLY to the total (the "
    "finance-review contract a float accumulation would violate) — "
    "per-segment sums and the cross-segment bridge both go through "
    "DECIMAL(18,6), so segment deltas and their total are "
    "bit-consistent. The period split is integer epoch-day math "
    "(day 19723 = 2024-01-01). One conditional-aggregation rollup; "
    "bridge math on the segment-bounded frame.",
)
def period_bridge(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    halves = e.select(
        "event_type",
        F.when(
            F.expr("ts_ns DIV 86400000000000") - 19723 < 15, 0
        )
        .otherwise(1)
        .alias("period"),
        "value",
    )
    seg = halves.groupBy("event_type").agg(
        F.expr(
            "CAST(SUM(CASE WHEN period = 0 "
            "THEN TRY_CAST(value AS DECIMAL(18,6)) END) AS DOUBLE)"
        ).alias("v0"),
        F.expr(
            "CAST(SUM(CASE WHEN period = 1 "
            "THEN TRY_CAST(value AS DECIMAL(18,6)) END) AS DOUBLE)"
        ).alias("v1"),
        F.sum(F.when(F.col("period") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n0"),
        F.sum(F.when(F.col("period") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n1"),
    )
    wall = Window.partitionBy()
    delta = F.col("v1") - F.col("v0")
    bridge = F.expr(
        "CAST(SUM(TRY_CAST(v1 - v0 AS DECIMAL(18,6))) "
        "OVER () AS DOUBLE)"
    )
    return seg.select(
        "event_type",
        "n0",
        "n1",
        "v0",
        "v1",
        delta.alias("delta"),
        (delta - bridge / F.count("*").over(wall)).alias("delta_vs_avg"),
        bridge.alias("total_bridge"),
    )


@Q.add(
    "simpson_paradox_audit",
    """
    WITH fp AS (
      SELECT event_type,
             CAST(floor(value + 0.5) AS BIGINT) AS x,
             COALESCE(CAST((CASE WHEN json_valid(props) THEN json_extract_string(props, '$.k') END) AS BIGINT), 0)
               AS y
      FROM events
      WHERE value IS NULL OR abs(value) <= 1e9
    ),
    grouped AS (
      SELECT event_type, COUNT(*) AS n,
             SUM(x) AS sx, SUM(y) AS sy, SUM(x * y) AS sxy,
             SUM(x * x) AS sxx, SUM(y * y) AS syy
      FROM fp GROUP BY event_type
    ),
    pooled AS (
      SELECT 'ALL' AS event_type, CAST(SUM(n) AS BIGINT) AS n,
             CAST(SUM(sx) AS BIGINT) AS sx, CAST(SUM(sy) AS BIGINT) AS sy,
             CAST(SUM(sxy) AS BIGINT) AS sxy,
             CAST(SUM(sxx) AS BIGINT) AS sxx,
             CAST(SUM(syy) AS BIGINT) AS syy
      FROM grouped
      -- Spark-semantics mirror: empty input -> zero rows (see agg_rollup)
      HAVING COUNT(*) > 0
    ),
    unioned AS (
      SELECT event_type, n, sx, sy, sxy, sxx, syy FROM grouped
      UNION ALL SELECT * FROM pooled
    )
    SELECT event_type, CAST(n AS BIGINT) AS n,
           CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
                THEN CAST(n * sxy - sx * sy AS DOUBLE)
                     / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                        * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))
           END AS corr
    FROM unioned
    """,
    doc="Simpson's-paradox audit: the value~prop correlation computed "
    "per segment AND pooled in the same frame — a sign flip between "
    "the 'ALL' row and the segments is the paradox warning every "
    "aggregate-level A/B readout needs. Both inputs are exact "
    "integers (value in cents via floor, the JSON prop as-is), so "
    "the per-group moments are order-independent int sums, the "
    "pooled moments are EXACT SUMS OF THE GROUP MOMENTS (one pass, "
    "no second scan — the mergeable-statistics property "
    "partial_agg_merge pins), and only the final sqrt/division "
    "touch floats. Values are floored to whole units before the "
    "moments (x<=490, x^2<=2.5e5) so n*sxx stays int64-safe past "
    "sf100 — the correlation of the rounded variable, documented; "
    "cents-level precision would overflow n*sxx at sf0.1.",
)
def simpson_paradox_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    # integer-moment domain gate, mirrored in the oracle (non-finite
    # sweep, full-materialization pass): floor(Inf+0.5) saturates to
    # int64 max and x*x raises ARITHMETIC_OVERFLOW under ANSI. Rows
    # with |value| > 1e9 can't be snapped into the moment domain;
    # NULL-value rows are KEPT (their y moments still count — x-sums
    # skip NULLs on both engines, the pre-existing behavior).
    e = load(spark, sf_dir, "events").filter(
        F.col("value").isNull() | (F.abs(F.col("value")) <= 1e9)
    )
    fp = e.select(
        "event_type",
        F.floor(F.col("value") + F.lit(0.5)).cast("bigint").alias("x"),
        F.coalesce(
            F.get_json_object("props", "$.k").cast("bigint"), F.lit(0)
        ).alias("y"),
    )
    # r11 (guide §2.4): ROLLUP computes the per-segment moments and the
    # pooled row in ONE aggregation pass — the old shape unioned
    # `grouped` with a second single-partition re-aggregation of it
    # (extra exchange + final-agg job on top of the shared subtree).
    # Exact sums of integer moments are associative, so the rollup
    # grand-total row is bit-identical to the old sum-of-group-sums
    # (SUM skips NULL group moments exactly as it skips NULL x/y).
    # grouping()=1 marks the total row -> 'ALL'; a genuine NULL
    # event_type group keeps grouping()=0 and stays NULL, exactly as
    # the old union emitted it.
    # Declared semantics are Spark SQL's (see agg_rollup): ROLLUP of an
    # empty relation is empty, with no 'ALL' row; the oracle's pooled
    # CTE mirrors that with HAVING COUNT(*) > 0, a no-op on any
    # non-empty input.
    grouped = fp.rollup("event_type").agg(
        F.grouping("event_type").alias("gid"),
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    unioned = grouped.select(
        F.when(F.col("gid") == 1, F.lit("ALL"))
        .otherwise(F.col("event_type"))
        .alias("event_type"),
        "n", "sx", "sy", "sxy", "sxx", "syy",
    )
    denx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    deny = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    corr = F.when(
        (denx > 0) & (deny > 0),
        num.cast("double")
        / (F.sqrt(denx.cast("double")) * F.sqrt(deny.cast("double"))),
    )
    return unioned.select(
        "event_type", F.col("n").cast("bigint").alias("n"),
        corr.alias("corr"),
    )


@Q.add(
    "attribution_position",
    """
    WITH touches AS (
      SELECT user_id, event_id, value,
             row_number() OVER (
               PARTITION BY user_id
               ORDER BY (least(greatest(epoch_us(ts), -9223372036854775), 9223372036854775) * 1000), event_id) AS pos,
             COUNT(*) OVER (PARTITION BY user_id) AS n
      FROM events WHERE event_type IN ('click', 'view')
    ),
    conv AS (
      SELECT user_id,
             CAST(CAST(SUM(TRY_CAST(CAST(CASE WHEN isfinite(value) THEN value END AS VARCHAR) AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS revenue
      FROM events WHERE event_type = 'purchase' GROUP BY user_id
    ),
    credited AS (
      SELECT t.user_id, t.event_id,
             CASE
               WHEN t.n = 1 THEN 1000000
               WHEN t.n = 2 THEN 500000
               WHEN t.pos = 1 OR t.pos = t.n THEN 400000
               ELSE 200000 // (t.n - 2)
             END AS credit_ppm,
             c.revenue
      FROM touches t JOIN conv c USING (user_id)
    )
    SELECT user_id,
           COUNT(*) AS n_touches,
           CAST(SUM(credit_ppm) AS BIGINT) AS total_ppm,
           MIN(revenue) AS revenue
    FROM credited
    GROUP BY user_id
    """,
    doc="position-based (U-shaped 40/20/40) multi-touch attribution — "
    "the third member of the attribution family (last_touch, "
    "linear): first and last touch get 40% credit each, the middle "
    "splits 20%, degenerate 1- and 2-touch paths get 100/50-50. "
    "Credits are INTEGER parts-per-million (200000/(n-2) is exact "
    "int division — identical truncation both engines; total_ppm "
    "audits the rounding loss per path), conversion revenue is an "
    "exact DECIMAL rollup. Keyed windows order each user's path; "
    "the converters join is per-user equi. Same shape at 100 TB: "
    "windows distribute by user, no global sort.",
)
def attribution_position(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    wp = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
    wn = Window.partitionBy("user_id")
    touches = (
        e.filter(F.col("event_type").isin("click", "view"))
        .select(
            "user_id",
            "event_id",
            "value",
            F.row_number().over(wp).alias("pos"),
            F.count("*").over(wn).alias("n"),
        )
    )
    conv = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.expr(
                "CAST(SUM(TRY_CAST(value AS DECIMAL(18,6))) AS DOUBLE)"
            ).alias("revenue")
        )
    )
    credit = (
        F.when(F.col("n") == 1, F.lit(1000000))
        .when(F.col("n") == 2, F.lit(500000))
        .when(
            (F.col("pos") == 1) | (F.col("pos") == F.col("n")),
            F.lit(400000),
        )
        .otherwise(F.expr("200000 DIV (n - 2)"))
    )
    credited = touches.join(conv, "user_id").select(
        "user_id", "event_id", credit.alias("credit_ppm"), "revenue"
    )
    return credited.groupBy("user_id").agg(
        F.count("*").alias("n_touches"),
        F.sum("credit_ppm").cast("bigint").alias("total_ppm"),
        F.min("revenue").alias("revenue"),
    )


@Q.add(
    "reconciliation_audit",
    """
    WITH lt AS (
      SELECT l_orderkey,
             CAST(CAST(SUM(TRY_CAST(CAST(CASE WHEN isfinite(l_extendedprice * (1 - l_discount) * (1 + l_tax)
                          ) THEN l_extendedprice * (1 - l_discount) * (1 + l_tax)
                           END AS VARCHAR) AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS computed
      FROM lineitem GROUP BY l_orderkey
    ),
    j AS (
      SELECT o.o_orderkey, o.o_totalprice, lt.computed,
             CASE
               WHEN lt.computed IS NULL THEN 'missing_lineitems'
               WHEN o.o_totalprice * 10 < lt.computed * 5
                 THEN 'under_half'
               WHEN o.o_totalprice * 10 < lt.computed * 9
                 THEN 'low_0.5_0.9'
               WHEN o.o_totalprice * 10 <= lt.computed * 11
                 THEN 'near_0.9_1.1'
               WHEN o.o_totalprice * 10 <= lt.computed * 20
                 THEN 'high_1.1_2'
               ELSE 'over_double'
             END AS bucket
      FROM orders o LEFT JOIN lt ON lt.l_orderkey = o.o_orderkey
    )
    SELECT bucket, COUNT(*) AS n_orders,
           CAST(CAST(SUM(TRY_CAST(CAST(CASE WHEN isfinite(o_totalprice) THEN o_totalprice END AS VARCHAR) AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)
             AS header_total,
           CAST(CAST(SUM(TRY_CAST(CAST(CASE WHEN isfinite(COALESCE(computed, 0)) THEN COALESCE(computed, 0) END AS VARCHAR) AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS line_total
    FROM j GROUP BY bucket
    """,
    doc="cross-table reconciliation audit: order-header totals vs the "
    "recomputed lineitem sum extprice*(1-disc)*(1+tax), bucketed by "
    "discrepancy ratio — the finance close-of-books check (and on "
    "this synthetic data it correctly reports that NO header "
    "reconciles, which is exactly what the audit exists to catch). "
    "Ratio buckets are decided by integer-scaled cross "
    "multiplication (x10 vs x5/x9/x11/x20 — no float division at "
    "the boundary), both totals are exact DECIMAL sums. One "
    "per-order rollup + a key equi-join; at 100 TB both sides "
    "shuffle once on orderkey — the classic co-partition/bucketing "
    "candidate (sources/bucketed writer pre-pays exactly this).",
)
def reconciliation_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    lt = li.groupBy("l_orderkey").agg(
        F.expr(
            "CAST(SUM(TRY_CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax)"
            " AS DECIMAL(18,6))) AS DOUBLE)"
        ).alias("computed")
    )
    j = o.join(lt, o.o_orderkey == lt.l_orderkey, "left")
    t10 = F.col("o_totalprice") * 10
    bucket = (
        F.when(F.col("computed").isNull(), "missing_lineitems")
        .when(t10 < F.col("computed") * 5, "under_half")
        .when(t10 < F.col("computed") * 9, "low_0.5_0.9")
        .when(t10 <= F.col("computed") * 11, "near_0.9_1.1")
        .when(t10 <= F.col("computed") * 20, "high_1.1_2")
        .otherwise("over_double")
    )
    return j.select(
        bucket.alias("bucket"), "o_totalprice", "computed"
    ).groupBy("bucket").agg(
        F.count("*").alias("n_orders"),
        F.expr(
            "CAST(SUM(TRY_CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)"
        ).alias("header_total"),
        F.expr(
            "CAST(SUM(TRY_CAST(COALESCE(computed, 0) AS DECIMAL(18,6))) "
            "AS DOUBLE)"
        ).alias("line_total"),
    )


@Q.add(
    "feature_lag_matrix",
    """
    WITH daily AS (
      SELECT user_id, ((least(greatest(epoch_us(ts), -9223372036854775), 9223372036854775)) - (least(greatest(epoch_us(ts), -9223372036854775), 9223372036854775)) % 86400000000) // 86400000000 AS d, COUNT(*) AS x
      FROM events GROUP BY user_id, d
    )
    SELECT user_id, CAST(d AS BIGINT) AS epoch_day, x,
           lag(x, 1) OVER w AS lag1,
           lag(x, 7) OVER w AS lag7,
           CAST(SUM(x) OVER (
             PARTITION BY user_id ORDER BY d
             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT)
             AS sum7,
           COUNT(*) OVER (
             PARTITION BY user_id ORDER BY d
             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS n7
    FROM daily
    WINDOW w AS (PARTITION BY user_id ORDER BY d)
    """,
    doc="feature-store lag matrix: per (entity, day) activity with "
    "lag-1 / lag-7 and trailing-7-row sums — the standard "
    "covariate block fed to churn/LTV models, materialized as a "
    "feature table. NOTE the frame is the last 7 OBSERVED days "
    "(rows), not calendar days — gap_fill_days + win_frame_range "
    "cover the calendar-frame variant. Everything is integer; "
    "keyed windows distribute by entity (one user's history per "
    "partition), no global sort — the same plan at 1e9 entities.",
)
def feature_lag_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    daily = e.groupBy(
        "user_id", F.expr("ts_ns DIV 86400000000000").alias("d")
    ).agg(F.count("*").alias("x"))
    w = Window.partitionBy("user_id").orderBy("d")
    w7 = w.rowsBetween(-6, Window.currentRow)
    return daily.select(
        "user_id",
        F.col("d").cast("bigint").alias("epoch_day"),
        "x",
        F.lag("x", 1).over(w).alias("lag1"),
        F.lag("x", 7).over(w).alias("lag7"),
        F.sum("x").over(w7).cast("bigint").alias("sum7"),
        F.count("*").over(w7).alias("n7"),
    )


@Q.add(
    "seasonal_decompose",
    """
    WITH daily AS (
      SELECT ((least(greatest(epoch_us(ts), -9223372036854775), 9223372036854775)) - (least(greatest(epoch_us(ts), -9223372036854775), 9223372036854775)) % 86400000000) // 86400000000 AS d, COUNT(*) AS x
      FROM events GROUP BY d
    ),
    tr AS (
      SELECT d, x,
             CAST(SUM(x) OVER w AS DOUBLE) / COUNT(*) OVER w AS trend,
             CAST((d + 4) % 7 AS INT) AS dow
      FROM daily
      WINDOW w AS (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ),
    det AS (
      SELECT d, x, trend, dow,
             CAST(floor((x - trend) * 1000000 + 0.5) AS BIGINT) AS det_fp
      FROM tr
    ),
    seas AS (
      SELECT dow,
             CAST(SUM(det_fp) AS BIGINT) AS s_fp,
             COUNT(*) AS sn
      FROM det GROUP BY dow
    )
    SELECT det.d AS epoch_day, det.x AS n_events,
           det.trend,
           CAST(seas.s_fp AS DOUBLE) / seas.sn / 1000000 AS seasonal,
           CAST(det.det_fp AS DOUBLE) / 1000000
             - CAST(seas.s_fp AS DOUBLE) / seas.sn / 1000000 AS remainder
    FROM det JOIN seas USING (dow)
    """,
    doc="classical seasonal decomposition of the daily count series "
    "(additive, STL-lite): trend = centered 7-point moving average "
    "(exact integer sum / window count, one double division), "
    "seasonal = per-day-of-week mean of the detrended series with "
    "detrended values snapped to 1e-6 fixed-point BEFORE the "
    "cross-row mean (order-independent — integer epoch dow, no "
    "locale), remainder = detrended - seasonal. The distributed "
    "stage is the daily rollup; decomposition runs on the "
    "days-bounded series joined to a 7-row seasonal table. "
    "Companion to seasonality_profile (raw dow means) and "
    "forecast_mase (what to run after removing seasonality).",
)
def seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    daily = e.groupBy(
        F.expr("ts_ns DIV 86400000000000").alias("d")
    ).agg(F.count("*").alias("x"))
    w = Window.orderBy("d").rowsBetween(-3, 3)
    tr = daily.select(
        "d",
        "x",
        (F.sum("x").over(w).cast("double") / F.count("*").over(w)).alias(
            "trend"
        ),
        F.expr("CAST((d + 4) % 7 AS INT)").alias("dow"),
    )
    det = tr.withColumn(
        "det_fp",
        F.floor((F.col("x") - F.col("trend")) * 1000000 + F.lit(0.5)).cast(
            "bigint"
        ),
    )
    seas = det.groupBy("dow").agg(
        F.sum("det_fp").cast("bigint").alias("s_fp"),
        F.count("*").alias("sn"),
    )
    jd = det.join(F.broadcast(seas), "dow")
    seasonal = F.col("s_fp").cast("double") / F.col("sn") / 1000000
    return jd.select(
        F.col("d").alias("epoch_day"),
        F.col("x").alias("n_events"),
        "trend",
        seasonal.alias("seasonal"),
        (F.col("det_fp").cast("double") / 1000000 - seasonal).alias(
            "remainder"
        ),
    )


@Q.add(
    "lifecycle_stages",
    """
    WITH bounds AS (SELECT MAX((least(greatest(epoch_us(ts), -9223372036854775), 9223372036854775) * 1000)) AS hi FROM events),
    u AS (
      SELECT user_id,
             MIN((least(greatest(epoch_us(ts), -9223372036854775), 9223372036854775) * 1000)) AS first_ns, MAX((least(greatest(epoch_us(ts), -9223372036854775), 9223372036854775) * 1000)) AS last_ns,
             COUNT(*) AS n_events
      FROM events GROUP BY user_id
    ),
    staged AS (
      SELECT user_id, n_events,
             -- HUGEINT spans mirror the engine's try_subtract
             -- branches exactly: an overflowing span is neither
             -- 'new' (> 7d) and always 'churned' (> 1d) (r6)
             CASE
               WHEN CAST(hi AS HUGEINT) - first_ns < 7 * 86400000000000
                 THEN 'new'
               WHEN CAST(hi AS HUGEINT) - last_ns > 86400000000000
                 THEN 'churned'
               ELSE 'active'
             END AS stage
      FROM u, bounds
    )
    SELECT stage, COUNT(*) AS n_users,
           CAST(SUM(n_events) AS BIGINT) AS n_events,
           CAST(COUNT(*) AS DOUBLE)
             / SUM(COUNT(*)) OVER () AS user_share
    FROM staged GROUP BY stage
    """,
    doc="user lifecycle staging at the snapshot instant (max event "
    "time): 'new' = first seen within 7 days, 'churned' = silent "
    "for over a day (thresholds sized to this dense 30-day "
    "corpus), else 'active' — the health rollup every "
    "growth dashboard leads with. All boundaries are integer "
    "epoch-ns comparisons against a 1-row bounds broadcast; one "
    "per-user extent rollup (map-side combinable) then a 3-row "
    "stage aggregate. Same shape as split_time_leakage, pointed "
    "at retention instead of leakage.",
)
def lifecycle_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    b = e.agg(F.max("ts_ns").alias("hi"))
    u = e.groupBy("user_id").agg(
        F.min("ts_ns").alias("first_ns"),
        F.max("ts_ns").alias("last_ns"),
        F.count("*").alias("n_events"),
    )
    # try_subtract (extreme-ts sweep): a rail-to-rail span that
    # overflows int64 ns is astronomically large — NULL skips the
    # 'new' branch (correct: not recent) and coalesces to +max for
    # the churn gap (correct: silent for eons -> churned).
    day_ns = 86400000000000
    i64_max = 9223372036854775807
    staged = u.crossJoin(F.broadcast(b)).select(
        "user_id",
        "n_events",
        F.when(
            F.try_subtract(F.col("hi"), F.col("first_ns")) < 7 * day_ns, "new"
        )
        .when(
            F.coalesce(
                F.try_subtract(F.col("hi"), F.col("last_ns")), F.lit(i64_max)
            )
            > day_ns,
            "churned",
        )
        .otherwise("active")
        .alias("stage"),
    )
    wall = Window.partitionBy()
    agg = staged.groupBy("stage").agg(
        F.count("*").alias("n_users"),
        F.sum("n_events").cast("bigint").alias("n_events"),
    )
    return agg.select(
        "stage",
        "n_users",
        "n_events",
        (
            F.col("n_users").cast("double")
            / F.sum("n_users").over(wall)
        ).alias("user_share"),
    )


@Q.add(
    "rule_violation_matrix",
    """
    WITH checked AS (
      SELECT event_id,
             CASE WHEN value IS NULL OR value <= 0 THEN 1 ELSE 0 END
               AS r_value_pos,
             CASE WHEN ((least(greatest(epoch_us(ts), -9223372036854775), 9223372036854775)) - (least(greatest(epoch_us(ts), -9223372036854775), 9223372036854775)) % 86400000000) // 86400000000
                       NOT BETWEEN 19723 AND 19752 THEN 1 ELSE 0 END
               AS r_ts_range,
             CASE WHEN (CASE WHEN json_valid(props) THEN json_extract_string(props, '$.k') END) IS NULL
                  THEN 1 ELSE 0 END AS r_props_k,
             CASE WHEN event_type NOT IN
                       ('click', 'view', 'purchase', 'signup', 'error')
                  THEN 1 ELSE 0 END AS r_type_enum
      FROM events
    )
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(r_value_pos) AS BIGINT) AS v_value_pos,
           CAST(SUM(r_ts_range) AS BIGINT) AS v_ts_range,
           CAST(SUM(r_props_k) AS BIGINT) AS v_props_k,
           CAST(SUM(r_type_enum) AS BIGINT) AS v_type_enum,
           CAST(SUM(CASE WHEN r_value_pos + r_ts_range + r_props_k
                              + r_type_enum > 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS rows_any_violation,
           CAST(SUM(CASE WHEN r_value_pos + r_ts_range + r_props_k
                              + r_type_enum > 0 THEN 1 ELSE 0 END)
                AS DOUBLE) / COUNT(*) AS violation_rate
    FROM checked
    """,
    doc="data-contract rule engine: four declarative row rules "
    "(positive value, timestamp inside the contract window — "
    "integer epoch-days 19723..19752 = 2024-01 — parseable JSON "
    "prop, event_type in the enum) evaluated in ONE pass as 0/1 "
    "flag columns, then per-rule violation counts plus the "
    "any-violation rollup. The flags are row-local codegen "
    "expressions fused into the scan — adding a rule adds a "
    "column, never a pass; at 100 TB this is the schema-contract "
    "gate run before ingestion promotes a batch. Companions: "
    "profile_stats (discovery), referential_check (cross-table).",
)
def rule_violation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    checked = e.select(
        "event_id",
        F.when(
            F.col("value").isNull() | (F.col("value") <= 0), 1
        )
        .otherwise(0)
        .alias("r_value_pos"),
        F.when(
            ~F.expr("ts_ns DIV 86400000000000").between(19723, 19752), 1
        )
        .otherwise(0)
        .alias("r_ts_range"),
        F.when(F.get_json_object("props", "$.k").isNull(), 1)
        .otherwise(0)
        .alias("r_props_k"),
        F.when(
            ~F.col("event_type").isin(
                "click", "view", "purchase", "signup", "error"
            ),
            1,
        )
        .otherwise(0)
        .alias("r_type_enum"),
    )
    any_v = (
        F.col("r_value_pos")
        + F.col("r_ts_range")
        + F.col("r_props_k")
        + F.col("r_type_enum")
        > 0
    )
    return checked.agg(
        F.count("*").alias("n_rows"),
        F.sum("r_value_pos").cast("bigint").alias("v_value_pos"),
        F.sum("r_ts_range").cast("bigint").alias("v_ts_range"),
        F.sum("r_props_k").cast("bigint").alias("v_props_k"),
        F.sum("r_type_enum").cast("bigint").alias("v_type_enum"),
        F.sum(F.when(any_v, 1).otherwise(0))
        .cast("bigint")
        .alias("rows_any_violation"),
        (
            F.sum(F.when(any_v, 1).otherwise(0)).cast("double")
            / F.count("*")
        ).alias("violation_rate"),
    )


@Q.add(
    "share_of_parent",
    """
    WITH rev AS (
      SELECT r.r_name AS region, n.n_name AS nation,
             SUM(TRY_CAST(CAST(CASE WHEN isfinite(o.o_totalprice) THEN o.o_totalprice END AS VARCHAR) AS DECIMAL(18,6))) AS rev_dec
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
      GROUP BY r.r_name, n.n_name
    )
    SELECT region, nation, CAST(rev_dec AS DOUBLE) AS revenue,
           CAST(rev_dec AS DOUBLE)
             / CAST(SUM(rev_dec) OVER (PARTITION BY region) AS DOUBLE)
             AS share_of_region,
           CAST(rev_dec AS DOUBLE)
             / CAST(SUM(rev_dec) OVER () AS DOUBLE) AS share_of_total
    FROM rev
    """,
    doc="hierarchical share-of-parent: each nation's revenue as a "
    "fraction of its region and of the grand total, in one frame — "
    "the BI drill-down contract agg_rollup's subtotals feed. "
    "Revenue is an exact DECIMAL rollup (order-independent; the "
    "shares divide identical doubles); the share windows run over "
    "the 25-row nation frame, never the fact table. Dimension "
    "joins broadcast (region 5, nation 25, customer dim); the "
    "orders scan streams once — the star-join shape Catalyst "
    "reorders for free at 100 TB.",
)
def share_of_parent(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    rev = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(
            F.col("r_name").alias("region"), F.col("n_name").alias("nation")
        )
        .agg(
            F.expr(
                "SUM(TRY_CAST(o_totalprice AS DECIMAL(18,6)))"
            ).alias("rev_dec")
        )
    )
    # the share denominators sum DECIMALS (exact, order-independent) —
    # summing the 25 revenue doubles drifts an ulp between engines
    wr = Window.partitionBy("region")
    wall = Window.partitionBy()
    return rev.select(
        "region",
        "nation",
        F.col("rev_dec").cast("double").alias("revenue"),
        (
            F.col("rev_dec").cast("double")
            / F.sum("rev_dec").over(wr).cast("double")
        ).alias("share_of_region"),
        (
            F.col("rev_dec").cast("double")
            / F.sum("rev_dec").over(wall).cast("double")
        ).alias("share_of_total"),
    )


@Q.add(
    "cycle_time_stats",
    """
    WITH cyc AS (
      SELECT o.o_orderpriority,
             datediff('day', CAST(o.o_orderdate AS DATE),
                      CAST(l.l_shipdate AS DATE)) AS days
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    )
    SELECT o_orderpriority, COUNT(*) AS n,
           CAST(MIN(days) AS BIGINT) AS min_days,
           ROUND(quantile_cont(days, 0.50), 4) AS p50_days,
           ROUND(quantile_cont(days, 0.90), 4) AS p90_days,
           CAST(MAX(days) AS BIGINT) AS max_days
    FROM cyc GROUP BY o_orderpriority
    """,
    doc="order-to-ship cycle time distribution per priority class — "
    "the fulfillment SLA readout: integer DATE datediff (the "
    "date_funcs parity path — no timestamp subtraction, no tz), "
    "type-7 p50/p90 over the "
    "per-priority populations, min/max as exact integers. The "
    "orderkey join is the co-partition/bucketing candidate at 100 "
    "TB (reconciliation_audit's shape); the exact percentile sorts "
    "per group — swap percentile_approx past memory bounds.",
)
def cycle_time_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    cyc = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "o_orderpriority",
        F.datediff(
            F.col("l_shipdate").cast("date"),
            F.col("o_orderdate").cast("date"),
        ).alias("days"),
    )
    return cyc.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"),
        F.min("days").cast("bigint").alias("min_days"),
        F.expr("ROUND(percentile(days, 0.50), 4)").alias("p50_days"),
        F.expr("ROUND(percentile(days, 0.90), 4)").alias("p90_days"),
        F.max("days").cast("bigint").alias("max_days"),
    )


@Q.add(
    "quantile_bands_daily",
    """
    SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
           COUNT(*) AS n,
           ROUND(quantile_cont(CASE WHEN isfinite(value) THEN value END, 0.10), 4) AS p10,
           ROUND(quantile_cont(CASE WHEN isfinite(value) THEN value END, 0.50), 4) AS p50,
           ROUND(quantile_cont(CASE WHEN isfinite(value) THEN value END, 0.90), 4) AS p90
    FROM events GROUP BY day
    """,
    doc="daily P10/P50/P90 monitoring bands over event values — the "
    "percentile ribbon every latency/value dashboard draws (and "
    "the input minmax_downsample complements with extremes): "
    "type-7 interpolated quantiles per day partition, day keys as "
    "integer-derived strings. One keyed exact-percentile aggregate "
    "— each day's population sorts within its partition; at 100 TB "
    "per-day populations are the percentile_approx candidate while "
    "the plan shape stays identical.",
)
def quantile_bands_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    return e.groupBy(
        F.date_format("ts", "yyyy-MM-dd").alias("day")
    ).agg(
        F.count("*").alias("n"),
        F.expr("ROUND(percentile(CASE WHEN NOT isnan(value) AND abs(value) != double('infinity') THEN value END, 0.10), 4)").alias("p10"),
        F.expr("ROUND(percentile(CASE WHEN NOT isnan(value) AND abs(value) != double('infinity') THEN value END, 0.50), 4)").alias("p50"),
        F.expr("ROUND(percentile(CASE WHEN NOT isnan(value) AND abs(value) != double('infinity') THEN value END, 0.90), 4)").alias("p90"),
    )


@Q.add(
    "discount_lift",
    """
    WITH tiers AS (
      SELECT CAST(floor(l_discount * 100 + 0.5) AS INT) AS disc_pct,
             l_quantity, l_extendedprice
      FROM lineitem
    )
    SELECT disc_pct, COUNT(*) AS n,
           CAST(CAST(SUM(TRY_CAST(CAST(CASE WHEN isfinite(l_quantity) THEN l_quantity END AS VARCHAR) AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)
             / COUNT(*) AS avg_qty,
           CAST(CAST(SUM(TRY_CAST(CAST(CASE WHEN isfinite(l_extendedprice) THEN l_extendedprice END AS VARCHAR) AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)
             / COUNT(*) AS avg_price
    FROM tiers GROUP BY disc_pct
    """,
    doc="discount-lift analysis: average quantity and price per "
    "integer discount tier (floor(discount*100+0.5) — the exact "
    "integer-cents bucketing, no float group keys) — the promo-"
    "effectiveness readout that feeds price-elasticity estimates; "
    "rising avg_qty across tiers is the lift signal. Means are "
    "exact-DECIMAL sums over one map-side-combined rollup keyed on "
    "~12 tiers; the lineitem scan streams once, projecting three "
    "columns (pushdown pins the narrow ReadSchema).",
)
def discount_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    tiers = li.select(
        F.floor(F.col("l_discount") * 100 + F.lit(0.5))
        .cast("int")
        .alias("disc_pct"),
        "l_quantity",
        "l_extendedprice",
    )
    return tiers.groupBy("disc_pct").agg(
        F.count("*").alias("n"),
        (
            F.expr(
                "CAST(SUM(TRY_CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE)"
            )
            / F.count("*")
        ).alias("avg_qty"),
        (
            F.expr(
                "CAST(SUM(TRY_CAST(l_extendedprice AS DECIMAL(18,6))) "
                "AS DOUBLE)"
            )
            / F.count("*")
        ).alias("avg_price"),
    )


@Q.add(
    "heatmap_dow_hour",
    """
    WITH cells AS (
      SELECT CAST((((least(greatest(epoch_us(ts), -9223372036854775), 9223372036854775)) - (least(greatest(epoch_us(ts), -9223372036854775), 9223372036854775)) % 86400000000) // 86400000000 + 4) % 7 AS INT) AS dow,
             CAST((((least(greatest(epoch_us(ts), -9223372036854775), 9223372036854775)) - (least(greatest(epoch_us(ts), -9223372036854775), 9223372036854775)) % 3600000000) // 3600000000) % 24 AS INT) AS hour,
             COUNT(*) AS n
      FROM events GROUP BY dow, hour
    )
    SELECT dow, hour, CAST(n AS BIGINT) AS n,
           CAST(n AS DOUBLE) / SUM(n) OVER () AS share
    FROM cells
    """,
    doc="activity heatmap matrix: event counts and share by (integer-"
    "epoch day-of-week x hour-of-day) — the traffic-shape profile "
    "behind capacity planning and anomaly baselines (pairs with "
    "seasonal_decompose's dow seasonality). Both axes are pure "
    "integer epoch arithmetic (no timezone, no locale); one "
    "map-side-combined rollup to a <=168-cell frame, share as a "
    "window over that bounded frame.",
)
def heatmap_dow_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    cells = e.groupBy(
        F.expr("CAST((ts_ns DIV 86400000000000 + 4) % 7 AS INT)").alias(
            "dow"
        ),
        F.expr("CAST((ts_ns DIV 3600000000000) % 24 AS INT)").alias(
            "hour"
        ),
    ).agg(F.count("*").alias("n"))
    wall = Window.partitionBy()
    return cells.select(
        "dow",
        "hour",
        F.col("n").cast("bigint").alias("n"),
        (F.col("n").cast("double") / F.sum("n").over(wall)).alias("share"),
    )


@Q.add(
    "hhi_concentration",
    """
    WITH seg AS (
      SELECT c.c_mktsegment AS segment, o.o_custkey,
             SUM(TRY_CAST(CAST(CASE WHEN isfinite(o.o_totalprice) THEN o.o_totalprice END AS VARCHAR) AS DECIMAL(18,6))) AS rev_dec
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY c.c_mktsegment, o.o_custkey
    ),
    shares AS (
      SELECT segment,
             CAST(rev_dec AS DOUBLE)
               / CAST(SUM(rev_dec) OVER (PARTITION BY segment) AS DOUBLE)
               AS share
      FROM seg
    ),
    terms AS (
      SELECT segment,
             CAST(floor(share * share * 10000000000 + 0.5) AS BIGINT)
               AS sq_fp
      FROM shares
    )
    SELECT segment, COUNT(*) AS n_customers,
           CAST(SUM(sq_fp) AS DOUBLE) / 10000000000 AS hhi
    FROM terms GROUP BY segment
    """,
    doc="Herfindahl-Hirschman concentration index per market segment "
    "(sum of squared customer revenue shares — the antitrust/"
    "platform-risk metric; 1/n = perfectly even, 1 = monopoly; "
    "grouped companion to concentration_8020 and agg_gini): "
    "segment denominators are exact DECIMAL window sums (the "
    "share_of_parent lesson), each squared share snaps to 1e-10 "
    "fixed-point BEFORE the cross-customer sum so the reduction is "
    "order-independent at HHI's small magnitudes (~1/n^2 terms). "
    "One (segment, customer) rollup + windows on the "
    "customer-bounded frame.",
)
def hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    seg = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("c_mktsegment").alias("segment"), "o_custkey"
        )
        .agg(
            F.expr("SUM(TRY_CAST(o_totalprice AS DECIMAL(18,6)))").alias(
                "rev_dec"
            )
        )
    )
    ws = Window.partitionBy("segment")
    shares = seg.select(
        "segment",
        (
            F.col("rev_dec").cast("double")
            / F.sum("rev_dec").over(ws).cast("double")
        ).alias("share"),
    )
    terms = shares.select(
        "segment",
        F.floor(
            F.col("share") * F.col("share") * F.lit(10000000000.0)
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("sq_fp"),
    )
    return terms.groupBy("segment").agg(
        F.count("*").alias("n_customers"),
        (F.sum("sq_fp").cast("double") / F.lit(10000000000.0)).alias(
            "hhi"
        ),
    )
