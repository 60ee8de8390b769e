"""B8 — LLM-data-pipeline extension queries (dedup, similarity, text
analysis, sessionization, tumbling windows, multimodal plumbing).

Oracle coverage policy: everything with engine-independent semantics
gets full DuckDB SQL; hash-seeded approximations (MinHashLSH, SimHash
via xxhash64, hyperplane LSH) are rows-only for the driver but pinned
by pytest golden/property tests instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.text import (
    DUCKDB_FINGERPRINT,
    duckdb_lang_id,
    doc_fingerprint,
    lang_id,
    quality_features,
    token_count_bpe,
    token_count_ws,
)
from ..tables import load
from . import Registry

Q = Registry()


def _nsq(col: str = "embedding") -> str:
    """SQL: squared L2 norm of a vector, NULL-ELEMENT-SAFE.

    DuckDB's ``list_dot_product`` raises InvalidInput on a list with a
    NULL element, and the raise fires while the expression is being
    evaluated — a surrounding WHERE cannot guard it. This comprehension
    NaN-poisons the sum instead, so ``isfinite(_nsq())`` excludes the
    row exactly like the engine's fold (where a NULL element nulls the
    accumulator and the embeddable() filter drops the row). Found by
    the r7 nonfinite-corpus parity gate: pandas->parquet writes NaN
    vector dims as NULL list elements, so this is the shape real
    ingested embeddings have."""
    return (
        f"list_sum([CASE WHEN x IS NULL THEN 'nan'::DOUBLE "
        f"ELSE CAST(x AS DOUBLE)*CAST(x AS DOUBLE) END FOR x IN {col}])"
    )


def _emb_gate(col: str = "embedding", dim: int | None = 64) -> str:
    """SQL twin of ``functions.vectors.embeddable(col, dim)``: non-null,
    fixed-dim (when given), 0 < squared-norm < inf — null-element-safe
    (see :func:`_nsq`)."""
    parts = [f"{col} IS NOT NULL"]
    if dim is not None:
        parts.append(f"len({col}) = {dim}")
    parts += [f"{_nsq(col)} > 0", f"isfinite({_nsq(col)})"]
    return " AND ".join(parts)


# ===========================================================================
# dedup family
# ===========================================================================


@Q.add(
    "dedup_exact",
    """
    SELECT text, MIN(doc_id) AS doc_id, COUNT(*) AS n_dups
    FROM documents
    GROUP BY text
    """,
    doc="exact dedup: canonical (min doc_id) per distinct text + group size",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import exact_dedup

    d = load(spark, sf_dir, "documents")
    return exact_dedup(d, ["text"], "doc_id").select("text", "doc_id", "n_dups")


@Q.add(
    "dedup_minhash",
    None,  # LSH candidate set depends on hash seeds -> rows-only + pytest
    doc="MinHash-LSH near-dup clusters (shingle->minhash->band->join), fixed seed",
)
def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import connected_components, minhash_pairs_collapsed

    d = load(spark, sf_dir, "documents", unique=("doc_id",))
    # collapsed form (r5 skew audit): CC runs on the gram-set
    # REPRESENTATIVE graph and labels expand through the id->rep map —
    # a boilerplate clique contributes one node instead of a quadratic
    # intra-pair set, and the labels are provably identical (each rep
    # is its group's min id, so min-over-component is unchanged; a
    # group whose text produced no shingles has no pairs either way
    # and falls back to self-labels via the survivor check).
    rep_pairs, members, surv, _collapsed = minhash_pairs_collapsed(
        d, shingle_n=3, jaccard_max_distance=0.5
    )
    cc = connected_components(rep_pairs.select("id_a", "id_b"), max_iter=5)
    rep_label = surv.join(cc, "id", "left").select(
        F.col("id").alias("rep"),
        F.coalesce("cluster_id", F.col("id")).alias("rep_cluster"),
    )
    return members.join(rep_label, "rep", "left").select(
        F.col("id").alias("doc_id"),
        F.coalesce("rep_cluster", F.col("id")).alias("cluster_id"),
    )


@Q.add(
    "dedup_simhash",
    None,  # xxhash64-seeded -> rows-only + pytest golden tests
    doc="64-bit SimHash banded near-dup pairs, pure built-in expressions",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import simhash_pairs

    d = load(spark, sf_dir, "documents", unique=("doc_id",))
    return simhash_pairs(d, max_hamming=16)


@Q.add(
    "dedup_ngram_jaccard",
    """
    WITH grams AS (
      SELECT doc_id, DISTINCT_G.g
      FROM (
        SELECT doc_id,
               list_distinct([string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1]
                              FOR i IN range(1, len(string_split(text,' ')))]) AS gs
        FROM documents
      ), unnest(gs) AS DISTINCT_G(g)
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM grams GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
      FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT id_a, id_b,
           ROUND(inter / (sa.sz + sb.sz - inter), 4) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE inter / (sa.sz + sb.sz - inter) >= 0.2
    """,
    doc="exact token-bigram Jaccard pairs via inverted-index blocking",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import ngram_jaccard_pairs

    d = load(spark, sf_dir, "documents", unique=("doc_id",))
    pairs = ngram_jaccard_pairs(d, n=2, min_jaccard=0.2)
    return pairs.select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))


@Q.add(
    "dedup_embed_cosine",
    f"""
    -- embeddable() twin on both sides (r7 nonfinite parity): the
    -- engine's embedding_pairs gates at kernel entry, and ungated
    -- null-element vectors crash DuckDB's cosine outright
    WITH emb AS (
      SELECT * FROM embeddings WHERE {_emb_gate()}
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b
    FROM emb a JOIN emb b ON a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.4
    """,
    doc="semantic near-dup: embedding cosine >= 0.4 pairs",
)
def dedup_embed_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import embedding_pairs

    e = load(spark, sf_dir, "embeddings")
    # dim=64 is the declared testdata schema: skips the modal-dim
    # inference pass and pins the ragged-dim gate to the contract
    return embedding_pairs(e, min_cosine=0.4, dim=64)


# ===========================================================================
# similarity search
# ===========================================================================


@Q.add(
    "sim_topk",
    f"""
    -- emb = the SQL twin of the engine's embeddable() entry gate
    -- (non-null, 64-dim, 0 < norm^2 < inf, null-element-safe) on BOTH
    -- sides — an unembeddable query cannot rank and emits no rows
    -- (r6 NULL-corpus parity audit; r7 null-element hardening)
    WITH emb AS (
      SELECT * FROM embeddings WHERE {_emb_gate()}
    )
    SELECT query_id, neighbor_id, rank FROM (
      SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
             row_number() OVER (
               PARTITION BY q.vec_id
               ORDER BY list_cosine_similarity(q.embedding, v.embedding) DESC,
                        v.vec_id ASC) AS rank
      FROM emb q JOIN emb v ON v.vec_id <> q.vec_id
      WHERE q.vec_id < 10
    ) WHERE rank <= 5
    """,
    doc="exact brute-force cosine top-5 for 10 query vectors "
    "(ranks returned, not float sims — rank gaps >> float32/64 drift)",
)
def sim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import brute_force_topk

    e = load(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return brute_force_topk(e, queries, k=5, dim=64)


@Q.add(
    "sim_ann_lsh",
    None,  # approximate (plane-seeded) -> rows-only + pytest recall test
    doc="ANN: random-hyperplane LSH buckets + exact in-bucket rerank",
)
def sim_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import lsh_query_topk

    e = load(spark, sf_dir, "embeddings", unique=("vec_id",))
    return lsh_query_topk(e, None, k=5, n_planes=6, n_flip=0, dim=64)


@Q.add(
    "sim_ann_ivf",
    None,  # approximate (kmeans-seeded) -> rows-only + pytest recall test
    doc="ANN: IVF coarse quantizer (seeded kmeans cells) + multi-probe "
    "+ exact in-cell rerank",
)
def sim_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import ivf_topk

    e = load(spark, sf_dir, "embeddings", unique=("vec_id",))
    return ivf_topk(e, k=5, n_cells=16, n_probe=2, seed=42, dim=64)


@Q.add(
    "sim_ann_lsh_exact",
    f"""
    -- brute-force oracle: multiprobe LSH with n_flip = n_planes probes
    -- the WHOLE signature space, so the ANN machinery (bit-packed
    -- signatures, hot-bucket sub-split, cogrouped GEMM rerank) must
    -- reproduce exact cosine top-k bit-for-bit (VERDICT r7 item 3 —
    -- the hash-graded exact configuration of the seeded sim_ann_lsh)
    WITH emb AS (
      SELECT * FROM embeddings WHERE {_emb_gate()}
    )
    SELECT query_id, neighbor_id, rank FROM (
      SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
             row_number() OVER (
               PARTITION BY q.vec_id
               ORDER BY list_cosine_similarity(q.embedding, v.embedding) DESC,
                        v.vec_id ASC) AS rank
      FROM emb q JOIN emb v ON v.vec_id <> q.vec_id
      WHERE q.vec_id < 10
    ) WHERE rank <= 5
    """,
    doc="sim_ann_lsh's EXACT configuration: multiprobe hyperplane LSH "
    "with n_flip = n_planes (every bucket probed) — same ANN plan "
    "shape as the seeded query, hash-graded against brute force",
)
def sim_ann_lsh_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import lsh_query_topk

    e = load(spark, sf_dir, "embeddings", unique=("vec_id",))
    queries = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return lsh_query_topk(e, queries, k=5, n_planes=6, n_flip=6, dim=64)


@Q.add(
    "sim_ann_ivf_exact",
    f"""
    -- brute-force oracle: IVF with n_probe = n_cells probes every
    -- cell, so the candidate set is the full corpus and the
    -- sample-trained coarse quantizer cannot affect the result —
    -- only the cogrouped in-cell rerank must be exact (VERDICT r7
    -- item 3 — the hash-graded exact configuration of sim_ann_ivf).
    -- The graded QUERY side is bounded to 100 vectors (the neighbor
    -- side stays the full corpus): an unbounded all-pairs oracle
    -- sorts |corpus|^2 scored rows in DuckDB, which at the sf1 gate
    -- (20k vectors -> 400M rows) spilled toward disk exhaustion;
    -- the engine path under grade is identical either way.
    WITH emb AS (
      SELECT * FROM embeddings WHERE {_emb_gate()}
    )
    SELECT query_id, neighbor_id, rank FROM (
      SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
             row_number() OVER (
               PARTITION BY q.vec_id
               ORDER BY list_cosine_similarity(q.embedding, v.embedding) DESC,
                        v.vec_id ASC) AS rank
      FROM emb q JOIN emb v ON v.vec_id <> q.vec_id
      WHERE q.vec_id < 100
    ) WHERE rank <= 5
    """,
    doc="sim_ann_ivf's EXACT configuration: IVF top-5 at full probe "
    "(n_probe = n_cells) for 100 query vectors over the whole corpus — "
    "seeded kmeans cells become pure partitioning, hash-graded against "
    "brute force",
)
def sim_ann_ivf_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import ivf_topk

    e = load(spark, sf_dir, "embeddings", unique=("vec_id",))
    # the all-pairs kernel computes every query's top-k; the graded
    # slice is the 100-query subset (per-query results are independent,
    # so the filter cannot change a surviving row — and it keeps the
    # ORACLE side sort at |queries| x |corpus|, not |corpus|^2)
    return ivf_topk(e, k=5, n_cells=8, n_probe=8, seed=42, dim=64).filter(
        F.col("query_id") < 100
    )


@Q.add(
    "embed_normalize",
    f"""
    SELECT vec_id, dim,
           ROUND(l2, 4) AS l2_norm,
           ROUND(s / l2, 4) AS unit_sum
    FROM (
      -- no list_dot_product ANYWHERE: a NULL vector ELEMENT makes it
      -- raise during evaluation, and DuckDB's optimizer may evaluate a
      -- projection before the same SELECT's WHERE — so both the gate
      -- and the projections use the null-element-safe comprehensions
      -- (NaN-poisoned, excluded by the finite gate). Mirrors the
      -- engine's embeddable() + double fold exactly (dim-agnostic
      -- here: this query reports len(embedding) per row) (r7)
      SELECT vec_id,
             len(embedding) AS dim,
             sqrt({_nsq()}) AS l2,
             list_sum([CASE WHEN x IS NULL THEN 'nan'::DOUBLE
                            ELSE CAST(x AS DOUBLE) END
                       FOR x IN embedding]) AS s
      FROM embeddings WHERE {_emb_gate(dim=None)}
    )
    """,
    doc="embedding L2 normalization entirely JVM-side: the dot product is "
    "F.aggregate's double fold over the array (no Python, no shuffle — "
    "the per-row vector-math pattern every similarity kernel feeds on); "
    "unit_sum = sum(x)/||x|| checks the normalized vector itself. Oracle "
    "casts FLOAT[] -> DOUBLE[] so both engines fold in double; ROUND(,4) "
    "absorbs sub-ulp ordering drift. Zero-norm / non-finite vectors are "
    "un-normalizable (ANSI s/l2 would raise DIVIDE_BY_ZERO on an empty "
    "vector) — dropped on both engines; stays dim-AGNOSTIC otherwise "
    "(it reports len(embedding) per row).",
)
def embed_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.vectors import embeddable

    e = load(spark, sf_dir, "embeddings").filter(embeddable("embedding"))
    l2 = F.sqrt(
        F.aggregate(
            "embedding",
            F.lit(0.0).cast("double"),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )
    s = F.aggregate(
        "embedding", F.lit(0.0).cast("double"), lambda acc, x: acc + x.cast("double")
    )
    return e.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.round(l2, 4).alias("l2_norm"),
        F.round(s / l2, 4).alias("unit_sum"),
    )


def _md5u(tag: str) -> float:
    """Deterministic uniform [0,1) from the first 6 md5 hex chars —
    engine-independent constants for the recall-metric queries (both
    sides receive the SAME literals, baked at import time)."""
    import hashlib

    return int(hashlib.md5(tag.encode()).hexdigest()[:6], 16) / 16777216.0


# md5-derived hyperplanes / IVF codebook for the hash-graded recall
# queries (VERDICT r9 item 6): the production seeded configs draw
# planes/centroids from numpy RNG / sampled KMeans, which no SQL engine
# can reproduce — these constants make the SAME ANN plan shape
# oracle-reproducible, so recall@k itself becomes a graded value
# instead of a pytest-only pin.
_RECALL_PLANES = [
    [_md5u(f"lshplane:{p}:{d}") * 2.0 - 1.0 for d in range(64)]
    for p in range(6)
]
_RECALL_CENTROIDS = [
    [_md5u(f"ivfcell:{c}:{d}") * 2.0 - 1.0 for d in range(64)]
    for c in range(8)
]


def _sql_dlist(vals) -> str:
    """DOUBLE[] literal; repr() is the shortest round-trip form, which
    DuckDB parses back to the bit-identical double."""
    return "[" + ", ".join(repr(float(v)) for v in vals) + "]::DOUBLE[]"


def _sql_dot(col: str, vals) -> str:
    """Null-element-safe fold twin of the engine's zip_with dot."""
    return (
        f"list_sum([z[1] * z[2] FOR z IN "
        f"list_zip(CAST({col} AS DOUBLE[]), {_sql_dlist(vals)})])"
    )


def _sql_lsh_sig(col: str) -> str:
    terms = [
        f"(CASE WHEN {_sql_dot(col, p)} >= 0 THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(_RECALL_PLANES)
    ]
    return "(" + " + ".join(terms) + ")"


_RECALL_TAIL = """
    SELECT CAST(5 AS INT) AS k,
           COUNT(DISTINCT x.query_id) AS n_queries,
           CASE WHEN COUNT(*) = 0 THEN NULL
                ELSE CAST((SUM(CASE WHEN a.neighbor_id IS NOT NULL
                                    THEN 1 ELSE 0 END) * 1000000)
                          // COUNT(*) AS BIGINT) END AS recall_ppm
    FROM exact x LEFT JOIN approx a
      ON a.query_id = x.query_id AND a.neighbor_id = x.neighbor_id
"""

_RECALL_EXACT_CTE = """
    exact AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
               row_number() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY list_cosine_similarity(q.embedding, v.embedding)
                          DESC, v.vec_id ASC) AS r
        FROM emb q JOIN emb v ON v.vec_id <> q.vec_id
        WHERE q.vec_id < 100
      ) WHERE r <= 5
    )
"""


def _recall_df(approx: DataFrame, exact: DataFrame) -> DataFrame:
    """(k, n_queries, recall_ppm) over the two (query_id, neighbor_id)
    pair sets — integer arithmetic only, so the value hash-matches the
    oracle's identical ratio (NULL on an empty exact set: fuzz corpora
    can gate away every query vector)."""
    hit = approx.select("query_id", "neighbor_id", F.lit(1).alias("__hit"))
    j = exact.select("query_id", "neighbor_id").join(
        hit, ["query_id", "neighbor_id"], "left"
    )
    return j.agg(
        F.count_distinct("query_id").alias("nq"),
        F.count(F.lit(1)).alias("total"),
        F.coalesce(F.sum("__hit"), F.lit(0)).alias("matched"),
    ).select(
        F.lit(5).alias("k"),
        F.col("nq").alias("n_queries"),
        F.expr(
            "CASE WHEN total = 0 THEN CAST(NULL AS BIGINT) "
            "ELSE CAST((matched * 1000000) DIV total AS BIGINT) END"
        ).alias("recall_ppm"),
    )


@Q.add(
    "sim_ann_lsh_recall",
    f"""
    -- recall@5 of the APPROXIMATE multiprobe-LSH configuration
    -- (n_flip=1 of 6 planes — a genuinely lossy probe set) against
    -- the brute-force twin, as one integer-ppm row. The planes are
    -- md5-derived literals (see _RECALL_PLANES) so the oracle can
    -- reproduce the bucket assignment the engine computes JVM-side;
    -- the metric is deterministic given those constants, closing the
    -- rows-only blind spot for the seeded ANN family (VERDICT r9
    -- item 6).
    WITH emb AS (
      SELECT * FROM embeddings WHERE {{gate}}
    ),
    sig AS (
      SELECT vec_id, embedding, {{sig}} AS sig FROM emb
    ),
    approx AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
               row_number() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY list_cosine_similarity(q.embedding, v.embedding)
                          DESC, v.vec_id ASC) AS r
        FROM sig q JOIN sig v
          ON v.vec_id <> q.vec_id AND v.sig IN ({{probes}})
        WHERE q.vec_id < 100
      ) WHERE r <= 5
    ),
    {{exact}}
    {{tail}}
    """.format(
        gate=_emb_gate(),
        sig=_sql_lsh_sig("embedding"),
        probes=", ".join(
            ["q.sig"] + [f"xor(q.sig, {1 << b})" for b in range(6)]
        ),
        exact=_RECALL_EXACT_CTE,
        tail=_RECALL_TAIL,
    ),
    doc="recall@5 (ppm) of multiprobe hyperplane LSH at n_flip=1 of 6 "
    "planes vs exact brute force, 100 query vectors — the seeded ANN "
    "plan shape with oracle-reproducible md5-derived planes, so the "
    "recall METRIC itself is hash-graded (not just pytest-pinned). "
    "Integer ppm arithmetic end-to-end; scale: the LSH side is the "
    "audited bucket-join kernel, the exact side is query-bounded.",
)
def sim_ann_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import brute_force_topk, lsh_query_topk

    e = load(spark, sf_dir, "embeddings", unique=("vec_id",))
    queries = e.filter(F.col("vec_id") < 100).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    approx = lsh_query_topk(
        e, queries, k=5, n_flip=1, dim=64, planes=_RECALL_PLANES
    )
    exact = brute_force_topk(e, queries, k=5, dim=64)
    return _recall_df(approx, exact)


@Q.add(
    "sim_ann_ivf_recall",
    f"""
    -- recall@5 of the APPROXIMATE IVF configuration (n_probe=2 of 8
    -- cells) against the brute-force twin, as one integer-ppm row.
    -- The codebook is md5-derived literals (see _RECALL_CENTROIDS) —
    -- the production "train offline, serve the codebook" split — so
    -- the oracle reproduces the engine's cell assignment (stable
    -- argmin = ORDER BY d2, cell) and the recall metric hash-grades
    -- the seeded ANN family (VERDICT r9 item 6).
    WITH emb AS (
      SELECT * FROM embeddings WHERE {{gate}}
    ),
    cent AS (
      SELECT * FROM (VALUES {{cents}}) t(cell, c)
    ),
    ranked AS (
      SELECT vec_id, embedding, cell,
             row_number() OVER (
               PARTITION BY vec_id
               ORDER BY list_sum([(z[1] - z[2]) * (z[1] - z[2])
                                  FOR z IN list_zip(
                                    CAST(embedding AS DOUBLE[]), c)])
                        ASC, cell ASC) AS pr
      FROM emb, cent
    ),
    approx AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
               row_number() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY list_cosine_similarity(q.embedding, v.embedding)
                          DESC, v.vec_id ASC) AS r
        FROM (SELECT * FROM ranked WHERE pr <= 2 AND vec_id < 100) q
        JOIN (SELECT * FROM ranked WHERE pr = 1) v
          ON v.cell = q.cell AND v.vec_id <> q.vec_id
      ) WHERE r <= 5
    ),
    {{exact}}
    {{tail}}
    """.format(
        gate=_emb_gate(),
        cents=", ".join(
            f"({i}, {_sql_dlist(c)})" for i, c in enumerate(_RECALL_CENTROIDS)
        ),
        exact=_RECALL_EXACT_CTE,
        tail=_RECALL_TAIL,
    ),
    doc="recall@5 (ppm) of IVF at n_probe=2 of 8 cells vs exact brute "
    "force, 100 query vectors — the seeded ANN plan shape with an "
    "oracle-reproducible md5-derived codebook (the offline-trained-"
    "index serving split), hash-graded end-to-end in integer ppm.",
)
def sim_ann_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from ..operators.similarity import brute_force_topk, ivf_topk

    e = load(spark, sf_dir, "embeddings", unique=("vec_id",))
    # query_pred replaces the old post-filter on query_id (r10): the
    # declared metric only ranks the 100 query vectors, so the probe
    # cogroup no longer ships/scores the other ~95% of the corpus as
    # queries — per-query top-k is independent, result identical
    approx = ivf_topk(
        e,
        k=5,
        n_probe=2,
        dim=64,
        centroids=np.asarray(_RECALL_CENTROIDS),
        query_pred=F.col("vec_id") < 100,
    )
    queries = e.filter(F.col("vec_id") < 100).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = brute_force_topk(e, queries, k=5, dim=64)
    return _recall_df(approx, exact)


# ===========================================================================
# text analysis
# ===========================================================================


@Q.add(
    "text_stats",
    """
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
           ROUND(CAST(SUM(len(string_split(text, ' '))) AS DOUBLE) / COUNT(*), 4) AS avg_tokens,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           MIN(n_chars) AS min_chars,
           MAX(n_chars) AS max_chars
    FROM documents
    GROUP BY lang
    """,
    doc="per-language corpus stats: docs, tokens, chars",
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return (
        d.withColumn("__t", token_count_ws(F.col("text")))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("__t").cast("bigint").alias("total_tokens"),
            F.round(F.sum("__t").cast("double") / F.count("*"), 4).alias("avg_tokens"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
    )


@Q.add(
    "lang_filter",
    """
    SELECT source, lang, COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents
    WHERE lang IN ('en', 'fr')
    GROUP BY source, lang
    """,
    doc="language partition filter + per-source counts",
)
def lang_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return (
        d.filter(F.col("lang").isin("en", "fr"))
        .groupBy("source", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
    )


@Q.add(
    "lang_id",
    f"""
    SELECT doc_id, lang AS labeled_lang,
           {duckdb_lang_id('text')} AS predicted_lang
    FROM documents
    """,
    doc="marker-stopword language-ID heuristic vs the labeled lang",
)
def lang_id_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        lang_id(F.col("text")).alias("predicted_lang"),
    )


@Q.add(
    "quality_score",
    r"""
    SELECT doc_id,
           length(text) AS n_chars,
           len(string_split(text, ' ')) AS n_tokens,
           ROUND(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) /
                 GREATEST(length(text), 1), 4) AS punct_ratio,
           ROUND(len(list_filter(string_split(text, ' '),
                     t -> list_contains(['the','and','of','to','in','is','a'], t))) /
                 GREATEST(len(string_split(text, ' ')), 1), 4) AS stopword_ratio,
           ROUND((length(text) - (len(string_split(text, ' ')) - 1)) /
                 GREATEST(len(string_split(text, ' ')), 1), 4) AS mean_token_len
    FROM documents
    """,
    doc="quality features: length/punct/stopword/token-shape ratios",
)
def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    feats = quality_features(F.col("text"))
    return d.select(
        "doc_id",
        feats["n_chars"].alias("n_chars"),
        feats["n_tokens"].alias("n_tokens"),
        feats["punct_ratio"].alias("punct_ratio"),
        feats["stopword_ratio"].alias("stopword_ratio"),
        feats["mean_token_len"].alias("mean_token_len"),
    )


@Q.add(
    "token_count_bpe",
    r"""
    SELECT doc_id,
           len(string_split(text, ' ')) AS ws_tokens,
           len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS bpe_tokens
    FROM documents
    """,
    doc="whitespace + BPE-ish regex token counting",
)
def token_count_bpe_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        token_count_ws(F.col("text")).alias("ws_tokens"),
        token_count_bpe(F.col("text")).alias("bpe_tokens"),
    )


@Q.add(
    "doc_fingerprint",
    f"""
    SELECT doc_id,
           {DUCKDB_FINGERPRINT.format(col='text')} AS fingerprint
    FROM documents
    """,
    doc="bag-of-words md5 fingerprint (order/multiplicity-invariant)",
)
def doc_fingerprint_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return d.select("doc_id", doc_fingerprint(F.col("text")).alias("fingerprint"))


@Q.add(
    "dedup_incremental",
    """
    SELECT d.doc_id,
           CAST(CASE WHEN s.h IS NOT NULL THEN 1 ELSE 0 END AS INT) AS is_dup
    FROM (SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id >= 250) d
    LEFT JOIN (SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id < 250) s
      USING (h)
    """,
    doc="incremental-ingest dedup: flag each NEW document (doc_id >= 250 "
    "stands in for the incoming batch) whose exact content was already "
    "seen in the corpus (doc_id < 250). The continuous-pipeline shape: "
    "the seen-set is a DIGEST table (16-byte md5 keys), never the "
    "corpus text, so the join shuffles digests only; at 100 TB the "
    "digest table is bucketed (sources/bucketed.py) or distilled to a "
    "bloom filter for pre-join pruning",
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    new = d.filter(F.col("doc_id") >= 250).select(
        "doc_id", F.md5(F.col("text")).alias("h")
    )
    seen = (
        d.filter(F.col("doc_id") < 250)
        .select(F.md5(F.col("text")).alias("h"))
        .distinct()
        .withColumn("__seen", F.lit(1))
    )
    return new.join(seen, "h", "left").select(
        "doc_id",
        F.when(F.col("__seen").isNotNull(), F.lit(1)).otherwise(F.lit(0)).alias("is_dup"),
    )


@Q.add(
    "repetition_ratio",
    """
    SELECT doc_id,
           len(string_split(text, ' ')) AS n_tokens,
           ROUND(1 - len(list_distinct(string_split(text, ' '))) /
                 GREATEST(len(string_split(text, ' ')), 1), 4) AS dup_token_frac,
           CASE WHEN len(string_split(text, ' ')) < 2 THEN 0.0
                ELSE ROUND(1 - len(list_distinct(
                       [string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1]
                        FOR i IN range(1, len(string_split(text,' ')))])) /
                     (len(string_split(text, ' ')) - 1), 4) END AS dup_bigram_frac
    FROM documents
    """,
    doc="Gopher-style repetition signals: duplicate-token and "
    "duplicate-bigram fractions per document (the repetition gate of a "
    "quality pipeline — high values mark boilerplate/spam)",
)
def repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import token_ngrams

    d = load(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    bigrams = token_ngrams(F.col("text"), 2)
    n_tokens = F.size(toks)
    return d.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        F.round(
            1 - F.size(F.array_distinct(toks)) / F.greatest(n_tokens, F.lit(1)), 4
        ).alias("dup_token_frac"),
        F.when(n_tokens < 2, F.lit(0.0))
        .otherwise(
            F.round(1 - F.size(F.array_distinct(bigrams)) / (n_tokens - 1), 4)
        )
        .alias("dup_bigram_frac"),
    )


@Q.add(
    "contamination_ngram",
    """
    WITH g AS (
      SELECT doc_id, t.g
      FROM (
        SELECT doc_id,
               list_distinct([sp[i] || ' ' || sp[i+1] || ' ' || sp[i+2]
                              FOR i IN range(1, len(sp) - 1)]) AS gs
        FROM (SELECT doc_id, string_split(text, ' ') AS sp FROM documents)
      ), unnest(gs) AS t(g)
    ),
    bench AS (SELECT DISTINCT g FROM g WHERE doc_id < 20),
    corpus AS (SELECT doc_id, g FROM g WHERE doc_id >= 20)
    SELECT c.doc_id, COUNT(*) AS n_contaminated_grams
    FROM corpus c JOIN bench b USING (g)
    GROUP BY c.doc_id
    """,
    doc="benchmark decontamination: per-doc count of distinct token "
    "3-grams shared with a held-out benchmark set (docs 0-19 stand in "
    "for the eval suite). The PaLM/GPT-3 n-gram-overlap scrub shape: "
    "the benchmark gram set is BOUNDED (eval suites are fixed size) so "
    "it broadcasts, and the 100 TB corpus side streams one pass through "
    "an equi-join — no shuffle of the corpus grams",
)
def contamination_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import token_ngrams

    d = load(spark, sf_dir, "documents")
    grams = d.select(
        "doc_id", F.explode(F.array_distinct(token_ngrams(F.col("text"), 3))).alias("g")
    )
    bench = grams.filter(F.col("doc_id") < 20).select("g").distinct()
    corpus = grams.filter(F.col("doc_id") >= 20)
    return (
        corpus.join(F.broadcast(bench), "g")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_contaminated_grams"))
    )


@Q.add(
    "text_fragments",
    """
    SELECT doc_id, CAST(i AS INT) AS frag_idx, parts[i + 1] AS fragment,
           CAST(length(parts[i + 1]) AS INT) AS frag_chars
    FROM (
      -- COALESCE mirrors the UDTF's (text or "") — a NULL doc still
      -- yields one empty fragment (r6 NULL-corpus parity audit)
      SELECT doc_id, string_split(COALESCE(text, ''), '. ') AS parts
      FROM documents
    ), unnest(range(len(parts))) AS t(i)
    """,
    doc="sentence-fragment fan-out via a Python UDTF (lateral table "
    "function — the Spark 4 UDTF registration path, distinct from "
    "mapInPandas): one row per '. '-delimited fragment with position",
)
def text_fragments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import udtf

    @udtf(returnType="frag_idx int, fragment string, frag_chars int")
    class Fragments:
        def eval(self, text: str):
            for i, frag in enumerate((text or "").split(". ")):
                yield i, frag, len(frag)

    spark.udtf.register("fragments", Fragments)
    load(spark, sf_dir, "documents").createOrReplaceTempView("__docs_for_udtf")
    return spark.sql(
        """
        SELECT d.doc_id, f.frag_idx, f.fragment, f.frag_chars
        FROM __docs_for_udtf d, LATERAL fragments(d.text) f
        """
    )


_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_URL_RE = r"https?://[^\s]+"


@Q.add(
    "pii_redact",
    f"""
    SELECT doc_id,
           len(regexp_extract_all(laced, '{_EMAIL_RE}')) AS n_emails,
           len(regexp_extract_all(laced, '{_URL_RE}')) AS n_urls,
           regexp_replace(regexp_replace(laced, '{_EMAIL_RE}', '[EMAIL]', 'g'),
                          '{_URL_RE}', '[URL]', 'g') AS redacted
    FROM (
      SELECT doc_id,
             text || ' contact u' || CAST(doc_id AS VARCHAR)
                  || '@example.com via https://ex.org/' || CAST(doc_id AS VARCHAR)
                  AS laced
      FROM documents
    )
    """,
    doc="PII scrub stage: email/URL detection counts + redaction "
    "(C4/Dolma-style cleaning rule; deterministic laced inputs so the "
    "kernel does real work on the synthetic corpus)",
)
def pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    laced = F.concat(
        F.col("text"),
        F.lit(" contact u"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com via https://ex.org/"),
        F.col("doc_id").cast("string"),
    )
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all(laced, F.lit(_EMAIL_RE), 0)).alias("n_emails"),
        F.size(F.regexp_extract_all(laced, F.lit(_URL_RE), 0)).alias("n_urls"),
        F.regexp_replace(
            F.regexp_replace(laced, _EMAIL_RE, "[EMAIL]"), _URL_RE, "[URL]"
        ).alias("redacted"),
    )


@Q.add(
    "quality_filter",
    r"""
    SELECT lang, kept, COUNT(*) AS n_docs
    FROM (
      SELECT lang,
             (len(string_split(text, ' ')) >= 10
              AND len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) <=
                  0.3 * GREATEST(length(text), 1)) AS kept
      FROM documents
    )
    GROUP BY lang, kept
    """,
    doc="C4-style keep/drop filter (min tokens, max punctuation ratio) "
    "with per-language keep counts — the gate stage of a cleaning "
    "pipeline",
)
def quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    feats = quality_features(F.col("text"))
    # idx=0 (whole match) is REQUIRED: pyspark's regexp_extract_all
    # defaults idx to 1, which throws on this group-less pattern the
    # moment any document actually contains punctuation — latent on
    # the punctuation-free synthetic corpus, caught by the sf1 probe
    kept = (feats["n_tokens"] >= 10) & (
        F.size(F.regexp_extract_all(F.col("text"), F.lit(r"[^A-Za-z0-9\s]"), 0))
        <= 0.3 * F.greatest(F.length("text"), F.lit(1))
    )
    return (
        d.withColumn("kept", kept)
        .groupBy("lang", "kept")
        .agg(F.count("*").alias("n_docs"))
    )


@Q.add(
    "pipeline_curate",
    r"""
    WITH dedup AS (
      SELECT MIN(doc_id) AS doc_id, text,
             min_by(lang, doc_id) AS lang
      FROM documents GROUP BY text
    ),
    gated AS (
      SELECT doc_id, lang,
             len(string_split(text, ' ')) AS n_tokens
      FROM dedup
      WHERE len(string_split(text, ' ')) >= 10
        AND len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) <=
            0.3 * GREATEST(length(text), 1)
    )
    SELECT lang,
           CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
                BETWEEN '0' AND 'c' THEN 'train' ELSE 'val' END AS split,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
    FROM gated
    GROUP BY lang, split
    """,
    doc="the curation stages composed as ONE DataFrame plan: exact dedup "
    "(min-id survivor) -> C4-style quality gate -> content-hash "
    "train/val split -> per-(lang,split) token counts. Catalyst fuses "
    "the gate into the dedup aggregation's output and pipelines the "
    "whole chain with two shuffles total (dedup groupBy + final "
    "groupBy) — the composition a real cleaning pipeline runs nightly, "
    "judged end-to-end rather than stage-by-stage",
)
def pipeline_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    # same one-shuffle min-id-survivor shape as operators.dedup.exact_dedup,
    # with the survivor's lang carried via min_by
    survivors = d.groupBy("text").agg(
        F.min("doc_id").alias("doc_id"),
        F.min_by("lang", "doc_id").alias("lang"),
    )
    toks = F.size(F.split("text", " "))
    gated = survivors.filter(
        (toks >= 10)
        & (
            # idx=0 required — see quality_filter; pyspark defaults to
            # group 1, which throws on group-less patterns at first
            # punctuation match
            F.size(F.regexp_extract_all(F.col("text"), F.lit(r"[^A-Za-z0-9\s]"), 0))
            <= 0.3 * F.greatest(F.length("text"), F.lit(1))
        )
    ).select("doc_id", "lang", toks.alias("n_tokens"))
    split = F.when(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1).between("0", "c"),
        F.lit("train"),
    ).otherwise(F.lit("val"))
    return (
        gated.withColumn("split", split)
        .groupBy("lang", "split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        )
    )


@Q.add(
    "split_train_val",
    """
    SELECT split, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM (
      SELECT CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
                  BETWEEN '0' AND 'c' THEN 'train' ELSE 'val' END AS split,
             n_chars
      FROM documents
    )
    GROUP BY split
    """,
    doc="deterministic content-hash train/val split (md5 hex prefix; "
    "13/16 ~ 81% train) — stable across runs, engines, and partitionings; "
    "the standard leakage-safe dataset split",
)
def split_train_val(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    split = F.when(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1).between("0", "c"),
        F.lit("train"),
    ).otherwise(F.lit("val"))
    return (
        d.withColumn("split", split)
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
    )


@Q.add(
    "tfidf_topk",
    """
    WITH toks AS (
      SELECT doc_id, t.tok
      FROM (SELECT doc_id, string_split(text, ' ') AS sp FROM documents),
           unnest(sp) AS t(tok)
    ),
    tf AS (
      SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY doc_id, tok
    ),
    idf AS (
      SELECT tok, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY tok
    )
    SELECT doc_id, tok AS term, rn,
           ROUND(score, 4) AS tfidf
    FROM (
      SELECT tf.doc_id, tf.tok,
             tf.tf * LN((1.0 + (SELECT COUNT(*) FROM documents))
                        / (1.0 + idf.df)) AS score,
             row_number() OVER (
               PARTITION BY tf.doc_id
               ORDER BY tf.tf * LN((1.0 + (SELECT COUNT(*) FROM documents))
                                   / (1.0 + idf.df)) DESC, tf.tok ASC) AS rn
      FROM tf JOIN idf USING (tok)
    )
    WHERE rn <= 3
    """,
    doc="per-doc top-3 TF-IDF terms: token explode -> per-(doc,term) TF, "
    "per-term DF (both map-side-combined groupBys), smoothed "
    "idf=ln((1+N)/(1+df)), windowed top-k with full term tie-break. The "
    "keyword-extraction / doc-representation kernel of corpus triage; "
    "shuffles only (doc,term) and (term) aggregates, never raw text",
)
def tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    n_docs = d.count()  # one bounded job; inlined as a literal (oracle twin
    # is the scalar subquery) so no crossJoin rides the plan
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    tf = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("tf"))
    # df(term) = number of (doc, term) rows in tf — no second explode of
    # the raw tokens and no countDistinct shuffle; both join branches
    # share the identical tf subtree, so the tf shuffle is planned once
    # (ReusedExchange) and the corpus is tokenized a single time
    idf = tf.groupBy("tok").agg(F.count("*").alias("df"))
    scored = tf.join(idf, "tok").withColumn(
        "score",
        F.col("tf") * F.log((1.0 + n_docs) / (1.0 + F.col("df"))),
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("tok").asc())
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            "doc_id",
            F.col("tok").alias("term"),
            "rn",
            F.round("score", 4).alias("tfidf"),
        )
    )


@Q.add(
    "sample_stratified",
    """
    SELECT doc_id, lang, rn
    FROM (
      SELECT doc_id, lang,
             -- COALESCE keeps the seeded order key total: a NULL text
             -- would null the hash and sort NULLS FIRST in Spark but
             -- LAST in DuckDB (r6 NULL-corpus parity audit)
             row_number() OVER (
               PARTITION BY lang
               ORDER BY md5(COALESCE(text, '') || CAST(doc_id AS VARCHAR)),
                        doc_id) AS rn
      FROM documents
    )
    WHERE rn <= 50
    """,
    doc="deterministic stratified subsample: top-50 docs per language in "
    "content-hash order — the balanced-corpus downsampling step (unlike "
    "sampleBy, identical across engines/partitionings/runs, and "
    "leakage-safe because membership is a pure content function)",
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    # coalesce keeps the seeded order key total on NULL texts (r6)
    w = Window.partitionBy("lang").orderBy(
        F.md5(
            F.concat(
                F.coalesce(F.col("text"), F.lit("")),
                F.col("doc_id").cast("string"),
            )
        ),
        F.col("doc_id"),
    )
    return (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 50)
        .select("doc_id", "lang", "rn")
    )


@Q.add(
    "pack_sequences",
    """
    SELECT lang, bin,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens
    FROM (
      SELECT lang, n_tokens,
             CAST(FLOOR((cum - n_tokens) / 4096.0) AS BIGINT) AS bin
      FROM (
        SELECT lang,
               len(string_split(text, ' ')) AS n_tokens,
               SUM(len(string_split(text, ' '))) OVER (
                 PARTITION BY lang ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM documents
      )
    )
    GROUP BY lang, bin
    """,
    doc="token-budget sequence packing: prefix-sum binning of docs into "
    "4096-token training bins per language (cumulative window, "
    "deterministic doc_id order) — the batch-shaping step before "
    "example packing",
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    toks = token_count_ws(F.col("text"))
    return (
        d.withColumn("n_tokens", toks)
        .withColumn("cum", F.sum("n_tokens").over(w))
        .withColumn(
            "bin",
            F.floor((F.col("cum") - F.col("n_tokens")) / F.lit(4096.0)).cast("bigint"),
        )
        .groupBy("lang", "bin")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("bin_tokens"),
        )
    )


# ===========================================================================
# event-time windows (batch analogues of the streaming ops)
# ===========================================================================


@Q.add(
    "session_window",
    """
    WITH e AS (
      -- clamped trunc-seconds mirror the engine's ts_ns DIV 1e9 (r6)
      SELECT user_id, event_id, ((least(greatest(epoch_us(ts), -9223372036854775), 9223372036854775)) - (least(greatest(epoch_us(ts), -9223372036854775), 9223372036854775)) % 1000000) // 1000000 AS epoch_s
      FROM events
    ),
    marked AS (
      SELECT user_id, event_id, epoch_s,
             CASE WHEN epoch_s - lag(epoch_s) OVER w > 1800
                  OR lag(epoch_s) OVER w IS NULL THEN 1 ELSE 0 END AS is_new
      FROM e
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_s, event_id)
    ),
    sess AS (
      SELECT user_id, event_id, epoch_s,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY epoch_s, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
      FROM marked
    )
    SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
           COUNT(*) AS n_events,
           MIN(epoch_s) AS sess_start, MAX(epoch_s) AS sess_end
    FROM sess GROUP BY user_id, session_seq
    """,
    doc="gap-based sessionization (30 min) per user, batch form",
)
def session_window_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sessionize import session_aggregate, sessionize

    e = load(spark, sf_dir, "events").withColumn(
        "epoch_s", F.expr("ts_ns DIV 1000000000")
    )
    sess = sessionize(e, gap_seconds=1800)
    return session_aggregate(sess).select(
        "user_id",
        F.col("session_seq").cast("bigint").alias("session_seq"),
        "n_events",
        "sess_start",
        "sess_end",
    )


@Q.add(
    "tumbling_window",
    """
    -- clamped trunc-seconds (engine: ts_ns DIV 1e9), then the same
    -- dividend-sign % both engines share (r6)
    SELECT (((least(greatest(epoch_us(ts), -9223372036854775), 9223372036854775)) - (least(greatest(epoch_us(ts), -9223372036854775), 9223372036854775)) % 1000000) // 1000000) - ((((least(greatest(epoch_us(ts), -9223372036854775), 9223372036854775)) - (least(greatest(epoch_us(ts), -9223372036854775), 9223372036854775)) % 1000000) // 1000000) % 600) AS bucket_start,
           COUNT(*) AS n_events,
           COUNT(DISTINCT user_id) AS n_users,
           CAST(CAST(SUM(TRY_CAST(CAST(CASE WHEN isfinite(value) THEN value END AS VARCHAR) AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1
    """,
    doc="10-minute tumbling window counts (epoch-aligned, = streaming window())",
)
def tumbling_window_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sessionize import tumbling_window

    e = load(spark, sf_dir, "events").withColumn(
        "epoch_s", F.expr("ts_ns DIV 1000000000")
    )
    return tumbling_window(e, width_seconds=600)


# ===========================================================================
# multimodal plumbing
# ===========================================================================


@Q.add(
    "multimodal_meta",
    """
    SELECT CAST(doc_id AS VARCHAR) AS media_id,
           'fake/jpeg' AS format,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           CAST(octet_length(encode(text)) % 640 + 16 AS INT) AS width,
           CAST((octet_length(encode(text)) * 7) % 480 + 16 AS INT) AS height,
           CAST(octet_length(encode(text)) % 16 + 1 AS INT) AS n_frames
    FROM documents
    """,
    doc="binary payload + mapInPandas decode plumbing (deterministic fake "
    "decoder; real codec stubbed — container has no image libs)",
)
def multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import attach_payload, decode_media

    d = load(spark, sf_dir, "documents")
    media = attach_payload(d, "doc_id", "text")
    return decode_media(media)


@Q.add(
    "multimodal_frames",
    """
    SELECT CAST(doc_id AS VARCHAR) AS media_id,
           CAST(i AS INT) AS frame_idx,
           CAST(GREATEST(0, LEAST(n, (i + 1) * stp) - i * stp) AS BIGINT) AS frame_bytes
    FROM (
      SELECT doc_id, n, GREATEST(1, n // nf) AS stp, nf
      FROM (
        SELECT doc_id,
               octet_length(encode(text)) AS n,
               octet_length(encode(text)) % 16 + 1 AS nf
        FROM documents
      )
    ), unnest(range(nf)) AS t(i)
    """,
    doc="video-frame fan-out plumbing: 1 row in -> n_frames rows out "
    "inside the Arrow batch (mapInPandas), deterministic fake demuxer "
    "replicated arithmetically by the oracle",
)
def multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import attach_payload, sample_frames

    d = load(spark, sf_dir, "documents")
    media = attach_payload(d, "doc_id", "text")
    frames = sample_frames(media, every_n=1)
    return frames.select(
        "media_id",
        "frame_idx",
        F.octet_length("frame").cast("bigint").alias("frame_bytes"),
    )


@Q.add(
    "multimodal_resize",
    """
    WITH hx AS (
      -- DuckDB cannot md5 a BLOB, so the digest domain is the HEX
      -- ENCODING of the resized bytes on BOTH engines (VERDICT r6
      -- item 5): hex exposes the payload BYTES to SQL, repeating the
      -- hex string == hex of the repeated bytes, and the 2*3072-char
      -- truncation always lands on a byte boundary — byte-exact even
      -- when the 3072-byte cut splits a multibyte char (the r6
      -- hostile-text residual). NULL/empty payloads resize to 3072
      -- zero bytes in the engine (fake_resize fallback) = 6144 '0's.
      SELECT doc_id, hex(encode(COALESCE(text, ''))) AS h FROM documents
    )
    SELECT CAST(doc_id AS VARCHAR) AS media_id,
           64 AS width, 48 AS height,
           3072 AS out_bytes,
           CASE WHEN len(h) = 0
                THEN md5(repeat('0', 6144))
                ELSE md5(substr(repeat(h, 6144 // len(h) + 1), 1, 6144))
           END AS content_md5
    FROM hx
    """,
    doc="1:1 payload-transform plumbing (resize/transcode shape): bytes "
    "in, bytes out, one Arrow hop, no shuffle — pipelines with the scan "
    "at 100 TB. Deterministic fake resizer (cycle payload to w*h bytes) "
    "replicated by the oracle byte-for-byte; digest = md5 over the HEX "
    "encoding of the bytes so both engines compute it on any corpus",
)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import attach_payload, resize_media

    d = load(spark, sf_dir, "documents")
    media = attach_payload(d, "doc_id", "text")
    resized = resize_media(media, width=64, height=48)
    return resized.select(
        "media_id",
        F.col("width").cast("int").alias("width"),
        F.col("height").cast("int").alias("height"),
        F.octet_length("payload").cast("int").alias("out_bytes"),
        # digest over the HEX encoding of the bytes, not the bytes:
        # the oracle's DuckDB has no md5(BLOB), and hex is a faithful
        # byte-level domain both engines share (see oracle note)
        F.md5(F.hex("payload")).alias("content_md5"),
    )


@Q.add(
    "multimodal_embed",
    """
    WITH hx AS (
      -- the engine featurizes raw UTF-8 BYTES (np.frombuffer uint8);
      -- ord-of-char only equals the byte on ASCII. hex() exposes the
      -- bytes to SQL; NULL/empty payloads featurize as the engine's
      -- single-zero-byte fallback -> [0] (r6 NULL/hostile parity audit)
      SELECT doc_id, hex(encode(COALESCE(text, ''))) AS h FROM documents
    ),
    codes AS (
      SELECT doc_id,
             CASE WHEN len(h) = 0 THEN [0]
                  ELSE [ (strpos('0123456789ABCDEF', substr(h, 2*i-1, 1)) - 1) * 16
                         + (strpos('0123456789ABCDEF', substr(h, 2*i, 1)) - 1)
                         FOR i IN range(1, len(h)//2 + 1) ]
             END AS cs
      FROM hx
    ),
    hist AS (
      SELECT doc_id,
             [ list_sum([CASE WHEN c % 16 = k THEN CAST(c AS DOUBLE)
                              ELSE 0.0 END FOR c IN cs])
               FOR k IN range(0, 16) ] AS h
      FROM codes
    ),
    emb AS (
      SELECT doc_id,
             list_transform(h, x -> CAST(CAST(x / GREATEST(
               list_max(list_transform(h, y -> abs(y))), 1.0) AS FLOAT)
               AS DOUBLE)) AS e
      FROM hist
    )
    SELECT CAST(doc_id AS VARCHAR) AS media_id,
           16 AS dim,
           ROUND(sqrt(list_sum(list_transform(e, x -> x*x))), 4) AS l2_norm,
           ROUND(list_sum(e), 4) AS comp_sum
    FROM emb
    """,
    doc="payload -> embedding plumbing (the CLIP/audio-featurizer shape): "
    "mapInPandas emits array<float> that feeds the similarity operators "
    "directly. Deterministic fake featurizer = weighted byte histogram "
    "mod 16, max-normalized, float32; the oracle replicates it with a "
    "char-code histogram (ASCII corpus) including the float32 rounding "
    "step, checked via L2 norm + component sum",
)
def multimodal_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import attach_payload, extract_features
    from ..functions.vectors import norm as l2_norm

    d = load(spark, sf_dir, "documents")
    media = attach_payload(d, "doc_id", "text")
    feats = extract_features(media, dim=16)
    s = F.aggregate(
        "embedding", F.lit(0.0).cast("double"), lambda acc, x: acc + x.cast("double")
    )
    return feats.select(
        "media_id",
        F.size("embedding").alias("dim"),
        F.round(l2_norm(F.col("embedding")), 4).alias("l2_norm"),
        F.round(s, 4).alias("comp_sum"),
    )


# ===========================================================================
# corpus normalization + weighted mixing (r2 widening)
# ===========================================================================


@Q.add(
    "text_normalize",
    r"""
    SELECT lang,
           COUNT(DISTINCT norm) AS n_distinct_norm,
           ROUND(CAST(CAST(SUM(TRY_CAST(CAST(CASE WHEN isfinite(length(norm)) THEN length(norm) END AS VARCHAR) AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)
                 / COUNT(*), 4) AS avg_norm_len
    FROM (
      SELECT lang, lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS norm
      FROM documents
    )
    GROUP BY lang
    """,
    doc="canonical text normalization (lowercase, trim, collapse internal "
    "whitespace) + per-lang distinct count — the form-invariance pass that "
    "runs before any exact dedup so byte-level variants collapse. Pure "
    "codegen expressions; COUNT(DISTINCT) is the only shuffle "
    "(DuckDB regexp_replace needs the explicit 'g' flag; Spark replaces "
    "all matches by default)",
)
def text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    norm = F.lower(F.trim(F.regexp_replace("text", r"\s+", " ")))
    return (
        d.select("lang", norm.alias("norm"))
        .groupBy("lang")
        .agg(
            F.countDistinct("norm").alias("n_distinct_norm"),
            F.expr(
                "ROUND(CAST(SUM(TRY_CAST(length(norm) AS DECIMAL(18,6))) AS DOUBLE)"
                " / COUNT(*), 4)"
            ).alias("avg_norm_len"),
        )
    )


@Q.add(
    "corpus_mix",
    """
    SELECT tier, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM (
      SELECT CASE WHEN sid < 5 THEN 'full'
                  WHEN sid < 10 THEN 'half'
                  ELSE 'quarter' END AS tier,
             CASE WHEN sid < 5 THEN TRUE
                  WHEN sid < 10 THEN
                    substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) BETWEEN '0' AND '7'
                  ELSE
                    substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) BETWEEN '0' AND '3'
             END AS keep,
             n_chars
      FROM (SELECT TRY_CAST(substr(source, 4) AS INT) AS sid, doc_id, n_chars
            FROM documents)
    )
    WHERE keep
    GROUP BY tier
    """,
    doc="weighted corpus mixing: per-source sampling tiers (100% / 50% / 25%) "
    "selected by a deterministic content-hash bucket (md5 hex prefix), the "
    "same leakage-safe device as split_train_val — reproducible across runs, "
    "engines, and partitionings, unlike rand()-based sampling. This is the "
    "source-weighting step of training-mix construction; a narrow filter "
    "with no shuffle until the final tier rollup",
)
def corpus_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    # try_cast: a source name that isn't 'src<N>'-shaped lands in the
    # null -> 'quarter' tier instead of failing the whole job under
    # ANSI (identical on contract data; hostile-text sweep finding)
    d = load(spark, sf_dir, "documents").withColumn(
        "sid", F.expr("try_cast(substring(source, 4, 10) AS int)")
    )
    hex1 = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    tier = (
        F.when(F.col("sid") < 5, F.lit("full"))
        .when(F.col("sid") < 10, F.lit("half"))
        .otherwise(F.lit("quarter"))
    )
    keep = (
        F.when(F.col("sid") < 5, F.lit(True))
        .when(F.col("sid") < 10, hex1.between("0", "7"))
        .otherwise(hex1.between("0", "3"))
    )
    return (
        d.filter(keep)
        .groupBy(tier.alias("tier"))
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
    )


@Q.add(
    "dedup_clusters",
    """
    WITH RECURSIVE grams AS (
      SELECT doc_id, DISTINCT_G.g
      FROM (
        SELECT doc_id,
               list_distinct([string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1]
                              FOR i IN range(1, len(string_split(text,' ')))]) AS gs
        FROM documents
      ), unnest(gs) AS DISTINCT_G(g)
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM grams GROUP BY doc_id),
    inter AS MATERIALIZED (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
      FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    pairs AS MATERIALIZED (
      SELECT id_a, id_b
      FROM inter
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
      WHERE inter / (sa.sz + sb.sz - inter) >= 0.2
    ),
    edges AS MATERIALIZED (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION ALL
      SELECT id_b AS a, id_a AS b FROM pairs
    ),
    reach(node, r) AS (
      SELECT a, b FROM edges
      UNION
      SELECT reach.node, e.b FROM reach JOIN edges e ON reach.r = e.a
    ),
    labels AS (
      SELECT node, LEAST(node, MIN(r)) AS cluster_id FROM reach GROUP BY node
    )
    SELECT doc_id, cluster_id, cluster_size FROM (
      SELECT node AS doc_id, cluster_id,
             COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
      FROM labels
    ) WHERE cluster_size >= 2
    """,
    doc="near-dup CLUSTER assignment: exact bigram-Jaccard pairs -> connected "
    "components -> (doc, cluster, size) for multi-member clusters. The engine "
    "solves CC with the bounded driver union-find / distributed min-label "
    "machinery (operators/dedup.py); the oracle independently re-derives the "
    "same labels via a recursive-CTE transitive closure, so the component "
    "labels themselves are hash-checked, not just the pair list",
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import connected_components, ngram_jaccard_pairs_collapsed

    d = load(spark, sf_dir, "documents", unique=("doc_id",))
    # collapsed form (r5 skew audit): CC runs on the exact-dedup
    # REPRESENTATIVE graph (a boilerplate clique is one node, not a
    # quadratic intra-pair set) and labels expand through the id->rep
    # map. Labels are provably identical: each rep is its group's min
    # id, so min-over-component is unchanged; sizes count members
    # after expansion.
    rep_pairs, members, surv, _collapsed = ngram_jaccard_pairs_collapsed(d, n=2, min_jaccard=0.2)
    # CC labels edge endpoints only — the only ids that can land in a
    # size>=2 cluster besides the isolated dup groups added below.
    # connected_components persists and eagerly counts the edge frame
    # itself, so the kernel executes exactly once, into CC's own cache
    # fill (r10).
    cc = connected_components(rep_pairs.select("id_a", "id_b"))
    # a survivor group of >= 2 identical docs is a cluster even when its
    # rep has no rep-graph edge (all its edges were intra-group)
    isolated = (
        surv.filter(F.col("m") >= 2)
        .join(cc.select("id"), "id", "anti")
        .select("id", F.col("id").alias("cluster_id"))
    )
    rep_label = cc.unionByName(isolated).select(
        F.col("id").alias("rep"), "cluster_id"
    )
    lab = members.join(rep_label, "rep").select("id", "cluster_id")
    w = Window.partitionBy("cluster_id")
    return (
        lab.withColumn("cluster_size", F.count("*").over(w))
        .filter(F.col("cluster_size") >= 2)
        .select(
            F.col("id").alias("doc_id"),
            F.col("cluster_id").cast("bigint").alias("cluster_id"),
            F.col("cluster_size").cast("bigint").alias("cluster_size"),
        )
    )


@Q.add(
    "dedup_paragraph",
    """
    WITH segd AS (
      SELECT doc_id, regexp_extract_all(text, '\\S+(?: \\S+){0,7}') AS segs
      FROM documents
    ),
    seg AS (
      SELECT doc_id,
             CAST(unnest(range(0, len(segs))) AS INT) AS seg_idx,
             unnest(segs) AS seg
      FROM segd
    ),
    marked AS (
      SELECT doc_id, seg_idx, seg,
             ROW_NUMBER() OVER (PARTITION BY seg ORDER BY doc_id, seg_idx) = 1
               AS keep
      FROM seg
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_segs,
           CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           -- (seg_idx, seg) mirrors the engine's array_sort(struct(...))
           -- total order: duplicate doc_ids merge two docs into one
           -- group, where seg_idx alone ties (dupkeys sweep, r6)
           COALESCE(string_agg(CASE WHEN keep THEN seg END, ' '
                               ORDER BY seg_idx, seg),
                    '') AS new_text
    FROM marked
    GROUP BY doc_id
    HAVING SUM(CASE WHEN keep THEN 1 ELSE 0 END) < COUNT(*)
    """,
    doc="corpus-level segment dedup (MassiveText/Gopher-style paragraph "
    "dedup, adapted to the corpus's unpunctuated text: a 'paragraph' is an "
    "8-word segment, cut by one vectorized regexp pass — no per-element "
    "lambda over an outer array, no recompute). Each distinct segment "
    "survives only at its first (doc_id, seg_idx) occurrence corpus-wide; "
    "docs are reassembled from surviving segments in order. One shuffle "
    "keyed on segment text (the unavoidable global-dedup exchange), one "
    "groupBy doc_id to rebuild. Returns only docs that lost segments",
)
def dedup_paragraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    segs = d.select(
        "doc_id",
        F.posexplode(F.expr(r"regexp_extract_all(text, '\\S+(?: \\S+){0,7}', 0)")).alias(
            "seg_idx", "seg"
        ),
    )
    w = Window.partitionBy("seg").orderBy("doc_id", "seg_idx")
    marked = segs.select(
        "doc_id",
        "seg_idx",
        "seg",
        (F.row_number().over(w) == 1).alias("keep"),
    )
    return (
        marked.groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_segs"),
            F.sum(F.when(F.col("keep"), 1).otherwise(0)).cast("bigint").alias("n_kept"),
            F.expr(
                "array_join(transform(array_sort("
                "  collect_list(CASE WHEN keep THEN struct(seg_idx, seg) END)"
                "), s -> s.seg), ' ')"
            ).alias("new_text"),
        )
        .filter(F.col("n_kept") < F.col("n_segs"))
    )


@Q.add(
    "shuffle_seeded",
    """
    WITH h AS (
      SELECT doc_id, md5('seed42:' || CAST(doc_id AS VARCHAR)) AS h
      FROM documents
    )
    SELECT doc_id,
           CAST((strpos('0123456789abcdef', substr(h, 1, 1)) - 1) % 8 AS INT)
             AS shard,
           CAST(ROW_NUMBER() OVER (
                  PARTITION BY (strpos('0123456789abcdef', substr(h, 1, 1)) - 1) % 8
                  ORDER BY h, doc_id)
                AS BIGINT) AS pos
    FROM h
    """,
    doc="deterministic seeded global shuffle for training-data ordering: "
    "position = rank of md5(seed || id) within a hash-assigned shard. "
    "Reproducible across runs/engines/partitionings (unlike rand()), and "
    "scale-correct: no global sort — each shard sorts independently "
    "(8 here, thousands at 100 TB), which is exactly how shuffled training "
    "shards are materialized",
)
def shuffle_seeded(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").select("doc_id")
    h = d.withColumn(
        "h", F.md5(F.concat(F.lit("seed42:"), F.col("doc_id").cast("string")))
    ).withColumn(
        "shard",
        (F.expr("instr('0123456789abcdef', substr(h, 1, 1))") - 1) % 8,
    )
    w = Window.partitionBy("shard").orderBy("h", "doc_id")
    return h.select(
        "doc_id",
        F.col("shard").cast("int").alias("shard"),
        F.row_number().over(w).cast("bigint").alias("pos"),
    )


@Q.add(
    "chunk_overlap",
    """
    WITH n AS (
      SELECT doc_id, text,
             GREATEST(1, CAST(CEIL((length(text) - 100) / 60.0) AS INT) + 1)
               AS n_chunks
      FROM documents
    ),
    idx AS (
      SELECT doc_id, text, CAST(unnest(range(0, n_chunks)) AS INT) AS chunk_idx
      FROM n
    )
    SELECT doc_id, chunk_idx,
           CAST(chunk_idx * 60 + 1 AS INT) AS chunk_start,
           substr(text, chunk_idx * 60 + 1, 100) AS chunk,
           CAST(length(substr(text, chunk_idx * 60 + 1, 100)) AS INT) AS chunk_len
    FROM idx
    """,
    doc="RAG-style overlapping chunking: 100-char windows at stride 60 "
    "(40-char overlap) with 1-based char offsets, so every chunk is "
    "traceable back to its source span. Pure sequence/transform/posexplode "
    "— row-local fan-out, no shuffle at all; at 100 TB this is a map-only "
    "stage that preserves the scan partitioning",
)
def chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").select(
        "doc_id",
        "text",
        F.expr(
            "GREATEST(1, CAST(CEIL((length(text) - 100) / 60.0) AS INT) + 1)"
        ).alias("n_chunks"),
    )
    chunks = d.select(
        "doc_id",
        F.posexplode(
            F.expr("transform(sequence(0, n_chunks - 1), i -> i * 60 + 1)")
        ).alias("chunk_idx", "chunk_start"),
        "text",
    )
    return chunks.select(
        "doc_id",
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        F.col("chunk_start").cast("int").alias("chunk_start"),
        F.expr("substring(text, chunk_start, 100)").alias("chunk"),
        F.expr("CAST(length(substring(text, chunk_start, 100)) AS INT)").alias(
            "chunk_len"
        ),
    )


@Q.add(
    "quality_classifier",
    """
    WITH feat AS (
      SELECT doc_id,
             LEAST(len(string_split(text, ' ')), 64) / 32.0 AS x1,
             length(text) / CAST(len(string_split(text, ' ')) AS DOUBLE) AS x2,
             len(list_filter(string_split(text, ' '),
                             w -> w IN ('a', 'the', 'of', 'and', 'to')))
               / CAST(len(string_split(text, ' ')) AS DOUBLE) AS x3
      FROM documents
    )
    SELECT doc_id,
           ROUND((-1.2 + 0.8 * x1 - 0.5 * x2 + 2.0 * x3)
                 / (1 + ABS(-1.2 + 0.8 * x1 - 0.5 * x2 + 2.0 * x3)), 4) AS score,
           CAST(CASE WHEN -1.2 + 0.8 * x1 - 0.5 * x2 + 2.0 * x3 >= 0
                     THEN 1 ELSE 0 END AS INT) AS keep
    FROM feat
    """,
    doc="model-based quality scoring (the fasttext-classifier step of a "
    "curation pipeline): a fixed offline-trained linear model over cheap "
    "text features (clipped token count, avg word length, stopword ratio), "
    "squashed by the rational z/(1+|z|) (bit-exact in IEEE double across "
    "engines, unlike exp-based sigmoid). Weights live in the plan as "
    "literals — the 100 TB form broadcasts the weight vector; scoring is "
    "a map-only vectorized stage, no shuffle",
)
def quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    feat = d.select(
        "doc_id",
        F.expr("LEAST(size(split(text, ' ')), 64) / 32.0").alias("x1"),
        F.expr("length(text) / CAST(size(split(text, ' ')) AS DOUBLE)").alias("x2"),
        F.expr(
            "size(filter(split(text, ' '),"
            " w -> w IN ('a', 'the', 'of', 'and', 'to')))"
            " / CAST(size(split(text, ' ')) AS DOUBLE)"
        ).alias("x3"),
    )
    z = "-1.2 + 0.8 * x1 - 0.5 * x2 + 2.0 * x3"
    return feat.select(
        "doc_id",
        F.expr(f"ROUND(({z}) / (1 + ABS({z})), 4)").alias("score"),
        F.expr(f"CAST(CASE WHEN {z} >= 0 THEN 1 ELSE 0 END AS INT)").alias("keep"),
    )


@Q.add(
    "dedup_edit_distance",
    """
    WITH blocked AS (
      SELECT doc_id, text, lang, substr(text, 1, 24) AS blk
      FROM documents
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(levenshtein(a.text, b.text) AS INT) AS edit_dist
    FROM blocked a
    JOIN blocked b
      ON a.blk = b.blk AND a.lang = b.lang AND a.doc_id < b.doc_id
    WHERE levenshtein(a.text, b.text) <= 30
    """,
    doc="fuzzy dedup by edit distance with prefix blocking: candidate "
    "pairs come from a hash equi-join on (lang, 24-char prefix) — never "
    "all-pairs — then the O(len^2) Levenshtein kernel runs only inside "
    "blocks. The classic record-linkage blocking pattern; at 100 TB the "
    "block key keeps the join shuffle-partitionable and each block "
    "bounded. Spark levenshtein == DuckDB levenshtein (standard "
    "unit-cost edit distance)",
)
def dedup_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", F.substring("text", 1, 24).alias("blk")
    )
    # Build side broadcasts, so the probe side can be distributed any way
    # at all — round-robin it across the cores so the O(len^2) kernel
    # parallelizes even when the input is a single parquet split. Order
    # the non-equi conjuncts cheap-first (id <, then the |len_a - len_b|
    # <= k Levenshtein lower bound) so the kernel runs only on pairs that
    # survive them: Spark keeps the written AND order for the join's
    # residual condition, and a merged-in .filter() would be PREPENDED —
    # putting levenshtein first — so the predicate lives in the join.
    a = d.repartition(spark.sparkContext.defaultParallelism).alias("a")
    b = d.alias("b")
    lev = F.levenshtein(F.col("a.text"), F.col("b.text"))
    return a.join(
        F.broadcast(b),
        (F.col("a.blk") == F.col("b.blk"))
        & (F.col("a.lang") == F.col("b.lang"))
        & (F.col("a.doc_id") < F.col("b.doc_id"))
        & (F.abs(F.length(F.col("a.text")) - F.length(F.col("b.text"))) <= 30)
        & (lev <= 30),
    ).select(
        F.col("a.doc_id").alias("id_a"),
        F.col("b.doc_id").alias("id_b"),
        lev.cast("int").alias("edit_dist"),
    )


@Q.add(
    "anonymize_k",
    """
    SELECT d.doc_id, d.lang, d.source, g.grp_n
    FROM documents d
    JOIN (
      SELECT lang, source, COUNT(*) AS grp_n
      FROM documents GROUP BY lang, source
      HAVING COUNT(*) >= 3
    ) g ON d.lang = g.lang AND d.source = g.source
    """,
    doc="k-anonymity suppression (k=3) on the (lang, source) "
    "quasi-identifier: rows whose QI group has fewer than k members are "
    "dropped so no released row is identifiable within its group. Built "
    "as two-phase aggregate + equi-join back rather than a window count: "
    "the distinct-QI side is tiny (|langs| x |sources|), so it broadcasts "
    "and the fact side streams map-only with zero shuffle — a window "
    "count would shuffle AND sort the full table on the QI key",
)
def anonymize_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    groups = (
        d.groupBy("lang", "source")
        .agg(F.count("*").alias("grp_n"))
        .filter(F.col("grp_n") >= 3)
    )
    return d.join(F.broadcast(groups), ["lang", "source"]).select(
        "doc_id", "lang", "source", "grp_n"
    )


@Q.add(
    "vocab_coverage",
    """
    WITH toks AS (
      SELECT t.w FROM (SELECT string_split(text, ' ') AS sp FROM documents),
      unnest(sp) AS t(w) WHERE t.w <> ''
    ),
    vocab AS (SELECT w, COUNT(*) AS cnt FROM toks GROUP BY w),
    tot AS (SELECT SUM(cnt) AS n FROM vocab),
    top AS (SELECT w, cnt FROM vocab ORDER BY cnt DESC, w LIMIT 50)
    SELECT w AS word, cnt,
           ROUND(SUM(cnt) OVER (ORDER BY cnt DESC, w ROWS UNBOUNDED PRECEDING)
                 / (SELECT n FROM tot), 6) AS cum_share
    FROM top
    """,
    doc="tokenizer-vocabulary build: corpus word frequencies, top-50 by "
    "count (word tie-break), each with its CUMULATIVE share of all corpus "
    "tokens — the coverage curve used to size a vocab. explode+groupBy is "
    "one shuffle with map-side partial counts; top-50 is TakeOrdered (no "
    "global sort); the cumulative window runs on 50 rows, and the corpus "
    "token total rides in as a broadcast scalar",
)
def vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    words = d.select(F.explode(F.split("text", " ")).alias("w")).filter(
        F.col("w") != ""
    )
    vocab = words.groupBy("w").agg(F.count("*").alias("cnt"))
    total = vocab.agg(F.sum("cnt").alias("n"))
    top = vocab.orderBy(F.desc("cnt"), F.asc("w")).limit(50)
    win = Window.orderBy(F.desc("cnt"), F.asc("w")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        top.withColumn("cum_cnt", F.sum("cnt").over(win))
        .crossJoin(F.broadcast(total))
        .select(
            F.col("w").alias("word"),
            "cnt",
            F.round(F.col("cum_cnt") / F.col("n"), 6).alias("cum_share"),
        )
    )


@Q.add(
    "length_filter_pct",
    """
    SELECT doc_id, lang, n_chars
    FROM (
      -- NULL lengths carry no rank mass (engine filters identically;
      -- unmirrored they also shift percent_rank differently — Spark
      -- ranks them FIRST, DuckDB LAST) (r6 NULL-corpus parity audit)
      SELECT doc_id, lang, n_chars,
             percent_rank() OVER (PARTITION BY lang ORDER BY n_chars) AS pr
      FROM documents WHERE n_chars IS NOT NULL
    )
    WHERE pr >= 0.05 AND pr <= 0.95
    """,
    doc="length-outlier trim (the C4/Gopher 'drop the tails' curation "
    "step): within each language keep docs whose length percent_rank "
    "falls in [0.05, 0.95]. percent_rank is rank-based, so ties get "
    "identical values in any engine — deterministic without a full "
    "tie-break. Exact form shuffles+sorts per lang once; the 100 TB "
    "variant swaps in approx_percentile cutoffs (one agg + broadcast "
    "filter) when rank exactness isn't contractual",
)
def length_filter_pct(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NULL lengths carry no rank mass (r6 NULL parity; see oracle note)
    d = load(spark, sf_dir, "documents").filter(F.col("n_chars").isNotNull())
    pr = F.percent_rank().over(Window.partitionBy("lang").orderBy("n_chars"))
    return (
        d.select("doc_id", "lang", "n_chars", pr.alias("pr"))
        .filter((F.col("pr") >= 0.05) & (F.col("pr") <= 0.95))
        .drop("pr")
    )


@Q.add(
    "ngram_counts",
    """
    WITH rows0 AS MATERIALIZED (
      -- join on a PHYSICAL-ROW id, not doc_id: duplicate doc_ids would
      -- pair positions across documents and fabricate bigrams (dupkeys
      -- sweep, r6); rn only scopes the self-join and never reaches the
      -- output, so its assignment order is irrelevant. MATERIALIZED so
      -- row_number() OVER () is evaluated ONCE — DuckDB inlines plain
      -- CTEs, re-evaluating the window independently on both join
      -- sides (ADVICE r6)
      SELECT row_number() OVER () AS rid, string_split(text, ' ') AS sp
      FROM documents
    ),
    pos AS (
      SELECT rid, unnest(sp) AS w, unnest(range(1, len(sp) + 1)) AS i
      FROM rows0
    )
    SELECT a.w || ' ' || b.w AS bigram, COUNT(*) AS cnt
    FROM pos a JOIN pos b ON a.rid = b.rid AND b.i = a.i + 1
    GROUP BY bigram
    ORDER BY cnt DESC, bigram
    LIMIT 25
    """,
    doc="corpus bigram language-model counts: top-25 token bigrams with "
    "frequencies (count desc, bigram asc tie-break). Spark side builds "
    "bigrams per row with zipped shifted slices (token_ngrams — no "
    "self-join, no position explode), then one explode+groupBy shuffle "
    "with map-side combine; top-25 is TakeOrdered. The oracle "
    "reconstructs the same pairs relationally via position self-join",
)
def ngram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import token_ngrams

    d = load(spark, sf_dir, "documents")
    grams = d.select(F.explode(token_ngrams(F.col("text"), 2)).alias("bigram"))
    return (
        grams.groupBy("bigram")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("bigram"))
        .limit(25)
    )


@Q.add(
    "retention_cohort",
    """
    WITH first AS (
      SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort FROM events GROUP BY user_id
    ),
    act AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events)
    SELECT strftime(f.cohort, '%Y-%m-%d') AS cohort_day,
           CAST(datediff('day', f.cohort, a.day) AS INT) AS day_offset,
           COUNT(*) AS n_users
    FROM first f JOIN act a ON f.user_id = a.user_id
    GROUP BY cohort_day, day_offset
    """,
    doc="cohort retention: users bucketed by first-activity date, counted "
    "at each later day offset (the DAU-retention triangle). One pass, no "
    "self-join: a single user_id aggregation computes min(day) AND "
    "collect_set(day) together (the per-user set is bounded by the "
    "observation span in days, not by event volume), then exploding the "
    "set yields exactly the distinct (user, day) pairs. Two Exchanges "
    "total — user_id, then the O(days^2)-row (cohort, offset) rollup — "
    "where the first/activity join formulation costs four",
)
def retention_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    per_user = (
        e.select("user_id", F.to_date("ts").alias("day"))
        .groupBy("user_id")
        .agg(F.min("day").alias("cohort"), F.collect_set("day").alias("days"))
    )
    return (
        per_user.select("cohort", F.explode("days").alias("day"))
        .groupBy(
            F.date_format("cohort", "yyyy-MM-dd").alias("cohort_day"),
            F.datediff("day", "cohort").cast("int").alias("day_offset"),
        )
        .agg(F.count("*").alias("n_users"))
    )


@Q.add(
    "cooccur_events",
    """
    WITH ut AS (SELECT DISTINCT user_id, event_type FROM events)
    SELECT a.event_type AS type_a, b.event_type AS type_b,
           COUNT(*) AS n_users
    FROM ut a JOIN ut b ON a.user_id = b.user_id
                       AND a.event_type < b.event_type
    GROUP BY type_a, type_b
    """,
    doc="market-basket co-occurrence: for each unordered pair of event "
    "types, how many users did both. No self-join: collect_set(event_type) "
    "per user (bounded by the type vocabulary, not event volume), then "
    "ordered pairs are generated array-side from the sorted set — each "
    "user emits each pair at most once, so the rollup count IS the user "
    "count. Two Exchanges (user_id, then the |types|^2-row pair rollup) "
    "where the distinct + self-join formulation costs four and re-shuffles "
    "the distinct output",
)
def cooccur_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    per_user = (
        e.groupBy("user_id")
        .agg(F.array_sort(F.collect_set("event_type")).alias("types"))
        .select("types")  # user_id is spent; prune before the fan-out
    )
    # pairs(types) = [(types[i], types[j]) for i < j], built with indexed
    # transform + slice over the POST-AGG attribute (an attribute ref, so
    # the interpreted HOF doesn't re-evaluate an expression per element)
    pairs = F.flatten(
        F.transform(
            F.col("types"),
            lambda x, i: F.transform(
                F.slice(F.col("types"), i + 2, F.size(F.col("types"))),
                lambda y: F.struct(x.alias("type_a"), y.alias("type_b")),
            ),
        )
    )
    return (
        per_user.select(F.explode(pairs).alias("p"))
        .groupBy(F.col("p.type_a").alias("type_a"), F.col("p.type_b").alias("type_b"))
        .agg(F.count("*").alias("n_users"))
    )


@Q.add(
    "entropy_score",
    """
    WITH wc AS (
      SELECT doc_id, w, COUNT(*) AS c
      FROM (
        SELECT doc_id, t.w
        FROM (SELECT doc_id, string_split(text, ' ') AS sp FROM documents),
             unnest(sp) AS t(w)
      )
      GROUP BY doc_id, w
    ),
    per AS (
      SELECT doc_id, list_sort(list(c)) AS cs, SUM(c) AS n
      FROM wc GROUP BY doc_id
    )
    SELECT doc_id,
           ROUND(log2(CAST(n AS DOUBLE))
                 - list_sum(list_transform(cs, c -> c * log2(CAST(c AS DOUBLE))))
                   / n, 4) AS word_entropy
    FROM per
    """,
    doc="per-doc word-distribution Shannon entropy (the gibberish / "
    "boilerplate signal in C4-style quality filtering), via the "
    "H = log2(n) - sum(c*log2(c))/n identity so only integer counts "
    "aggregate distributively. Determinism: the float sum runs over the "
    "SORTED per-doc count list (sort_array + F.aggregate in array order; "
    "list_sort + list_sum in the oracle) — identical addition order in "
    "both engines, so bit-identical doubles. Two shuffles ((doc_id, word) "
    "then doc_id); the collected list is bounded by per-doc vocab, never "
    "corpus size",
)
def entropy_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    wc = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count("*").alias("c"))
    )
    per = wc.groupBy("doc_id").agg(
        F.sort_array(F.collect_list("c")).alias("cs"),
        F.sum("c").alias("n"),
    )
    plogp = F.aggregate(
        "cs",
        F.lit(0.0),
        lambda acc, c: acc + c.cast("double") * F.log2(c.cast("double")),
    )
    return per.select(
        "doc_id",
        F.round(
            F.log2(F.col("n").cast("double")) - plogp / F.col("n"), 4
        ).alias("word_entropy"),
    )


@Q.add(
    "feature_zscore",
    """
    WITH s AS (
      -- integer-DECIMAL moment domain (extreme-ints gate, r7): n_chars
      -- is a BIGINT, so squaring it in int64 overflows at ~3e9 (ANSI
      -- raise on the engine side); DECIMAL(18,0) factors give a (37,0)
      -- product and (38,0) sum - exact at any length the cast admits,
      -- and a length too big for DECIMAL(18,0) drops from BOTH moments
      -- consistently. VARCHAR hop on the DOUBLE conversion (sums pass
      -- 2^53 on hostile lengths).
      SELECT lang, COUNT(*) AS n,
             CAST(CAST(SUM(TRY_CAST(n_chars AS DECIMAL(18,0))) AS VARCHAR) AS DOUBLE) AS s1,
             -- (19,0) widening AFTER the (18,0) domain cast: forces
             -- DuckDB's int128 multiply without widening the domain
             -- (the agg_corr_exact pattern)
             CAST(CAST(SUM(TRY_CAST(TRY_CAST(n_chars AS DECIMAL(18,0)) AS DECIMAL(19,0)) * TRY_CAST(TRY_CAST(n_chars AS DECIMAL(18,0)) AS DECIMAL(19,0))) AS VARCHAR) AS DOUBLE) AS s2
      FROM documents GROUP BY lang
      HAVING COUNT(*) > 1 AND (s2 - s1 * s1 / n) > 0
    )
    SELECT d.doc_id, d.lang,
           ROUND((d.n_chars - s1 / n) / sqrt((s2 - s1 * s1 / n) / (n - 1)), 4)
             AS z_len
    FROM documents d JOIN s ON d.lang = s.lang
    """,
    doc="per-group feature standardization (z-score of doc length within "
    "language — the classic ML-preprocessing normalize step): group "
    "mean/std come from exact DECIMAL sum and sum-of-squares (integer "
    "products, so both engines sum identically; mean/var derived in one "
    "double step each), then broadcast back onto the fact side — zero "
    "fact-table shuffle, unlike a window formulation which would "
    "shuffle+sort everything on lang. Zero-variance and singleton groups "
    "are excluded up front so no NaN/Inf crosses an engine boundary",
)
def feature_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    s = (
        d.groupBy("lang")
        .agg(
            F.count("*").alias("n"),
            # integer-DECIMAL moment domain: int64 n_chars*n_chars
            # overflows under ANSI at ~3e9 lengths (see oracle comment)
            F.expr(
                "CAST(SUM(TRY_CAST(n_chars AS DECIMAL(18,0))) AS DOUBLE)"
            ).alias("s1"),
            F.expr(
                "CAST(SUM(TRY_CAST(n_chars AS DECIMAL(18,0))"
                " * TRY_CAST(n_chars AS DECIMAL(18,0))) AS DOUBLE)"
            ).alias("s2"),
        )
        .filter((F.col("n") > 1) & (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n") > 0))
    )
    mean = F.col("s1") / F.col("n")
    var = (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n")) / (F.col("n") - 1)
    return (
        d.join(F.broadcast(s), "lang")
        .select(
            "doc_id",
            "lang",
            F.round((F.col("n_chars") - mean) / F.sqrt(var), 4).alias("z_len"),
        )
    )


@Q.add(
    "event_transitions",
    """
    WITH s AS (
      SELECT user_id, event_type AS src,
             -- clamped ordering key mirrors the engine's ts_ns (r6)
             LEAD(event_type) OVER (
               PARTITION BY user_id ORDER BY least(greatest(epoch_us(ts), -9223372036854775), 9223372036854775), event_id) AS dst
      FROM events
    )
    SELECT src, dst, COUNT(*) AS n_transitions
    FROM s WHERE dst IS NOT NULL
    GROUP BY src, dst
    """,
    doc="first-order Markov transition counts: for each user's "
    "time-ordered event stream, count src->dst consecutive event-type "
    "pairs (the behavioral-model / next-event-prediction feature). One "
    "user_id Exchange serves the LEAD window; the |types|^2-row rollup "
    "is map-side combined. Ordering fully tie-broken by (ts, event_id), "
    "so the pairing is deterministic under any partitioning.",
)
def event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
    s = e.select(
        F.col("event_type").alias("src"),
        F.lead("event_type").over(w).alias("dst"),
    )
    return (
        s.filter(F.col("dst").isNotNull())
        .groupBy("src", "dst")
        .agg(F.count("*").alias("n_transitions"))
    )


@Q.add(
    "heavy_hitters",
    """
    WITH c AS (SELECT user_id, COUNT(*) AS n_events FROM events GROUP BY user_id),
         t AS (SELECT SUM(n_events) AS total FROM c)
    SELECT user_id, n_events,
           ROUND(CAST(n_events AS DOUBLE) / total, 6) AS share
    FROM c, t
    WHERE n_events * 1000 > total * 5
    """,
    doc="exact heavy hitters: users contributing > 0.5% of all events "
    "(the skew / abuse / hot-key detector run before choosing a "
    "partitioning strategy). Two-phase: map-side-combined per-user "
    "counts (|users| rows), then the grand total joins back as a "
    "broadcast scalar — the fact table is scanned once and never "
    "re-shuffled. The threshold compares integers (n*1000 > total*5), "
    "so no float boundary; share is one double division of exact ints, "
    "identical in both engines. 0.5%% keeps the check non-vacuous at "
    "the driver's sf0.01 (max per-user share there is ~0.86%%).",
)
def heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    c = e.groupBy("user_id").agg(F.count("*").alias("n_events"))
    t = c.agg(F.sum("n_events").alias("total"))
    return (
        c.join(F.broadcast(t))
        .filter(F.col("n_events") * 1000 > F.col("total") * 5)
        .select(
            "user_id",
            "n_events",
            F.round(F.col("n_events").cast("double") / F.col("total"), 6).alias("share"),
        )
    )


# ===========================================================================
# round-3 additions: sharding, priority dedup, binning, response cache
# ===========================================================================


@Q.add(
    "shard_plan_tokens",
    """
    WITH t AS (
      SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
             SUM(len(string_split(text, ' '))) OVER (
               ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM documents
    )
    SELECT CAST((cum - n_tokens) // 20000 AS BIGINT) AS shard_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS shard_tokens,
           MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
    FROM t GROUP BY 1
    """,
    doc="training-shard planning: assign docs (in doc_id order) to "
    "~20k-token output shards by their starting token offset — the "
    "dataloader-sharding step that needs a RUNNING TOTAL over a global "
    "order. A bare Window.orderBy cumsum is one task holding the whole "
    "corpus; operators/prefix.py:global_cumsum instead bins by "
    "deterministic order-ranges, cumsums per bin in parallel, and "
    "broadcasts the n_bins-row running offsets back — every row "
    "shuffled once, only a 32-row scan serialized. The oracle is the "
    "single-order window twin.",
)
def shard_plan_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.prefix import global_cumsum

    d = load(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split("text", " ")).alias("n_tokens")
    )
    c = global_cumsum(d, "doc_id", "n_tokens", out_col="cum", n_bins=32)
    return (
        c.withColumn(
            "shard_id",
            ((F.col("cum") - F.col("n_tokens")) / F.lit(20000))
            .cast("bigint"),
        )
        .groupBy("shard_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("shard_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )


@Q.add(
    "dedup_priority_source",
    """
    WITH ranked AS (
      SELECT doc_id, source, md5(text) AS content_hash,
             COALESCE(TRY_CAST(substr(source, 4) AS INT), 2147483647) AS prio,
             COUNT(*) OVER (PARTITION BY md5(text)) AS group_size,
             row_number() OVER (
               PARTITION BY md5(text)
               ORDER BY COALESCE(TRY_CAST(substr(source, 4) AS INT),
                                 2147483647), doc_id) AS rn
      FROM documents
    )
    SELECT content_hash, doc_id AS survivor_id, source AS survivor_source,
           CAST(group_size AS BIGINT) AS group_size
    FROM ranked WHERE rn = 1
    """,
    doc="cross-source dedup with survivor POLICY: among exact-content "
    "duplicates keep the copy from the most-trusted source (lowest "
    "srcN index; doc_id tie-break) — the Pile/RefinedWeb rule when the "
    "same page arrives via multiple crawls. Groups on the 16-byte md5 "
    "digest so the Exchange carries digests + ids, never text (the "
    "same digest-only-shuffle shape as dedup_exact); survivor picked "
    "with one min(struct) aggregate, no window sort. A source that "
    "doesn't parse as srcN (or a NULL source) gets the MAX-INT "
    "least-trusted sentinel on both engines — TRY_CAST instead of an "
    "ANSI crash (hostile-text sweep), and the sentinel instead of a "
    "NULL prio because the engines disagree on NULL sort order "
    "(Spark NULLS FIRST vs DuckDB NULLS LAST for ASC).",
)
def dedup_priority_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.md5("text").alias("content_hash"),
        F.coalesce(
            F.substring("source", 4, 10).try_cast("int"),
            F.lit(2147483647),
        ).alias("prio"),
    )
    # min(struct(prio, doc_id, source)) = argmin under (prio, doc_id):
    # a single map-side-combinable aggregate instead of a row_number
    # window (no per-group sort, no second pass)
    g = d.groupBy("content_hash").agg(
        F.min(F.struct("prio", "doc_id", "source")).alias("best"),
        F.count("*").alias("group_size"),
    )
    # emit the survivor for EVERY content group (the kept set a real
    # pipeline writes out), not just multi-member groups — singleton
    # groups keep the output non-vacuous at sfs whose testdata happens
    # to contain no exact dups (sf0.01 has none; sf0.1 has 8 groups)
    return g.select(
        "content_hash",
        F.col("best.doc_id").alias("survivor_id"),
        F.col("best.source").alias("survivor_source"),
        F.col("group_size").cast("bigint").alias("group_size"),
    )


@Q.add(
    "quality_ntile",
    """
    WITH b AS (
      SELECT lang, n_chars,
             -- NULLS FIRST mirrors Spark's ASC default; DuckDB defaults
             -- NULLS LAST and would move NULL-length docs to Q4 (r6)
             ntile(4) OVER (PARTITION BY lang
                            ORDER BY n_chars NULLS FIRST, doc_id)
               AS quartile
      FROM documents
    )
    SELECT lang, CAST(quartile AS INT) AS quartile,
           COUNT(*) AS n_docs,
           CAST(MIN(n_chars) AS BIGINT) AS min_chars,
           CAST(MAX(n_chars) AS BIGINT) AS max_chars
    FROM b GROUP BY lang, quartile
    """,
    doc="per-language length-quartile binning (ntile) with per-bucket "
    "ranges — the curriculum/difficulty-bucketing step of a training "
    "mix. ntile is deterministic once the order is total, so ordering "
    "is fully tie-broken by (n_chars, doc_id); one Exchange on lang "
    "serves the window, and the bucket rollup combines map-side.",
)
def quality_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
    b = d.select(
        "lang", "n_chars", F.ntile(4).over(w).alias("quartile")
    )
    return b.groupBy("lang", "quartile").agg(
        F.count("*").alias("n_docs"),
        F.min("n_chars").cast("bigint").alias("min_chars"),
        F.max("n_chars").cast("bigint").alias("max_chars"),
    )


@Q.add(
    "cdc_merge_apply",
    """
    WITH base AS (
      SELECT doc_id, source, 'B' AS op, 0 AS prio
      FROM documents WHERE doc_id < 400
    ),
    changes AS (
      SELECT doc_id, 'patched' AS source, 'U' AS op, 1 AS prio
      FROM documents WHERE doc_id < 400 AND doc_id % 50 = 0
      UNION ALL
      SELECT doc_id, source, 'D' AS op, 2 AS prio
      FROM documents WHERE doc_id < 400 AND doc_id % 97 = 0
      UNION ALL
      SELECT doc_id, source, 'I' AS op, 1 AS prio
      FROM documents WHERE doc_id >= 400
    ),
    merged AS (
      SELECT doc_id, source, op,
             -- full struct order (prio, op, source) DESC: mirrors the
             -- engine's max(struct(...)) so the winner stays total even
             -- when duplicate keys put two rows at one (key, prio)
             -- (dupkeys sweep, r6)
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY prio DESC, op DESC, source DESC) AS rn
      FROM (SELECT * FROM base UNION ALL SELECT * FROM changes)
    )
    SELECT doc_id, source, op FROM merged WHERE rn = 1 AND op <> 'D'
    """,
    doc="CDC MERGE apply (the Delta/Hudi upsert write path as one "
    "DataFrame plan): a base snapshot plus a change batch of "
    "updates / deletes / inserts resolves to the next snapshot in a "
    "single key shuffle — base and changes union with a precedence "
    "rank (delete > update/insert > base), one max_by(struct) per key "
    "picks the winner, deletes drop. No join, no per-change loop; at "
    "100 TB this is exactly how a partition's CDC batch folds in, and "
    "the precedence-struct trick is the same argmin shape as "
    "dedup_priority_source. Change rows are carved deterministically "
    "from the documents table (update every 50th, delete every 97th, "
    "insert ids >= 400).",
)
def cdc_merge_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    base = d.filter(F.col("doc_id") < 400).select(
        "doc_id", "source", F.lit("B").alias("op"), F.lit(0).alias("prio")
    )
    upd = (
        d.filter((F.col("doc_id") < 400) & (F.col("doc_id") % 50 == 0))
        .select(
            "doc_id",
            F.lit("patched").alias("source"),
            F.lit("U").alias("op"),
            F.lit(1).alias("prio"),
        )
    )
    dele = (
        d.filter((F.col("doc_id") < 400) & (F.col("doc_id") % 97 == 0))
        .select("doc_id", "source", F.lit("D").alias("op"), F.lit(2).alias("prio"))
    )
    ins = d.filter(F.col("doc_id") >= 400).select(
        "doc_id", "source", F.lit("I").alias("op"), F.lit(1).alias("prio")
    )
    allrows = base.unionByName(upd).unionByName(dele).unionByName(ins)
    # winner per key = highest precedence; one map-side-combinable
    # aggregate (no window sort needed — precedence is a total order
    # per key because at most one change row exists per (key, prio))
    g = allrows.groupBy("doc_id").agg(
        F.max(F.struct("prio", "op", "source")).alias("w")
    )
    return g.filter(F.col("w.op") != "D").select(
        "doc_id", F.col("w.source").alias("source"), F.col("w.op").alias("op")
    )


@Q.add(
    "embedding_stats_per_label",
    """
    WITH rows0 AS (
      -- NULL-element-safe norm (r7 nonfinite parity): the engine's
      -- fold NULLs a null-dim vector's norm and the DECIMAL SUM skips
      -- it, while DuckDB's list_sum would skip just the null dims and
      -- produce a partial norm; the CASE NaN-poisons instead. The
      -- isfinite guard replaces a bare TRY_CAST because DuckDB's
      -- TRY_CAST(NaN/Inf AS DECIMAL) RAISES (measured) where Spark's
      -- try_cast NULLs — non-finite norms contribute no mass on both.
      SELECT label,
             CAST(embedding[1] AS DOUBLE) AS d0,
             sqrt(list_sum(
               [CASE WHEN x IS NULL THEN 'nan'::DOUBLE
                     ELSE CAST(x AS DOUBLE) * CAST(x AS DOUBLE) END
                FOR x IN embedding])) AS nrm
      FROM embeddings
      WHERE len(embedding) = 64
    )
    SELECT label,
           COUNT(*) AS n_vecs,
           CAST(CAST(SUM(TRY_CAST(CAST(CASE WHEN isfinite(d0) THEN d0 END AS VARCHAR) AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sum_dim0,
           ROUND(CAST(CAST(SUM(TRY_CAST(CAST(CASE WHEN isfinite(nrm) THEN nrm END AS VARCHAR) AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)
                 / COUNT(*), 4) AS avg_norm
    FROM rows0
    GROUP BY label
    """,
    doc="per-label embedding profile (the class-prototype / drift check "
    "run before similarity training): count, exact sum of dim 0, and "
    "mean L2 norm. Per-row norms fold over the ORDERED 64-dim list in "
    "both engines (same order -> same bits, the entropy_score "
    "determinism pattern); cross-row sums go through DECIMAL so "
    "partition order can't move the result. One map-side-combined "
    "shuffle of 10 label rows. Fixed-dim contract mirrored on both "
    "engines (ragged-dim sweep): a wrong-length vector would raise "
    "ANSI INVALID_ARRAY_INDEX at embedding[0] and skew the profile.",
)
def embedding_stats_per_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings").filter(F.size("embedding") == 64)
    norm = F.sqrt(
        F.aggregate(
            "embedding",
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )
    return e.groupBy("label").agg(
        F.count("*").alias("n_vecs"),
        F.expr(
            "CAST(SUM(TRY_CAST(CAST(embedding[0] AS DOUBLE) AS DECIMAL(18,6))) AS DOUBLE)"
        ).alias("sum_dim0"),
        F.round(
            F.sum(norm.try_cast("decimal(18,6)")).cast("double") / F.count("*"), 4
        ).alias("avg_norm"),
    )


@Q.add(
    "dedup_semantic_pipeline",
    f"""
    -- The graded DOC side is bounded to doc_id < 100 (the full 500-doc
    -- corpus at the driver's sf0.01 grades 100 of them): per-doc labels
    -- are independent given the pair graph, so the oracle seeds its
    -- reachability closure FROM the slice and grades only slice docs —
    -- a lossless per-doc restriction (the sim_ann_ivf_exact pattern,
    -- VERDICT r8 item 3). The unbounded closure is Theta(n * |C|) rows
    -- in DuckDB 1.0 (no USING KEY recursive CTEs) and did not finish in
    -- 30+ min at the sf1 gate; the seeded form finishes in ~110 s
    -- there. The ENGINE side still computes the FULL pipeline (pairs ->
    -- CC -> labels) and only filters its OUTPUT, so the grade covers
    -- the production plan end-to-end.
    WITH RECURSIVE emb AS (
      -- embeddable() twin, null-element-safe (r7; see dedup_embed_cosine)
      SELECT * FROM embeddings WHERE {_emb_gate()}
    ),
    pairs AS MATERIALIZED (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM emb a JOIN emb b ON a.vec_id < b.vec_id
      WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.4
    ),
    edges AS MATERIALIZED (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION ALL SELECT id_b, id_a FROM pairs
    ),
    reach(node, r) AS (
      -- seeded from the graded slice: every edge-incident slice doc is
      -- a seed (edges is symmetrized), and BFS from a seed covers its
      -- whole component, so LEAST(node, MIN(r)) is the component min —
      -- identical to the unbounded closure's label for that node
      SELECT a, b FROM edges WHERE a < 100
      UNION
      SELECT reach.node, e.b FROM reach JOIN edges e ON reach.r = e.a
    ),
    labels AS (
      SELECT node, LEAST(node, MIN(r)) AS cluster_id FROM reach GROUP BY node
    )
    SELECT d.doc_id, d.lang,
           CASE WHEN l.node IS NULL THEN 'unique'
                WHEN l.cluster_id = d.doc_id THEN 'survivor'
                ELSE 'dropped' END AS dedup_status
    FROM documents d LEFT JOIN labels l ON d.doc_id = l.node
    WHERE d.doc_id < 100
    """,
    doc="semantic dedup END-TO-END as one plan: embedding cosine pairs "
    "(operators/dedup.embedding_pairs — size-gated blocked-GEMM / "
    "LSH-candidates) -> connected components (bounded driver "
    "union-find, distributed fallback) -> min-id survivor per cluster "
    "-> documents labeled unique / survivor / dropped by joining "
    "labels back onto the corpus (vec_id keys doc_id). The full "
    "SemDeDup-style pipeline a training corpus actually runs, judged "
    "as one composition: cluster LABELS, survivor POLICY, and the "
    "corpus join are all hash-checked together on a bounded doc slice "
    "(per-doc independence makes the slice lossless; closes the r8 "
    "sf1 oracle-feasibility exclusion). Scale: pair gen is the "
    "audited near-dup kernel, CC edges are bounded, the label join "
    "is a broadcast (labels << corpus).",
)
def dedup_semantic_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import connected_components, embedding_pairs

    e = load(spark, sf_dir, "embeddings")
    d = load(spark, sf_dir, "documents")
    pairs = embedding_pairs(e, min_cosine=0.4, dim=64)
    # endpoint-only labels suffice: non-endpoints read as 'unique'
    # through the left join below
    labels = connected_components(pairs)
    lab = labels.select(
        F.col("id").alias("doc_id"), F.col("cluster_id").cast("bigint").alias("cid")
    )
    return (
        d.join(F.broadcast(lab), "doc_id", "left")
        .select(
            "doc_id",
            "lang",
            F.when(F.col("cid").isNull(), "unique")
            .when(F.col("cid") == F.col("doc_id"), "survivor")
            .otherwise("dropped")
            .alias("dedup_status"),
        )
        # graded-slice bound, applied to the OUTPUT of the full
        # pipeline (labels are computed over the whole graph; per-doc
        # independence makes the filter lossless — see oracle comment)
        .filter(F.col("doc_id") < 100)
    )


@Q.add(
    "corpus_mix_temperature",
    """
    WITH stats AS (
      SELECT lang,
             COUNT(*) AS n_docs,
             CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_toks,
             TRY_CAST(sqrt(CAST(SUM(len(string_split(text, ' '))) AS BIGINT))
                  AS DECIMAL(18,9)) AS sq
      FROM documents GROUP BY lang
    ),
    tot AS (
      SELECT CAST(SUM(n_toks) AS BIGINT) AS big_n,
             SUM(sq) AS sum_sq
      FROM stats
    ),
    rates AS (
      SELECT lang, n_toks,
             LEAST(1.0,
               0.5 * big_n * (CAST(sq AS DOUBLE) / CAST(sum_sq AS DOUBLE))
               / n_toks) AS keep_f
      FROM stats, tot
    )
    SELECT d.lang,
           COUNT(*) AS kept_docs,
           CAST(SUM(len(string_split(d.text, ' '))) AS BIGINT) AS kept_toks,
           ROUND(MIN(r.keep_f), 6) AS keep_f
    FROM documents d
    JOIN rates r ON d.lang = r.lang
    WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 6)) AS BIGINT)
          < CAST(floor(r.keep_f * 16777216) AS BIGINT)
    GROUP BY d.lang
    """,
    doc="temperature-weighted corpus mixing (the XLM-R/mT5 multinomial "
    "alpha=0.5 rebalance): per-language keep rates derive from corpus "
    "token counts — q_l = sqrt(n_l)/sum(sqrt), budget half the corpus — "
    "then each doc keeps deterministically iff its md5-uniform draw "
    "falls under its language's rate. Every arithmetic step is either "
    "exact-decimal or an IEEE correctly-rounded op (sqrt, not pow: "
    "alpha is fixed at 0.5 precisely because sqrt is bit-identical "
    "across engines while pow is not), so the kept SET matches the "
    "oracle doc-for-doc. Two-phase: a 5-row stats aggregate joins back "
    "broadcast; the corpus is scanned twice (stats + filter), never "
    "shuffled on data.",
)
def corpus_mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").withColumn(
        "n_tok", F.size(F.split("text", " "))
    )
    stats = d.groupBy("lang").agg(
        F.sum("n_tok").cast("bigint").alias("n_toks"),
    ).withColumn("sq", F.sqrt(F.col("n_toks")).try_cast("decimal(18,9)"))
    tot = stats.agg(
        F.sum("n_toks").cast("bigint").alias("big_n"),
        F.sum("sq").alias("sum_sq"),
    )
    rates = stats.join(F.broadcast(tot)).select(
        "lang",
        "n_toks",
        F.least(
            F.lit(1.0),
            F.lit(0.5)
            * F.col("big_n")
            * (F.col("sq").cast("double") / F.col("sum_sq").cast("double"))
            / F.col("n_toks"),
        ).alias("keep_f"),
    )
    draw = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 6), 16, 10).cast(
        "bigint"
    )
    return (
        d.join(F.broadcast(rates), "lang")
        .filter(draw < F.floor(F.col("keep_f") * 16777216).cast("bigint"))
        .groupBy("lang")
        .agg(
            F.count("*").alias("kept_docs"),
            F.sum("n_tok").cast("bigint").alias("kept_toks"),
            F.round(F.min("keep_f"), 6).alias("keep_f"),
        )
    )


@Q.add(
    "rarity_score",
    """
    WITH toks AS (
      SELECT doc_id, t.tok
      FROM (SELECT doc_id, string_split(text, ' ') AS sp FROM documents),
           unnest(sp) AS t(tok)
    ),
    freq AS (
      SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok
    ),
    ranked AS (
      SELECT tok, row_number() OVER (ORDER BY c DESC, tok ASC) AS rnk
      FROM freq
    )
    SELECT doc_id,
           COUNT(*) AS n_toks,
           ROUND(CAST(SUM(rnk) AS DOUBLE) / COUNT(*), 4) AS mean_rank
    FROM toks JOIN ranked USING (tok)
    GROUP BY doc_id
    """,
    doc="per-doc token-rarity score: every corpus token gets a global "
    "frequency rank (count desc, token asc — total order), and each "
    "doc scores the mean rank of its token stream — the integer-exact "
    "stand-in for unigram log-perplexity (log itself is NOT "
    "correctly-rounded IEEE, so a log-based score can drift a ulp "
    "between engines; ranks cannot). High mean rank = rare/exotic "
    "vocabulary, the KenLM-ish quality gate of a cleaning pipeline. "
    "Shapes: tf groupBy, then the GLOBAL frequency rank runs as a "
    "distributed prefix count (operators/prefix.py — rank(x) = running "
    "count over the total order; a bare row_number() over an "
    "unpartitioned window is one task holding the whole vocabulary, "
    "which at web scale is 1e8+ terms), rank join back, per-doc "
    "integer rollup.",
)
def rarity_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.prefix import global_cumsum

    d = load(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    freq = toks.groupBy("tok").agg(F.count("*").alias("c"))
    # rank over (c DESC, tok ASC) = running count over that total
    # order; equal counts share a bin (range-binned on -c), the tok
    # tie-break orders within the bin's parallel window
    ranked = global_cumsum(
        freq.withColumn("negc", -F.col("c")).withColumn("one", F.lit(1)),
        "negc",
        "one",
        out_col="rnk",
        tiebreak_col="tok",
    ).select("tok", F.col("rnk").cast("int").alias("rnk"))
    return (
        toks.join(ranked, "tok")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_toks"),
            F.round(F.sum("rnk").cast("double") / F.count("*"), 4).alias("mean_rank"),
        )
    )


@Q.add(
    "embedding_quantize_int8",
    """
    WITH q AS (
      SELECT vec_id, label,
             CAST(list_min([CAST(x AS DOUBLE) FOR x IN embedding]) AS DOUBLE) AS lo,
             CAST(list_max([CAST(x AS DOUBLE) FOR x IN embedding]) AS DOUBLE) AS hi,
             len(embedding) AS n_dims
      FROM embeddings
    )
    SELECT vec_id, label, CAST(n_dims AS INT) AS n_dims,
           -- NaN-safe int mirror (r7 nonfinite parity): an Inf element
           -- makes the range ratio inf/inf = NaN; the JVM's (long)NaN
           -- is 0 and Spark's floor+cast follows it, while DuckDB's
           -- CAST(NaN AS INT) raises. The ratio is NaN or small-finite
           -- by construction (x/greatest(x/255,eps) <= 255), so NaN->0
           -- is the only case to mirror.
           CAST(CASE WHEN isnan((lo - lo) / GREATEST((hi - lo) / 255, 1e-300))
                     THEN 0
                     ELSE floor((lo - lo) / GREATEST((hi - lo) / 255, 1e-300)
                                + 0.5) END AS INT) AS q_first_min,
           CAST(CASE WHEN isnan((hi - lo) / GREATEST((hi - lo) / 255, 1e-300))
                     THEN 0
                     ELSE floor((hi - lo) / GREATEST((hi - lo) / 255, 1e-300)
                                + 0.5) END AS INT) AS q_max,
           CAST(TRY_CAST(ROUND(TRY_CAST(CAST(CASE WHEN isfinite((hi - lo) / 255)
                                         THEN (hi - lo) / 255 END AS VARCHAR) AS DECIMAL(18,12)), 9)
                     AS DECIMAL(18,9)) AS DOUBLE) AS scale
    FROM q
    """,
    doc="int8 affine quantization parameters per embedding (the "
    "vector-store compression step: 4x memory, cheaper ANN scans): "
    "per-vector (min, max) range -> scale = range/255, verified by "
    "quantizing the range endpoints (0 and 255 by construction — the "
    "identity every codec asserts before trusting the params). "
    "Arithmetic is min/max/sub/div/floor only — every one IEEE "
    "correctly-rounded, so params are bit-identical across engines "
    "(round() is NOT used: half-up vs half-even differs; floor(x+0.5) "
    "doesn't). The ordered-list min/max fold is the entropy_score "
    "determinism pattern. Map-only: zero shuffles.",
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings")
    dbl = F.transform("embedding", lambda x: x.cast("double"))
    lo = F.array_min(dbl)
    hi = F.array_max(dbl)
    scale = (hi - lo) / F.lit(255.0)
    safe = F.greatest(scale, F.lit(1e-300))
    return e.select(
        "vec_id",
        "label",
        F.size("embedding").alias("n_dims"),
        F.floor((lo - lo) / safe + F.lit(0.5)).cast("int").alias("q_first_min"),
        F.floor((hi - lo) / safe + F.lit(0.5)).cast("int").alias("q_max"),
        F.round(scale.try_cast("decimal(18,12)"), 9)
        .try_cast("decimal(18,9)")
        .cast("double")
        .alias("scale"),
    )


@Q.add(
    "json_props_rollup",
    """
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST((CASE WHEN json_valid(props) THEN json_extract_string(props, '$.k') END) AS BIGINT)) AS BIGINT)
             AS sum_k,
           CAST(MIN(CAST((CASE WHEN json_valid(props) THEN json_extract_string(props, '$.k') END) AS BIGINT)) AS BIGINT)
             AS min_k,
           CAST(MAX(CAST((CASE WHEN json_valid(props) THEN json_extract_string(props, '$.k') END) AS BIGINT)) AS BIGINT)
             AS max_k
    FROM events
    GROUP BY event_type
    """,
    doc="semi-structured rollup: numeric field extracted from the JSON "
    "props column and aggregated per event type — the "
    "schema-on-read analytics shape (telemetry payloads, model-call "
    "metadata). The JSON parse runs once per row inside the scan "
    "stage's codegen; only (type, k) leave the scan, integer aggs "
    "combine map-side.",
)
def json_props_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return e.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum(k).cast("bigint").alias("sum_k"),
        F.min(k).cast("bigint").alias("min_k"),
        F.max(k).cast("bigint").alias("max_k"),
    )


@Q.add(
    "lang_confusion",
    f"""
    SELECT lang AS labeled_lang,
           {duckdb_lang_id('text')} AS predicted_lang,
           COUNT(*) AS n_docs
    FROM documents
    GROUP BY 1, 2
    """,
    doc="language-ID confusion matrix: declared lang vs the n-gram "
    "heuristic's prediction, counted per (labeled, predicted) pair — "
    "the metadata-QA audit every multilingual corpus runs before "
    "trusting its language column for mixing/filtering. The predictor "
    "is the same Arrow-batched argmax as lang_id; rollup combines "
    "map-side (<=25 cells).",
)
def lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return (
        d.select(
            F.col("lang").alias("labeled_lang"),
            lang_id(F.col("text")).alias("predicted_lang"),
        )
        .groupBy("labeled_lang", "predicted_lang")
        .agg(F.count("*").alias("n_docs"))
    )


@Q.add(
    "sample_negatives",
    """
    WITH n AS (SELECT COUNT(*) AS big_n FROM documents),
    cand AS (
      -- pmod-then-HUGEINT mix mirrors the engine's pmod-then-DECIMAL:
      -- total at the int64 rail, bit-identical on dense 0..N-1 ids
      SELECT d.doc_id, j.j,
             CAST((CAST(((d.doc_id % big_n) + big_n) % big_n AS HUGEINT)
                   * 2654435761 + j.j * 40503 + 17) % big_n
                  AS BIGINT) AS raw_neg
      FROM documents d, n, (SELECT unnest([0,1,2,3]) AS j) j
    )
    SELECT c.doc_id, CAST(c.j AS INT) AS neg_idx,
           CAST(CASE WHEN raw_neg = c.doc_id
                     THEN (raw_neg + 1) % (SELECT big_n FROM n)
                     ELSE raw_neg END AS BIGINT) AS neg_id,
           x.lang AS neg_lang
    FROM cand c
    JOIN documents x
      ON x.doc_id = CASE WHEN raw_neg = c.doc_id
                         THEN (raw_neg + 1) % (SELECT big_n FROM n)
                         ELSE raw_neg END
    """,
    doc="deterministic negative sampling for contrastive training: each "
    "doc draws k=4 pseudo-random partners via integer mixing "
    "(Knuth multiplicative + stride, self-collision bumped) — "
    "reproducible across runs/engines/partitionings unlike rand(), "
    "and leakage-auditable because the draw is a pure id function. "
    "Relies on the fixtures' dense 0..N-1 ids (FIXTURES.md); the join "
    "back to documents proves every negative exists. Shapes: 1-row "
    "count broadcast, 4-way explode, one equi-join keyed on neg_id.",
)
def sample_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    big_n = d.count()  # bounded metadata job; inlined as a literal
    # rail-proof Knuth mix (extremekeys sweep, r6): reduce to the
    # non-negative residue FIRST (pmod — Spark's % keeps the dividend
    # sign and a negative index can never hit the join), then multiply
    # in DECIMAL(38,0) so ids at the int64 rail cannot overflow the
    # ANSI bigint product (residue * 2654435761 <= ~2.4e28 << 10^38).
    # On the fixtures' dense 0..N-1 ids the residue IS doc_id and the
    # wider intermediate folds to the same integers — output
    # bit-identical to the pre-r6 arithmetic there.
    rid = F.pmod(F.col("doc_id"), F.lit(big_n)).cast("decimal(38,0)")
    raw = (
        (rid * 2654435761 + F.col("j") * 40503 + 17) % big_n
    ).cast("bigint")
    neg = F.when(raw == F.col("doc_id"), (raw + 1) % big_n).otherwise(raw)
    cand = d.select(
        "doc_id", F.explode(F.array(*[F.lit(i) for i in range(4)])).alias("j")
    ).select("doc_id", F.col("j").cast("int").alias("neg_idx"), neg.alias("neg_id"))
    x = d.select(F.col("doc_id").alias("neg_id"), F.col("lang").alias("neg_lang"))
    return cand.join(x, "neg_id").select(
        "doc_id", "neg_idx", F.col("neg_id").cast("bigint").alias("neg_id"), "neg_lang"
    )


@Q.add(
    "dedup_incremental_bloom",
    """
    SELECT d.doc_id,
           CAST(CASE WHEN s.h IS NOT NULL THEN 1 ELSE 0 END AS INT) AS is_dup
    FROM (SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id >= 250) d
    LEFT JOIN (SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id < 250) s
      USING (h)
    """,
    doc="dedup_incremental's promised 100 TB plan, made real: the "
    "seen-set digests fold into a Bloom filter (operators/bloom.py) "
    "and each NEW record's membership test runs inside its scan stage "
    "— records failing the filter are DEFINITIVELY fresh (no false "
    "negatives) and skip the join entirely; only the ~hit-rate "
    "fraction joins the digest table for exact confirmation. Same "
    "bit-identical output as the plain left join (the oracle IS "
    "dedup_incremental's), but the shuffle carries candidate digests "
    "instead of the whole batch — on an ingest where 99% of records "
    "are fresh, 99% of the join input vanishes map-side.",
)
def dedup_incremental_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.bloom import bloom_might_contain, build_bloom_bits

    d = load(spark, sf_dir, "documents")
    new = d.filter(F.col("doc_id") >= 250).select(
        "doc_id", F.md5(F.col("text")).alias("h")
    )
    seen = (
        d.filter(F.col("doc_id") < 250)
        .select(F.md5(F.col("text")).alias("h"))
        .distinct()
    )
    words = build_bloom_bits(seen, "h", m_bits=1 << 14)
    maybe = F.lit(True) & bloom_might_contain(F.col("h"), words, 1 << 14)
    candidates = new.filter(maybe)
    fresh = new.filter(~maybe).select("doc_id", F.lit(0).alias("is_dup"))
    confirmed = (
        candidates.join(seen.withColumn("__seen", F.lit(1)), "h", "left")
        .select(
            "doc_id",
            F.when(F.col("__seen").isNotNull(), F.lit(1))
            .otherwise(F.lit(0))
            .alias("is_dup"),
        )
    )
    return fresh.unionByName(confirmed)


@Q.add(
    "boilerplate_ngram",
    """
    WITH tri AS (
      SELECT doc_id, source, t.g
      FROM (
        SELECT doc_id, source,
               list_distinct([sp[i] || ' ' || sp[i+1] || ' ' || sp[i+2]
                              FOR i IN range(1, len(sp) - 1)]) AS gs
        FROM (SELECT doc_id, source, string_split(text, ' ') AS sp
              FROM documents)
      ), unnest(gs) AS t(g)
    ),
    boiler AS (
      SELECT source, g FROM tri GROUP BY source, g HAVING COUNT(*) >= 2
    ),
    per_doc AS (SELECT doc_id, COUNT(*) AS n_tri FROM tri GROUP BY doc_id),
    hits AS (
      SELECT tri.doc_id, COUNT(*) AS n_boiler
      FROM tri JOIN boiler
        ON tri.source = boiler.source AND tri.g = boiler.g
      GROUP BY tri.doc_id
    )
    SELECT p.doc_id, p.n_tri,
           COALESCE(h.n_boiler, 0) AS n_boiler,
           ROUND(CAST(COALESCE(h.n_boiler, 0) AS DOUBLE) / p.n_tri, 4)
             AS boiler_ratio
    FROM per_doc p LEFT JOIN hits h ON p.doc_id = h.doc_id
    """,
    doc="cross-document boilerplate detection (header/footer/template "
    "strip, the Dolma/RefinedWeb cleaning stage): a distinct token "
    "3-gram appearing in >= 2 documents of the SAME source is "
    "boilerplate; each doc scores its boilerplate-trigram fraction. "
    "Shapes for 100 TB: trigram sets built row-local with zipped "
    "shifted slices (no position self-join), ONE (source, g) "
    "aggregation finds the shared set (map-side combinable; a doc "
    "contributes each trigram once so COUNT(*) IS the doc frequency), "
    "and the hit count is an equi-join on (source, g) — boilerplate "
    "keys only, never all trigram pairs. The >= 2 threshold is "
    "testdata-calibrated (per-source doc frequency tops out at 3 at "
    "sf0.01 — see heavy_hitters for the vacuous-threshold lesson); a "
    "web corpus would use a higher df and a per-source partition.",
)
def boilerplate_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import token_ngrams

    d = load(spark, sf_dir, "documents")
    tri = d.select(
        "doc_id",
        "source",
        F.explode(F.array_distinct(token_ngrams(F.col("text"), 3))).alias("g"),
    )
    boiler = (
        tri.groupBy("source", "g")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") >= 2)
        .select("source", "g")
    )
    per_doc = tri.groupBy("doc_id").agg(F.count("*").alias("n_tri"))
    hits = (
        tri.join(boiler, ["source", "g"])
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_boiler"))
    )
    return (
        per_doc.join(hits, "doc_id", "left")
        .select(
            "doc_id",
            "n_tri",
            F.coalesce("n_boiler", F.lit(0)).alias("n_boiler"),
            F.round(
                F.coalesce("n_boiler", F.lit(0)).cast("double") / F.col("n_tri"), 4
            ).alias("boiler_ratio"),
        )
    )


@Q.add(
    "bm25_score",
    """
    WITH toks AS (
      SELECT doc_id, t.tok
      FROM (SELECT doc_id, string_split(text, ' ') AS sp FROM documents),
           unnest(sp) AS t(tok)
    ),
    dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
    stats AS (
      SELECT COUNT(*) AS n_docs,
             CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
      FROM dl
    ),
    tf AS (
      SELECT doc_id, tok, COUNT(*) AS tf FROM toks
      WHERE tok IN ('join', 'hash', 'merge', 'vector')
      GROUP BY doc_id, tok
    ),
    dft AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok)
    SELECT tf.doc_id, tf.tok AS term, tf.tf,
           ((CAST(s.n_docs AS DOUBLE) - CAST(d.df AS DOUBLE) + 0.5)
              / (CAST(d.df AS DOUBLE) + 0.5))
           * ((CAST(tf.tf AS DOUBLE) * 2.2)
              / (CAST(tf.tf AS DOUBLE)
                 + 1.2 * (0.25 + 0.75 * CAST(l.dl AS DOUBLE) / s.avgdl)))
             AS score
    FROM tf
    JOIN dl l ON tf.doc_id = l.doc_id
    JOIN dft d ON tf.tok = d.tok
    CROSS JOIN stats s
    """,
    doc="BM25 relevance of every document against a fixed query term "
    "set (k1=1.2, b=0.75) — the retrieval scorer behind corpus search "
    "and RAG reranking. Uses the ratio form of idf, (N-df+0.5)/(df+0.5) "
    "without log: log is not correctly-rounded IEEE and drifts a ulp "
    "between engines, while +,-,*,/ are exact, so per-(doc,term) rows "
    "of pure arithmetic hash identically (the rarity_score lesson). "
    "Shapes: one explode+groupBy for tf (filter pushed before the "
    "shuffle — only query terms leave the scan), doc lengths from the "
    "same pass, df and the (N, avgdl) scalars are bounded 1-to-4-row "
    "broadcasts; no corpus-wide join.",
)
def bm25_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    terms = ["join", "hash", "merge", "vector"]
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    # ONE doc_id aggregation carries dl AND every per-term tf as
    # conditional counts — the token stream is shuffled once, and no
    # tf⋈dl join exists to re-shuffle it (6 Exchanges -> 3, the two
    # survivors being bounded: the 1-row corpus stats and the
    # n_terms-row df rollup)
    per_doc = toks.groupBy("doc_id").agg(
        F.count("*").alias("dl"),
        *[
            F.count(F.when(F.col("tok") == t, True)).alias(f"tf_{i}")
            for i, t in enumerate(terms)
        ],
    ).persist()  # one row per doc (6 ints): stats, df and the melt all
    # read this cache — without it each consumer re-runs the full
    # token-stream explode+shuffle (3 scans of the corpus at 100 TB)
    stats = per_doc.agg(
        F.count("*").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
    )
    melted = (
        per_doc.select(
            "doc_id",
            "dl",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(t).alias("term"),
                            F.col(f"tf_{i}").alias("tf"),
                        )
                        for i, t in enumerate(terms)
                    ]
                )
            ).alias("s"),
        )
        .select("doc_id", "dl", F.col("s.term").alias("term"), F.col("s.tf").alias("tf"))
        .filter(F.col("tf") > 0)
    )
    dft = melted.groupBy("term").agg(F.count("*").alias("df"))
    return (
        melted.join(F.broadcast(dft), "term")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            "term",
            "tf",
            F.expr(
                "((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)"
                "   / (CAST(df AS DOUBLE) + 0.5))"
                " * ((CAST(tf AS DOUBLE) * 2.2)"
                "   / (CAST(tf AS DOUBLE)"
                "      + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl)))"
            ).alias("score"),
        )
    )


@Q.add(
    "label_weights",
    """
    WITH per_label AS (
      SELECT label, COUNT(*) AS n FROM embeddings GROUP BY label
    ),
    tot AS (
      SELECT CAST(SUM(n) AS BIGINT) AS n_total, COUNT(*) AS n_labels
      FROM per_label
    )
    SELECT p.label, p.n,
           CAST(t.n_total AS DOUBLE)
             / (CAST(t.n_labels AS DOUBLE) * CAST(p.n AS DOUBLE)) AS weight
    FROM per_label p CROSS JOIN tot t
    """,
    doc="inverse-frequency class weights over the embedding labels — "
    "the class-balancing step before training on skewed data (weights "
    "average to 1 across classes, rare labels upweighted). Pure "
    "rational arithmetic (one double division chain over exact integer "
    "counts — no log/pow), so bit-identical across engines. Shapes: "
    "one map-side-combinable label aggregation; the label dimension is "
    "BOUNDED (cardinality of the class space, not the data), so the "
    "totals row derives from it for free and the weight table is a "
    "broadcast-size artifact any training job joins back at zero "
    "shuffle cost.",
)
def label_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings")
    per_label = e.groupBy("label").agg(F.count("*").alias("n"))
    tot = per_label.agg(
        F.sum("n").cast("bigint").alias("n_total"),
        F.count("*").alias("n_labels"),
    )
    return per_label.crossJoin(F.broadcast(tot)).select(
        "label",
        "n",
        (
            F.col("n_total").cast("double")
            / (F.col("n_labels").cast("double") * F.col("n").cast("double"))
        ).alias("weight"),
    )


@Q.add(
    "degree_distribution",
    """
    WITH grams AS (
      SELECT doc_id, DISTINCT_G.g
      FROM (
        SELECT doc_id,
               list_distinct([string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1]
                              FOR i IN range(1, len(string_split(text,' ')))]) AS gs
        FROM documents
      ), unnest(gs) AS DISTINCT_G(g)
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM grams GROUP BY doc_id),
    inter AS MATERIALIZED (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
      FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    pairs AS MATERIALIZED (
      SELECT id_a, id_b
      FROM inter
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
      WHERE inter / (sa.sz + sb.sz - inter) >= 0.2
    ),
    deg AS (
      SELECT node, COUNT(*) AS degree FROM (
        SELECT id_a AS node FROM pairs
        UNION ALL
        SELECT id_b AS node FROM pairs
      ) GROUP BY node
    )
    SELECT degree, COUNT(*) AS n_docs, MIN(node) AS min_doc_id
    FROM deg GROUP BY degree
    """,
    doc="near-dup graph degree distribution: how many documents have k "
    "near-duplicate partners (bigram Jaccard >= 0.2) — the health "
    "metric that decides dedup strategy (a fat tail means hub "
    "templates that salted CC handles; a thin one means pairwise "
    "suffices) and catches crawler loops before they melt a cluster. "
    "Shapes: pairs from the SAME blocked AllPairs/GEMM kernel as "
    "dedup_ngram_jaccard (never naive all-pairs), then degrees in "
    "CLOSED FORM on the collapsed rep graph (operators/dedup."
    "collapsed_degree_nodes): every member of a group of m identical "
    "texts has the identical degree (m-1) + sum of neighbor-group "
    "sizes, so the group contributes m nodes at that degree and its "
    "min member id IS the rep (the group min) — the intra-clique "
    "m^2/2 pair set is never materialized, exactly the pagerank "
    "treatment. The final rollup is one bounded integer aggregation.",
)
def degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import (
        collapsed_degree_nodes,
        ngram_jaccard_pairs_collapsed,
    )

    d = load(spark, sf_dir, "documents", unique=("doc_id",))
    rep_pairs, _members, surv, _collapsed = ngram_jaccard_pairs_collapsed(
        d, n=2, min_jaccard=0.2
    )
    _adj, nodes = collapsed_degree_nodes(rep_pairs, surv)
    return nodes.groupBy(F.col("deg").alias("degree")).agg(
        F.sum("m").alias("n_docs"), F.min("g").alias("min_doc_id")
    )


@Q.add(
    "interleave_shards",
    """
    WITH sidx AS (
      -- non-null dictionary: NULL-source docs drop at the join in
      -- both engines, but a NULL inside the dictionary would shift
      -- every s_idx (Spark sorts NULLS FIRST) and inflate n_sources
      -- (r6 NULL-corpus parity audit)
      SELECT source, ROW_NUMBER() OVER (ORDER BY source) - 1 AS s_idx
      FROM (SELECT DISTINCT source FROM documents
            WHERE source IS NOT NULL)
    ),
    cnt AS (SELECT COUNT(*) AS n_sources FROM sidx),
    ranked AS (
      SELECT doc_id, source,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) - 1
               AS rank_in_source
      FROM documents
    )
    SELECT r.doc_id, r.source, r.rank_in_source,
           r.rank_in_source * c.n_sources + s.s_idx AS position
    FROM ranked r
    JOIN sidx s ON r.source = s.source
    CROSS JOIN cnt c
    """,
    doc="deterministic round-robin interleave of corpus sources into a "
    "single training order — doc k of source j lands at position "
    "k*n_sources + j, so consecutive training batches mix sources "
    "instead of marching through one shard at a time (the data-order "
    "curriculum step before sequence packing). The position is pure "
    "arithmetic on a per-source rank: NO global sort and NO "
    "single-partition window ever touches the fact table — the only "
    "full-data movement is the per-source ROW_NUMBER Exchange, and the "
    "source index / count are bounded-dim broadcasts (20 rows). Gaps "
    "where short sources exhaust are positions without a row — the "
    "order is still total and stable, which is what the trainer needs.",
)
def interleave_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    # non-null shard dictionary (r6 NULL parity; see oracle note)
    srcs = d.select("source").filter(F.col("source").isNotNull()).distinct()
    # the single-partition window runs over the bounded distinct-source
    # dim (20 rows), never the corpus
    sidx = srcs.select(
        "source",
        (F.row_number().over(Window.orderBy("source")) - 1).alias("s_idx"),
    )
    cnt = srcs.agg(F.count("*").alias("n_sources"))
    ranked = d.select(
        "doc_id",
        "source",
        (
            F.row_number().over(
                Window.partitionBy("source").orderBy("doc_id")
            )
            - 1
        ).alias("rank_in_source"),
    )
    return (
        ranked.join(F.broadcast(sidx), "source")
        .crossJoin(F.broadcast(cnt))
        .select(
            "doc_id",
            "source",
            "rank_in_source",
            (
                F.col("rank_in_source") * F.col("n_sources") + F.col("s_idx")
            ).alias("position"),
        )
    )


@Q.add(
    "quality_gopher",
    """
    WITH feats AS (
      SELECT doc_id,
             len(sp) AS n_words,
             list_sum(list_transform(sp, w -> len(w))) AS char_sum,
             len(list_filter(sp, w -> regexp_matches(w, '[A-Za-z]')))
               AS n_alpha,
             len(list_filter(sp, w -> w IN ('the','a','of','to','and',
                                            'in','is','for')))
               AS n_stop
      FROM (SELECT doc_id, string_split(text, ' ') AS sp FROM documents)
    )
    SELECT doc_id, n_words,
           ROUND(CAST(char_sum AS DOUBLE) / n_words, 4) AS mean_word_len,
           ROUND(CAST(n_alpha AS DOUBLE) / n_words, 4) AS alpha_ratio,
           ROUND(CAST(n_stop AS DOUBLE) / n_words, 4) AS stop_ratio,
           CAST(n_words BETWEEN 50 AND 100000 AS INT) AS ok_len,
           CAST(char_sum * 1 BETWEEN 3 * n_words AND 10 * n_words AS INT)
             AS ok_word_len,
           CAST(n_alpha * 10 >= n_words * 8 AS INT) AS ok_alpha,
           CAST(n_stop * 100 >= n_words * 2 AS INT) AS ok_stop,
           CAST(n_words BETWEEN 50 AND 100000
                AND char_sum * 1 BETWEEN 3 * n_words AND 10 * n_words
                AND n_alpha * 10 >= n_words * 8
                AND n_stop * 100 >= n_words * 2 AS INT) AS passes
    FROM feats
    """,
    doc="the Gopher/MassiveText repetition-free quality rules (Rae et "
    "al. 2021, Table A1 — public), adapted to the fixture corpus: word "
    "count in [50, 100k], mean word length in [3, 10], >=80% words "
    "containing an alphabetic char, >=2% stopwords. Every rule "
    "boundary is evaluated in INTEGER arithmetic (char_sum >= 3*n, "
    "n_alpha*10 >= n*8, ...) so a ratio landing exactly on a "
    "threshold can never flip between engines — the reported ratios "
    "are display-only ROUND(,4) doubles. Shapes: one row-local pass "
    "over the token array per document, zero shuffles, zero Python; "
    "at 100 TB this is a pure map stage fused into the scan.",
)
def quality_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    sp = F.split("text", " ")
    feats = d.select(
        "doc_id",
        F.size(sp).alias("n_words"),
        F.aggregate(
            F.transform(sp, lambda w: F.length(w)),
            F.lit(0),
            lambda a, x: a + x,
        ).alias("char_sum"),
        F.size(F.filter(sp, lambda w: w.rlike("[A-Za-z]"))).alias("n_alpha"),
        F.size(
            F.filter(
                sp,
                lambda w: w.isin(
                    "the", "a", "of", "to", "and", "in", "is", "for"
                ),
            )
        ).alias("n_stop"),
    )
    ok_len = F.col("n_words").between(50, 100000)
    ok_word_len = (F.col("char_sum") * 1).between(
        3 * F.col("n_words"), 10 * F.col("n_words")
    )
    ok_alpha = F.col("n_alpha") * 10 >= F.col("n_words") * 8
    ok_stop = F.col("n_stop") * 100 >= F.col("n_words") * 2
    return feats.select(
        "doc_id",
        "n_words",
        F.round(F.col("char_sum").cast("double") / F.col("n_words"), 4).alias(
            "mean_word_len"
        ),
        F.round(F.col("n_alpha").cast("double") / F.col("n_words"), 4).alias(
            "alpha_ratio"
        ),
        F.round(F.col("n_stop").cast("double") / F.col("n_words"), 4).alias(
            "stop_ratio"
        ),
        ok_len.cast("int").alias("ok_len"),
        ok_word_len.cast("int").alias("ok_word_len"),
        ok_alpha.cast("int").alias("ok_alpha"),
        ok_stop.cast("int").alias("ok_stop"),
        (ok_len & ok_word_len & ok_alpha & ok_stop).cast("int").alias("passes"),
    )


@Q.add(
    "split_kfold",
    """
    WITH folds AS (
      SELECT lang,
             (strpos('0123456789abcdef',
                     substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) % 5
               AS fold,
             n_chars
      FROM documents
    )
    SELECT lang, fold, COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM folds
    GROUP BY lang, fold
    """,
    doc="deterministic 5-fold cross-validation assignment keyed on a "
    "content hash (md5 hex digit -> fold via its position in the hex "
    "alphabet, mod 5) with per-(lang, fold) size audit — the "
    "leakage-safe k-fold split: a document lands in the same fold on "
    "every engine, every run, every partitioning, so no fold ever "
    "sees its own validation data. Same stability contract as "
    "split_train_val, generalized from a binary split to k buckets. "
    "Shapes: fold is a row-local expression fused into the scan; ONE "
    "map-side-combined aggregation on a 25-key space.",
)
def split_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    fold = (
        F.instr(
            F.lit("0123456789abcdef"),
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1),
        )
        - 1
    ) % 5
    return (
        d.select("lang", fold.alias("fold"), "n_chars")
        .groupBy("lang", "fold")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
    )


@Q.add(
    "sparse_cosine_pairs",
    """
    WITH tf AS (
      SELECT doc_id, t.tok, COUNT(*) AS tf
      FROM (SELECT doc_id, string_split(text, ' ') AS sp FROM documents),
           unnest(sp) AS t(tok)
      GROUP BY doc_id, t.tok
    ),
    rare AS (
      SELECT tok FROM tf GROUP BY tok HAVING COUNT(*) <= 40
    ),
    post AS (SELECT tf.doc_id, tf.tok, tf.tf FROM tf JOIN rare USING (tok)),
    norms AS (
      SELECT doc_id, CAST(SUM(tf * tf) AS BIGINT) AS s2
      FROM post GROUP BY doc_id
    ),
    dots AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(SUM(a.tf * b.tf) AS BIGINT) AS dot
      FROM post a JOIN post b ON a.tok = b.tok AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT id_a, id_b, dot,
           ROUND(CAST(dot AS DOUBLE)
                 / sqrt(CAST(na.s2 * nb.s2 AS DOUBLE)), 4) AS sim
    FROM dots
    JOIN norms na ON na.doc_id = id_a
    JOIN norms nb ON nb.doc_id = id_b
    WHERE 4 * dot * dot >= na.s2 * nb.s2
    """,
    doc="sparse cosine similarity between documents over their "
    "term-frequency vectors, computed through an inverted index "
    "(postings self-join on shared terms — never doc-by-doc pairs) "
    "with the classic hot-term cap: terms appearing in > 40 documents "
    "are dropped from the index, which is what bounds every posting "
    "list and keeps the per-term join quadratic only in a constant. "
    "The dot product and norms are INTEGER sums, and the >= 0.5 "
    "threshold is the integer identity 4*dot^2 >= s2a*s2b, so no "
    "float ever decides membership; the reported sim is one "
    "correctly-rounded sqrt + division on exact integers — "
    "bit-identical across engines. Complements dedup_ngram_jaccard "
    "(set overlap) and dedup_embed_cosine (dense vectors) with the "
    "third classic similarity representation: weighted sparse bags.",
)
def sparse_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    tf = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("tf"))
    )
    rare = (
        tf.groupBy("tok")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") <= 40)
        .select("tok")
    )
    # r11 (guide §2.4/§2.5, the dedup_containment shape): rare tokens
    # carry <= 40 postings, so the i<j pairs generate ROW-LOCALLY from
    # each token's sorted (doc_id, tf) posting list instead of the
    # posting self-join — no second posting shuffle, no join machinery,
    # and only the i<j half is ever produced (the join emitted all
    # ordered pairs and filtered half away). The posting-list rollup
    # reuses the tok partitioning the rare join already established.
    # The persist STAYS: norms and the posting-list rollup both
    # consume post, and the executed plan shows exchange reuse does
    # NOT unify the two branches (filter pushdown specializes one tf
    # subtree — the perplexity_unigram trap), so without the cache the
    # tf rollup would run twice.
    post = tf.join(rare, "tok").persist()
    # eager fill: both consumers scan post inside one job; a lazy
    # persist races and replays the tf/df lineage per branch
    post.count()
    norms = post.groupBy("doc_id").agg(
        F.sum(F.col("tf") * F.col("tf")).cast("bigint").alias("s2")
    )
    plist = post.groupBy("tok").agg(
        F.sort_array(F.collect_list(F.struct("doc_id", "tf"))).alias("ps")
    )
    # all i<j pairs within one posting list: doc_ids are unique within
    # a token (tf is grouped on (doc_id, tok)) and sort_array orders by
    # doc_id, so suffix pairing yields exactly the id_a < id_b set
    pair_structs = F.flatten(
        F.transform(
            F.col("ps"),
            lambda x, i: F.transform(
                F.slice(F.col("ps"), i + 2, F.size(F.col("ps"))),
                lambda y: F.struct(
                    x["doc_id"].alias("id_a"),
                    y["doc_id"].alias("id_b"),
                    (x["tf"] * y["tf"]).alias("p"),
                ),
            ),
        )
    )
    dots = (
        plist.select(F.explode(pair_structs).alias("q"))
        .select("q.id_a", "q.id_b", "q.p")
        .groupBy("id_a", "id_b")
        .agg(F.sum("p").cast("bigint").alias("dot"))
    )
    na = norms.select(F.col("doc_id").alias("id_a"), F.col("s2").alias("s2_a"))
    nb = norms.select(F.col("doc_id").alias("id_b"), F.col("s2").alias("s2_b"))
    return (
        dots.join(na, "id_a")
        .join(nb, "id_b")
        .filter(
            4 * F.col("dot") * F.col("dot") >= F.col("s2_a") * F.col("s2_b")
        )
        .select(
            "id_a",
            "id_b",
            "dot",
            F.round(
                F.col("dot").cast("double")
                / F.sqrt((F.col("s2_a") * F.col("s2_b")).cast("double")),
                4,
            ).alias("sim"),
        )
    )


@Q.add(
    "graph_pagerank",
    """
    WITH grams AS (
      SELECT doc_id, DISTINCT_G.g
      FROM (
        SELECT doc_id,
               list_distinct([string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1]
                              FOR i IN range(1, len(string_split(text,' ')))]) AS gs
        FROM documents
      ), unnest(gs) AS DISTINCT_G(g)
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM grams GROUP BY doc_id),
    inter AS MATERIALIZED (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
      FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    pairs AS MATERIALIZED (
      SELECT id_a, id_b
      FROM inter
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
      WHERE inter / (sa.sz + sb.sz - inter) >= 0.2
    ),
    edges AS MATERIALIZED (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION ALL
      SELECT id_b AS src, id_a AS dst FROM pairs
    ),
    deg AS MATERIALIZED (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
    r0 AS (SELECT src AS node, CAST(1000000000000 AS BIGINT) AS r FROM deg),
    r1 AS (
      SELECT e.dst AS node,
             CAST(150000000000 + (85 * SUM(r.r // d.deg)) // 100
                  AS BIGINT) AS r
      FROM edges e
      JOIN r0 r ON r.node = e.src
      JOIN deg d ON d.src = e.src
      GROUP BY e.dst
    ),
    r2 AS (
      SELECT e.dst AS node,
             CAST(150000000000 + (85 * SUM(r.r // d.deg)) // 100
                  AS BIGINT) AS r
      FROM edges e
      JOIN r1 r ON r.node = e.src
      JOIN deg d ON d.src = e.src
      GROUP BY e.dst
    ),
    r3 AS (
      SELECT e.dst AS node,
             CAST(150000000000 + (85 * SUM(r.r // d.deg)) // 100
                  AS BIGINT) AS r
      FROM edges e
      JOIN r2 r ON r.node = e.src
      JOIN deg d ON d.src = e.src
      GROUP BY e.dst
    )
    SELECT node, r AS rank_fp FROM r3
    """,
    doc="PageRank (damping 0.85, 3 unrolled power iterations) over the "
    "near-dup document graph — ranks the hub documents inside "
    "duplicate neighborhoods, the centrality signal used to pick "
    "canonical survivors and to spot crawler-loop templates. The "
    "entire iteration runs in FIXED-POINT int64 (rank scale 1e12; "
    "0.85*x as (85*x) DIV 100, share as rank DIV degree) so every "
    "intermediate is exact and order-independent — float PageRank "
    "can never hash-match across engines, integer PageRank must. "
    "Shapes: edges from the SAME blocked Jaccard kernel as "
    "dedup_ngram_jaccard; each iteration is one equi-join + one "
    "map-side-combinable integer aggregation on the edge list "
    "(E rows, not N^2); 3 iterations = 3 bounded shuffles, the "
    "standard Pregel-style plan GraphX/GraphFrames run, expressed in "
    "pure DataFrame ops. Undirected graph => no dangling-mass term.",
)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import ngram_jaccard_pairs_collapsed

    d = load(spark, sf_dir, "documents", unique=("doc_id",))
    # collapsed iteration (r5 skew audit): members of a group of
    # identical texts have IDENTICAL neighborhoods, hence identical
    # ranks at every step — so the fixed-point runs on the rep graph
    # with multiplicity weights and expands once at the end. Exact:
    # the integer floor-div happens per-NODE (r DIV deg) before the
    # edge summation, so k identical neighbors contribute exactly
    # k * (r DIV deg), and a member's degree is (m-1) intra-group
    # neighbors + the external multiplicity mass.
    rep_pairs, members, surv, _collapsed = ngram_jaccard_pairs_collapsed(d, n=2, min_jaccard=0.2)
    # shared closed-form degree construction (degree_distribution uses
    # the same helper); persist_adj because the fixed point below
    # re-scans adj once per iteration — the one caller that earns the
    # cache entry (ADVICE r05)
    from ..operators.dedup import collapsed_degree_nodes

    adj, nodes = collapsed_degree_nodes(rep_pairs, surv, persist_adj=True)
    # persist + EAGER fill: the rounds below read nodes through several
    # branches of the one final job — a lazy persist races and replays
    # the ext aggregation per branch (ADVICE r05; same defect class as
    # the sig kernels)
    nodes = nodes.persist()
    nodes.count()
    # own-mass as weighted SELF-EDGES (r10): each node's (m-1)*c
    # intra-group mass is exactly an adjacency row (g, g, m_h=m-1), so
    # the fixed point becomes ONE join + agg per round over the
    # augmented adjacency instead of the old own UNION cross shape.
    # contrib is then consumed by a single branch per round, which
    # removes the per-round eager checkpoint (its job + block write)
    # the two-branch scan used to require, and the rank lineage stays
    # LINEAR in rounds (each frame referenced once). Every node in
    # `nodes` carries its self-edge (m >= 1, weight m-1 >= 0), so the
    # grouping domain — and the integer sums — are unchanged. contrib
    # also drops `m` from its columns: narrower exchange (guide §2.3).
    adj2 = adj.select("g", "h", "m_h").unionByName(
        nodes.select(
            "g", F.col("g").alias("h"), (F.col("m") - 1).alias("m_h")
        )
    )
    ranks = nodes.select("g", F.lit(1000000000000).cast("bigint").alias("r"))
    for _ in range(3):
        contrib = nodes.join(ranks, "g").select(
            F.col("g").alias("h"), F.expr("r DIV deg").alias("c")
        )
        ranks = (
            adj2.join(contrib, "h")
            .select("g", (F.col("m_h") * F.col("c")).alias("mass"))
            .groupBy("g")
            .agg(
                (
                    F.lit(150000000000) + F.expr("(85 * SUM(mass)) DIV 100")
                ).alias("r")
            )
        )
    return members.join(ranks.select(F.col("g").alias("rep"), "r"), "rep").select(
        F.col("id").alias("node"), F.col("r").alias("rank_fp")
    )


@Q.add(
    "compact_binpack",
    """
    WITH cum AS (
      SELECT doc_id, n_chars,
             SUM(n_chars) OVER (ORDER BY doc_id
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS cum
      FROM documents
    )
    SELECT CAST((cum - n_chars) // 20000 AS BIGINT) AS bin,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
    FROM cum
    GROUP BY bin
    """,
    doc="small-file compaction / shard-writing planner: documents in "
    "stable doc_id order are packed into contiguous ~20 KB output "
    "bins by their running byte offset (bin = floor(start_offset / "
    "target)) — the table-maintenance pass that turns millions of "
    "tiny files into right-sized ones, and the same math "
    "shard_plan_tokens uses for token budgets, here on bytes. The "
    "running offset comes from operators/prefix.global_cumsum — bin "
    "-> parallel local cumsum -> broadcast bin offsets — so NO "
    "single-task global window touches the corpus at any scale; the "
    "rollup after it is one bounded integer aggregation.",
)
def compact_binpack(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.prefix import global_cumsum

    d = load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    cum = global_cumsum(d, order_col="doc_id", value_col="n_chars")
    return (
        cum.select(
            "doc_id",
            "n_chars",
            F.expr("(cum - n_chars) DIV 20000").alias("bin"),
        )
        .groupBy("bin")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )


@Q.add(
    "perplexity_unigram",
    """
    WITH dt AS (
      SELECT doc_id, t.tok, COUNT(*) AS c
      FROM (SELECT doc_id, string_split(text, ' ') AS sp FROM documents),
           unnest(sp) AS t(tok)
      GROUP BY doc_id, t.tok
    ),
    corpus AS (SELECT tok, CAST(SUM(c) AS BIGINT) AS ct FROM dt GROUP BY tok),
    tot AS (SELECT CAST(SUM(ct) AS BIGINT) AS n FROM corpus),
    lp AS (
      SELECT tok, log2(CAST(ct AS DOUBLE) / (SELECT CAST(n AS DOUBLE) FROM tot)) AS lp
      FROM corpus
    ),
    per AS (
      SELECT doc_id,
             list_sum(list(c * lp ORDER BY dt.tok)) AS s,
             CAST(SUM(c) AS BIGINT) AS n
      FROM dt JOIN lp USING (tok)
      GROUP BY doc_id
    )
    SELECT doc_id, n AS n_tokens,
           ROUND(-s / CAST(n AS DOUBLE), 4) AS xent_unigram
    FROM per
    """,
    doc="per-document cross-entropy under the corpus unigram LM "
    "(avg -log2 p(token)) — the cheap perplexity proxy CCNet-style "
    "pipelines use to rank documents by 'LM surprise' before a real "
    "LM scores a shortlist. Determinism: the only float accumulation "
    "is the per-doc sum of c*log2(p), folded over the token list "
    "SORTED lexicographically in both engines (sort_array+aggregate "
    "vs ordered list()+list_sum) — identical addition order, then one "
    "final ROUND(4). Shapes: token counts shuffle on (doc_id,tok); "
    "the vocab logprob table joins back on tok (plain equi-join — at "
    "100 TB the vocab is still ~millions of rows, shuffle-joinable); "
    "the corpus total is a 1-row broadcast, never a driver constant.",
)
def perplexity_unigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    # r11 note (VERDICT r10 item 5 "share the token-count exchange"):
    # examined and left at the r10 shape. The static plan prints 7
    # Exchanges because `explain` re-prints the dt subtree per
    # consumer, but the EXECUTED plan (plans/r11/
    # perplexity_unigram_before_final.txt) materializes only FOUR
    # shuffles — (doc_id,tok) rollup, corpus tok rollup, the 1-row
    # total, the per-doc fold — with the duplicates served by AQE
    # stage reuse (2 ReusedExchange). An explicit repartition("tok")
    # meant to share the corpus/join exchanges was built and measured:
    # ColumnPruning specializes the corpus branch BELOW the
    # repartition (its copy aggregates to [tok, c] while the join's
    # keeps doc_id), so the two repartition stages are not canonically
    # equal, nothing reuses, and the runtime shuffle count got WORSE
    # (5 materialized vs 4) for a within-noise A/B delta — reverted.
    dt = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("c"))
    )
    corpus = dt.groupBy("tok").agg(F.sum("c").cast("bigint").alias("ct"))
    tot = corpus.agg(F.sum("ct").cast("bigint").alias("n"))
    lp = corpus.crossJoin(F.broadcast(tot)).select(
        "tok",
        F.log2(F.col("ct").cast("double") / F.col("n").cast("double")).alias(
            "lp"
        ),
    )
    per = (
        dt.join(lp, "tok")
        .groupBy("doc_id")
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.col("tok"), (F.col("c") * F.col("lp")).alias("cl")
                    )
                )
            ).alias("arr"),
            F.sum("c").cast("bigint").alias("n"),
        )
    )
    s = F.aggregate("arr", F.lit(0.0), lambda acc, x: acc + x["cl"])
    return per.select(
        "doc_id",
        F.col("n").alias("n_tokens"),
        F.round(-s / F.col("n").cast("double"), 4).alias("xent_unigram"),
    )


@Q.add(
    "basket_pairs_lift",
    """
    WITH basket AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    tot AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM basket),
    item AS (
      SELECT l_partkey, COUNT(*) AS cnt FROM basket
      GROUP BY l_partkey HAVING COUNT(*) >= 15
    ),
    freq AS (
      SELECT b.l_orderkey, b.l_partkey
      FROM basket b JOIN item USING (l_partkey)
    ),
    pairs AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
             COUNT(*) AS pair_n
      FROM freq a
      JOIN freq b ON a.l_orderkey = b.l_orderkey
                 AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING COUNT(*) >= 3
    )
    SELECT part_a, part_b, pair_n,
           ROUND(CAST(pair_n AS DOUBLE) / n_orders, 6) AS support,
           ROUND(CAST(pair_n AS DOUBLE) / ia.cnt, 6) AS confidence,
           ROUND(CAST(pair_n * n_orders AS DOUBLE)
                 / CAST(ia.cnt * ib.cnt AS DOUBLE), 6) AS lift
    FROM pairs
    JOIN item ia ON ia.l_partkey = part_a
    JOIN item ib ON ib.l_partkey = part_b
    CROSS JOIN tot
    """,
    doc="market-basket association mining (support / confidence / lift "
    "over item pairs co-purchased in an order) with the Apriori "
    "monotonicity prune: items below min-support (15 orders) are "
    "dropped BEFORE pair generation, and pairs are generated PER "
    "BASKET from the sorted frequent-item list (i<j combinations via "
    "a row-local transform), never by a self-join on l_orderkey — the "
    "r10 verdict's skew hazard: a hot order (the basket analogue of "
    "the boilerplate clique) made one join key quadratic with no cap, "
    "and the join paid its own exchanges. Per-row work is bounded by "
    "the frequent-item basket width squared. All counts are integers; "
    "support/confidence/lift are single divisions of exact integer "
    "products, ROUND(6). Shapes: ONE shuffle to the per-order grain "
    "(collect_set = the DISTINCT), one for item counts (small -> "
    "broadcast back; the frequent filter re-uses the order "
    "partitioning, so the re-group after it is exchange-free), one "
    "for the pair rollup, and the metric joins broadcast the "
    "frequent-item table and the 1-row order total.",
)
def basket_pairs_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    # one exchange to the per-order grain; collect_set IS the old
    # SELECT DISTINCT (l_orderkey, l_partkey) — per-order dedup rides
    # the same shuffle. NULL semantics match the old join shape:
    # collect_set drops NULL partkeys (they never survived the
    # equi-joins), the NULL-orderkey group is excluded from tot
    # (COUNT(DISTINCT l_orderkey) skipped NULLs) and from pair
    # generation (the orderkey self-join dropped it) but its items DO
    # feed the item counts, exactly like the old basket frame.
    orders = li.groupBy("l_orderkey").agg(
        F.collect_set("l_partkey").alias("items")
    )
    tot = orders.agg(F.count("l_orderkey").alias("n_orders"))
    item = (
        orders.select(F.explode("items").alias("l_partkey"))
        .groupBy("l_partkey")
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") >= 15)
    )
    # drop infrequent items inside each basket: explode rides the
    # order partitioning, the broadcast join preserves it, and the
    # re-group needs NO new exchange (hashpartitioning(l_orderkey)
    # satisfies the grouping). No NULL-orderkey filter HERE: a filter
    # on the grouping key would push below the rollup into the scan
    # and specialize this branch's subtree away from item's, breaking
    # the shared (l_orderkey) exchange (AQE stage reuse keys on the
    # canonical subtree) — the NULL basket is excluded inside the
    # pair expression below instead.
    baskets = (
        orders.select("l_orderkey", F.explode("items").alias("l_partkey"))
        .join(F.broadcast(item.select("l_partkey")), "l_partkey")
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_list("l_partkey")).alias("items"))
    )
    # i<j pair combinations per basket, row-locally: items is sorted
    # ascending and distinct, so pairing each element with its suffix
    # enumerates exactly the part_a < part_b pairs the self-join
    # built. The NULL-orderkey basket (which the old equi-join
    # excluded) yields a NULL array, which explode drops.
    pair_structs = F.when(
        F.col("l_orderkey").isNotNull(),
        F.flatten(
            F.transform(
                F.col("items"),
                lambda x, i: F.transform(
                    F.slice(F.col("items"), i + 2, F.size(F.col("items"))),
                    lambda y: F.struct(
                        x.alias("part_a"), y.alias("part_b")
                    ),
                ),
            )
        ),
    )
    pairs = (
        baskets.select(F.explode(pair_structs).alias("p"))
        .select("p.part_a", "p.part_b")
        .groupBy("part_a", "part_b")
        .agg(F.count("*").alias("pair_n"))
        .filter(F.col("pair_n") >= 3)
    )
    ia = item.select(
        F.col("l_partkey").alias("part_a"), F.col("cnt").alias("cnt_a")
    )
    ib = item.select(
        F.col("l_partkey").alias("part_b"), F.col("cnt").alias("cnt_b")
    )
    return (
        pairs.join(F.broadcast(ia), "part_a")
        .join(F.broadcast(ib), "part_b")
        .crossJoin(F.broadcast(tot))
        .select(
            "part_a",
            "part_b",
            "pair_n",
            F.round(
                F.col("pair_n").cast("double") / F.col("n_orders"), 6
            ).alias("support"),
            F.round(
                F.col("pair_n").cast("double") / F.col("cnt_a"), 6
            ).alias("confidence"),
            F.round(
                (F.col("pair_n") * F.col("n_orders")).cast("double")
                / (F.col("cnt_a") * F.col("cnt_b")).cast("double"),
                6,
            ).alias("lift"),
        )
    )


@Q.add(
    "tokenizer_pair_counts",
    """
    WITH words AS (
      SELECT t.w FROM (SELECT string_split(text, ' ') AS sp FROM documents),
           unnest(sp) AS t(w)
      WHERE len(t.w) >= 2
    ),
    pairs AS (
      SELECT u.p
      FROM (SELECT [substr(w, i, 2) FOR i IN range(1, len(w))] AS ps
            FROM words),
           unnest(ps) AS u(p)
    )
    SELECT p AS pair, COUNT(*) AS n
    FROM pairs GROUP BY p
    ORDER BY n DESC, pair
    LIMIT 100
    """,
    doc="corpus-wide adjacent-character-pair frequencies inside words, "
    "top-100 — exactly the statistic a BPE tokenizer trainer computes "
    "to pick its first merge (and re-computes per merge round); also "
    "the char-bigram table n-gram language-ID models train on. "
    "Integer counts only; top-k is fully tie-broken (n DESC, pair). "
    "Shapes: the pair explode is a row-local transform over "
    "sequence(1, len-1) fused into the scan stage; ONE "
    "map-side-combined aggregation on a bounded key space "
    "(alphabet^2), then a 100-row TakeOrdered — no global sort of "
    "the counts table.",
)
def tokenizer_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    words = d.select(F.explode(F.split("text", " ")).alias("w")).filter(
        F.length("w") >= 2
    )
    pairs = words.select(
        F.explode(
            F.expr(
                "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"
            )
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "pair")
        .limit(100)
    )


@Q.add(
    "feature_hashing",
    """
    WITH toks AS (
      SELECT doc_id, t.tok
      FROM (SELECT doc_id, string_split(text, ' ') AS sp FROM documents),
           unnest(sp) AS t(tok)
    )
    SELECT doc_id,
           (16 * (strpos('0123456789abcdef', substr(md5(tok), 1, 1)) - 1)
            + (strpos('0123456789abcdef', substr(md5(tok), 2, 1)) - 1)) % 64
             AS bucket,
           COUNT(*) AS n
    FROM toks
    GROUP BY doc_id, bucket
    """,
    doc="hashing-trick featurization (Weinberger et al.): every token "
    "maps to one of 64 buckets via two md5 hex digits (md5 is the one "
    "hash both engines spell identically), yielding a fixed-width "
    "sparse bag-of-words per document with NO vocab table to build, "
    "broadcast, or keep consistent across shards — the property that "
    "makes the trick the default featurizer at 100 TB. Integer "
    "counts; bucket is a row-local expression fused into the scan; "
    "ONE map-side-combined aggregation on (doc_id, bucket).",
)
def feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")

    def hexpos(i: int):
        return (
            F.instr(
                F.lit("0123456789abcdef"),
                F.substring(F.md5(F.col("tok")), i, 1),
            )
            - 1
        )

    return (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .select("doc_id", ((16 * hexpos(1) + hexpos(2)) % 64).alias("bucket"))
        .groupBy("doc_id", "bucket")
        .agg(F.count("*").alias("n"))
    )


@Q.add(
    "one_hot_encode",
    """
    SELECT doc_id,
           CAST(lang = 'en' AS INT) AS lang_en,
           CAST(lang = 'de' AS INT) AS lang_de,
           CAST(lang = 'es' AS INT) AS lang_es,
           CAST(lang = 'fr' AS INT) AS lang_fr,
           CAST(lang = 'zh' AS INT) AS lang_zh,
           CAST(lang NOT IN ('en','de','es','fr','zh') AS INT) AS lang_other
    FROM documents
    """,
    doc="one-hot encoding of a low-cardinality categorical into fixed "
    "indicator columns with an explicit 'other' catch-all — the "
    "standard tabular-ML featurizer. The category list is DECLARED "
    "(not discovered at plan time), so the schema is stable across "
    "shards and days — the property that matters in production; a "
    "discovery pass would be one tiny distinct-agg. Pure row-local "
    "projection fused into the scan: zero shuffles, zero Python.",
)
def one_hot_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    known = ["en", "de", "es", "fr", "zh"]
    cols = [(F.col("lang") == k).cast("int").alias(f"lang_{k}") for k in known]
    return d.select(
        "doc_id",
        *cols,
        (~F.col("lang").isin(known)).cast("int").alias("lang_other"),
    )


@Q.add(
    "split_grouped",
    """
    WITH tagged AS (
      SELECT source, n_chars,
             CASE WHEN (strpos('0123456789abcdef',
                               substr(md5(source), 1, 1)) - 1) % 10 < 8
                  THEN 'train' ELSE 'holdout' END AS split
      FROM documents
    )
    SELECT split, COUNT(DISTINCT source) AS n_sources,
           COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM tagged GROUP BY split
    """,
    doc="leakage-safe GROUP-level train/holdout split: the hash is taken "
    "on the source (group) key, not the row, so every document from "
    "one source lands in the same split — the guard against "
    "near-duplicate leakage across splits that a row-hash split "
    "(split_train_val) cannot give. Same md5-hex-digit determinism "
    "contract as split_kfold: stable across engines, runs, and "
    "partitionings. One map-side-combined aggregation on a 2-key "
    "space; the split tag is a row-local expression.",
)
def split_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    digit = (
        F.instr(
            F.lit("0123456789abcdef"),
            F.substring(F.md5(F.col("source")), 1, 1),
        )
        - 1
    )
    return (
        d.select(
            "source",
            "n_chars",
            F.when((digit % 10) < 8, "train")
            .otherwise("holdout")
            .alias("split"),
        )
        .groupBy("split")
        .agg(
            F.countDistinct("source").alias("n_sources"),
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
    )


@Q.add(
    "robust_scaler",
    """
    WITH f AS (
      SELECT lang,
             quantile_cont(n_chars, 0.25) AS q1,
             quantile_cont(n_chars, 0.50) AS med,
             quantile_cont(n_chars, 0.75) AS q3
      FROM documents GROUP BY lang
      HAVING quantile_cont(n_chars, 0.75) > quantile_cont(n_chars, 0.25)
    )
    SELECT d.doc_id, d.lang,
           ROUND((d.n_chars - med) / (q3 - q1), 4) AS len_robust
    FROM documents d JOIN f ON d.lang = f.lang
    """,
    doc="robust (median/IQR) feature scaling of doc length within "
    "language — the outlier-immune alternative to feature_zscore's "
    "mean/std standardization (one pathological 100 MB doc cannot "
    "drag the scale). Quartiles are exact type-7 interpolation "
    "(Spark percentile() == DuckDB quantile_cont, the "
    "agg_percentiles identity); the scale expression is spelled "
    "identically in both engines, ROUND(4); zero-IQR groups are "
    "excluded up front so no division by zero crosses an engine "
    "boundary. Shapes: per-lang fences are a bounded rollup "
    "broadcast back onto the fact side — zero fact-table shuffle; "
    "at 100 TB swap percentile for percentile_approx, same "
    "expression.",
)
def robust_scaler(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    f = (
        d.groupBy("lang")
        .agg(
            F.expr("percentile(n_chars, 0.25)").alias("q1"),
            F.expr("percentile(n_chars, 0.50)").alias("med"),
            F.expr("percentile(n_chars, 0.75)").alias("q3"),
        )
        .filter(F.col("q3") > F.col("q1"))
    )
    return (
        d.join(F.broadcast(f), "lang")
        .select(
            "doc_id",
            "lang",
            F.round(
                (F.col("n_chars") - F.col("med")) / (F.col("q3") - F.col("q1")),
                4,
            ).alias("len_robust"),
        )
    )


@Q.add(
    "zipf_fit",
    """
    WITH freq AS (
      SELECT t.tok, COUNT(*) AS c
      FROM (SELECT string_split(text, ' ') AS sp FROM documents),
           unnest(sp) AS t(tok)
      GROUP BY t.tok
    ),
    ranked AS (
      SELECT c, row_number() OVER (ORDER BY c DESC, tok) AS r FROM freq
    ),
    fp AS (
      SELECT CAST(ROUND(ln(CAST(r AS DOUBLE)) * 1000000) AS BIGINT) AS x,
             CAST(ROUND(ln(CAST(c AS DOUBLE)) * 1000000) AS BIGINT) AS y,
             CAST(ROUND(ln(CAST(r AS DOUBLE)) * ln(CAST(c AS DOUBLE))
                        * 1000000) AS BIGINT) AS xy,
             CAST(ROUND(ln(CAST(r AS DOUBLE)) * ln(CAST(r AS DOUBLE))
                        * 1000000) AS BIGINT) AS xx
      FROM ranked
    ),
    s AS (
      SELECT COUNT(*) AS n,
             CAST(SUM(x) AS DOUBLE) / 1000000 AS sx,
             CAST(SUM(y) AS DOUBLE) / 1000000 AS sy,
             CAST(SUM(xy) AS DOUBLE) / 1000000 AS sxy,
             CAST(SUM(xx) AS DOUBLE) / 1000000 AS sxx
      FROM fp
    )
    SELECT n AS n_vocab,
           ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 4) AS slope,
           ROUND((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx)
                 / n, 4) AS intercept
    FROM s
    """,
    doc="Zipf's-law fit: OLS slope/intercept of ln(freq) on ln(rank) "
    "over the corpus vocabulary — the corpus-health diagnostic "
    "(natural text ~ -1; template/boilerplate corpora bend the "
    "curve). Token rank comes from operators/prefix.global_cumsum "
    "over (-freq, tok) — a distributed row_number, no one-task "
    "window over the vocab; the oracle's row_number() is the "
    "semantic twin. The regression moments are rounded PER ROW to "
    "1e-6 fixed-point int64 and summed EXACTLY (order-independent "
    "integer sums — float moment sums would be partition-order "
    "dependent), with the slope/intercept derived in one identical "
    "double expression at the end, ROUND(4). Shapes: one vocab "
    "shuffle, one prefix-sum pass, one 1-row moment rollup.",
)
def zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.prefix import global_cumsum

    d = load(spark, sf_dir, "documents")
    freq = (
        d.select(F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("c"))
    )
    ranked = global_cumsum(
        freq.withColumn("negc", -F.col("c")).withColumn("one", F.lit(1)),
        order_col="negc",
        value_col="one",
        out_col="r",
        tiebreak_col="tok",
    )
    lr = F.log(F.col("r").cast("double"))
    lc = F.log(F.col("c").cast("double"))
    fp = ranked.select(
        F.round(lr * 1000000).cast("bigint").alias("x"),
        F.round(lc * 1000000).cast("bigint").alias("y"),
        F.round(lr * lc * 1000000).cast("bigint").alias("xy"),
        F.round(lr * lr * 1000000).cast("bigint").alias("xx"),
    )
    s = fp.agg(
        F.count("*").alias("n"),
        (F.sum("x").cast("double") / 1000000).alias("sx"),
        (F.sum("y").cast("double") / 1000000).alias("sy"),
        (F.sum("xy").cast("double") / 1000000).alias("sxy"),
        (F.sum("xx").cast("double") / 1000000).alias("sxx"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx = F.col("sxy"), F.col("sxx")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return s.select(
        n.alias("n_vocab"),
        F.round(slope, 4).alias("slope"),
        F.round((sy - slope * sx) / n, 4).alias("intercept"),
    )


@Q.add(
    "weighted_sample_det",
    """
    WITH h AS (
      SELECT doc_id, lang, n_chars,
             16 * (strpos('0123456789abcdef',
                          substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1)
             + (strpos('0123456789abcdef',
                       substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1)
               AS h256
      FROM documents
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN h256 * 2 < n_chars THEN 1 ELSE 0 END)
                AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN h256 * 2 < n_chars THEN n_chars ELSE 0 END)
                AS BIGINT) AS kept_chars
    FROM h GROUP BY lang
    """,
    doc="deterministic length-weighted sampling: doc kept iff "
    "hash256(doc_id) * 2 < n_chars, i.e. keep probability "
    "proportional to document length (the importance-sampling step "
    "of corpus mixing, where longer docs carry more tokens and "
    "deserve proportionally more of the sample) — but decided by a "
    "content hash, so the SAME docs are kept on every engine, run, "
    "and partitioning, unlike rand()-based sampling which can never "
    "hash-match. Pure integer comparison (two md5 hex digits vs "
    "n_chars); one map-side-combined rollup per language; the "
    "keep decision is a row-local expression fused into the scan.",
)
def weighted_sample_det(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")

    def hexpos(i: int):
        return (
            F.instr(
                F.lit("0123456789abcdef"),
                F.substring(F.md5(F.col("doc_id").cast("string")), i, 1),
            )
            - 1
        )

    h256 = 16 * hexpos(1) + hexpos(2)
    keep = (h256 * 2) < F.col("n_chars")
    return (
        d.select("lang", "n_chars", keep.alias("keep"))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.col("keep").cast("int")).cast("bigint").alias("n_kept"),
            F.sum(F.when(F.col("keep"), F.col("n_chars")).otherwise(0))
            .cast("bigint")
            .alias("kept_chars"),
        )
    )


@Q.add(
    "dedup_containment",
    """
    WITH sh AS (
      SELECT DISTINCT doc_id, g
      FROM (
        SELECT doc_id,
               [string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1]
                FOR i IN range(1, len(string_split(text, ' ')))] AS gs
        FROM documents
      ), unnest(gs) AS t(g)
    ),
    rare AS (SELECT g FROM sh GROUP BY g HAVING COUNT(*) <= 40),
    post AS (SELECT sh.doc_id, sh.g FROM sh JOIN rare USING (g)),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM post GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
      FROM post a JOIN post b ON a.g = b.g AND a.doc_id <> b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT id_a, id_b, i AS n_shared,
           ROUND(CAST(i AS DOUBLE) / sa.sz, 4) AS containment
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    WHERE i * 10 >= sa.sz * 6
    """,
    doc="DIRECTED shingle containment |A∩B| / |A| >= 0.6 — the "
    "asymmetric near-dup measure that catches a document quoted or "
    "wrapped inside a larger one, which symmetric Jaccard "
    "(dedup_ngram_jaccard) dilutes away when the host is much "
    "longer. Same scale skeleton as sparse_cosine_pairs: distinct "
    "bigram postings (deduped row-locally per doc — no distinct "
    "exchange), hot shingles (df > 40) dropped by a count-only "
    "rollup to bound every posting list, candidate pairs generated "
    "row-locally inside each bounded posting list (never doc-by-doc "
    "pairs, and no posting self-join), and the 0.6 threshold decided "
    "by the INTEGER identity i*10 >= |A|*6 — no float membership. The "
    "reported containment is one division, ROUND(4). Directed "
    "output: (a,b) and (b,a) are judged independently.",
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents", unique=("doc_id",))
    # materialize the split ONCE as an attribute ref before the indexed
    # transform — element_at over an expression would re-split the text
    # per element (the O(len^2) trap cooccur_events documents)
    sp = d.select("doc_id", F.split("text", " ").alias("sp"))
    grams = F.transform(
        F.slice("sp", 1, F.size("sp") - 1),
        lambda x, i: F.concat_ws(" ", x, F.element_at(F.col("sp"), i + 2)),
    )
    # r11 (guide §2.4/§2.5): the old shape exploded raw grams and paid
    # a dedicated DISTINCT exchange on (doc_id, g); a doc's grams all
    # live in one row here, so array_distinct IS that distinct,
    # row-locally, and the posting stream leaves the scan already
    # unique. The df rollup stays count-only (partial agg — a hot
    # boilerplate gram never ships its posting list), rare postings
    # then group per gram ONCE (the join lands them on g, so the
    # collect needs no new exchange) and the directed pairs are
    # generated row-locally from each <=40-id list instead of the
    # posting self-join — same bounded pair set, no join machinery.
    sh = sp.select("doc_id", F.explode(F.array_distinct(grams)).alias("g"))
    rare = (
        sh.groupBy("g")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") <= 40)
        .select("g")
    )
    # r11 follow-up (sf1 ladder): the persist is BACK. The batch-1
    # shape relied on plan-level exchange reuse to serve the two post
    # consumers, but at sf1 AQE broadcasts the rare side and the
    # runtime plan materializes the gram explode THREE times and the
    # df rollup twice (plans/r11/dedup_containment_sf1_diag.txt) —
    # 26 s vs the old persisted shape's 4.3 s on 10x data. One cache
    # fill (2 explodes + 1 df rollup in one job) serves sizes and the
    # posting-list rollup.
    post = sh.join(rare, "g").persist()
    # eager fill: sizes + the posting rollup scan post inside one job;
    # a lazy persist races and replays the shingle/df lineage per branch
    post.count()
    sizes = post.groupBy("doc_id").agg(F.count("*").alias("sz"))
    posts = post.groupBy("g").agg(F.collect_list("doc_id").alias("ids"))
    # all ordered pairs (x, y), x != y, within one rare gram's posting
    # list — ids are unique within a gram (sh is distinct) and bounded
    # by the df <= 40 filter, so this is <= 40*39 structs per row
    pair_structs = F.flatten(
        F.transform(
            F.col("ids"),
            lambda x: F.transform(
                F.filter(F.col("ids"), lambda y: y != x),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    inter = (
        posts.select(F.explode(pair_structs).alias("p"))
        .select("p.id_a", "p.id_b")
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("i"))
    )
    sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("sz"))
    return (
        inter.join(sa, "id_a")
        .filter(F.col("i") * 10 >= F.col("sz") * 6)
        .select(
            "id_a",
            "id_b",
            F.col("i").alias("n_shared"),
            F.round(F.col("i").cast("double") / F.col("sz"), 4).alias(
                "containment"
            ),
        )
    )


@Q.add(
    "dedup_url_canonical",
    """
    WITH raw AS (
      SELECT doc_id,
             upper('https://www.' || source || '.example.com/page/'
                   || CAST(doc_id % 40 AS VARCHAR))
             || CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END
             || CASE WHEN doc_id % 3 = 0
                     THEN '?utm_source=feed&ref=x' ELSE '' END AS url
      FROM documents
    ),
    canon AS (
      SELECT doc_id,
             regexp_replace(
               replace(string_split(lower(url), '?')[1],
                       'https://www.', 'https://'),
               '/$', '') AS curl
      FROM raw
    )
    SELECT curl, MIN(doc_id) AS survivor_id, COUNT(*) AS n_docs
    FROM canon GROUP BY curl
    """,
    doc="URL canonicalization dedup — the first pass of every web-crawl "
    "pipeline: lowercase, strip the query string (tracking params), "
    "strip 'www.', strip the trailing slash, then group identical "
    "canonical URLs and keep the min-id survivor. The raw URL is "
    "derived in-query by deterministic rules (case noise, %5 "
    "trailing slash, %3 utm params) so both engines canonicalize "
    "byte-identical inputs; the canonicalizer itself is the real "
    "operator (lower/split/replace/regexp_replace — all codegen, "
    "zero Python). ONE map-side-combined aggregation on the "
    "canonical key; at 100 TB this is the same digest-style "
    "shuffle as dedup_exact (canonical URL, not raw text, rides "
    "the wire).",
)
def dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    raw = F.concat(
        F.upper(
            F.concat(
                F.lit("https://www."),
                F.col("source"),
                F.lit(".example.com/page/"),
                (F.col("doc_id") % 40).cast("string"),
            )
        ),
        F.when(F.col("doc_id") % 5 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 3 == 0, F.lit("?utm_source=feed&ref=x")
        ).otherwise(F.lit("")),
    )
    curl = F.regexp_replace(
        F.replace(
            F.element_at(F.split(F.lower(raw), r"\?"), 1),
            F.lit("https://www."),
            F.lit("https://"),
        ),
        "/$",
        "",
    )
    return (
        d.select("doc_id", curl.alias("curl"))
        .groupBy("curl")
        .agg(
            F.min("doc_id").alias("survivor_id"),
            F.count("*").alias("n_docs"),
        )
    )


@Q.add(
    "bigram_nextword",
    """
    WITH big AS (
      SELECT w1, w2, COUNT(*) AS c
      FROM (
        SELECT sp[i] AS w1, sp[i+1] AS w2
        FROM (SELECT string_split(text, ' ') AS sp FROM documents),
             unnest(range(1, len(sp))) AS t(i)
      )
      GROUP BY w1, w2
    ),
    ranked AS (
      SELECT w1, w2, c,
             CAST(SUM(c) OVER (PARTITION BY w1) AS BIGINT) AS total,
             row_number() OVER (PARTITION BY w1 ORDER BY c DESC, w2) AS rn
      FROM big
    )
    SELECT w1, w2 AS next_w, c,
           ROUND(CAST(c AS DOUBLE) / total, 4) AS p
    FROM ranked WHERE rn = 1
    """,
    doc="bigram language model argmax: for every word, its most likely "
    "successor and P(next|word) — the next-token table a Markov "
    "text model or autocomplete baseline reads, and the conditional "
    "twin of tokenizer_pair_counts' joint counts. The argmax is "
    "fully tie-broken (c DESC, w2) through a per-w1 window; the "
    "probability is one integer division, ROUND(4). Shapes: bigram "
    "counts shuffle on (w1,w2) with map-side combine; ONE more "
    "Exchange on w1 serves both the total and the rank — partitions "
    "bounded by per-word successor fan-out, never corpus size.",
)
def bigram_nextword(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    sp = d.select(F.split("text", " ").alias("sp"))
    # zipped shifted slices, not transform(sequence(1, size-1), i ->
    # sp[i]): on a 1-token doc sequence(1, 0) DESCENDS to [1, 0] in
    # Spark and sp[1] throws INVALID_ARRAY_INDEX under ANSI (DuckDB's
    # range(1, 1) is empty — no pairs is the contract); the zip shape
    # is also the faster one (the token_ngrams lesson)
    m = F.greatest(F.size("sp") - 1, F.lit(0))
    pairs = sp.select(
        F.explode(F.arrays_zip(F.slice("sp", 1, m), F.slice("sp", 2, m))).alias("pr")
    )
    big = (
        pairs.select(F.col("pr")["0"].alias("w1"), F.col("pr")["1"].alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("c"))
    )
    w = Window.partitionBy("w1")
    wr = Window.partitionBy("w1").orderBy(F.desc("c"), "w2")
    ranked = big.select(
        "w1",
        "w2",
        "c",
        F.sum("c").over(w).cast("bigint").alias("total"),
        F.row_number().over(wr).alias("rn"),
    )
    return ranked.filter(F.col("rn") == 1).select(
        "w1",
        F.col("w2").alias("next_w"),
        "c",
        F.round(F.col("c").cast("double") / F.col("total"), 4).alias("p"),
    )


@Q.add(
    "multimodal_dedup_exact",
    """
    SELECT md5(text) AS content_digest,
           MIN(CAST(doc_id AS VARCHAR)) AS survivor_media_id,
           COUNT(*) AS n_copies,
           CAST(MIN(octet_length(encode(text))) AS BIGINT) AS n_bytes
    FROM documents
    GROUP BY content_digest
    """,
    doc="exact dedup over the BINARY media payload (md5 of the bytes, "
    "computed JVM-side on the binary column) — the first dedup pass "
    "of any image/audio corpus: identical files collapse before any "
    "expensive perceptual hashing runs. Uses the same "
    "attach_payload plumbing as the multimodal family, so the "
    "digest is over the payload bytes (the oracle's md5(text) hashes "
    "the identical UTF-8 bytes - DuckDB md5 takes VARCHAR only); "
    "only the 32-hex digest rides the shuffle, never the blob — "
    "the invariant that makes this safe when payloads are "
    "megabytes. ONE map-side-combined aggregation.",
)
def multimodal_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import attach_payload

    d = load(spark, sf_dir, "documents")
    media = attach_payload(d, "doc_id", "text")
    return (
        media.select(
            F.md5(F.col("payload")).alias("content_digest"),
            F.col("media_id"),
            F.col("n_bytes").alias("nb"),
        )
        .groupBy("content_digest")
        .agg(
            F.min("media_id").alias("survivor_media_id"),
            F.count("*").alias("n_copies"),
            F.min("nb").cast("bigint").alias("n_bytes"),
        )
    )


@Q.add(
    "bigram_xent",
    """
    WITH pairs AS (
      SELECT doc_id, w1, w2, COUNT(*) AS c
      FROM (
        SELECT doc_id, sp[i] AS w1, sp[i+1] AS w2
        FROM (SELECT doc_id, string_split(text, ' ') AS sp FROM documents),
             unnest(range(1, len(sp))) AS t(i)
      )
      GROUP BY doc_id, w1, w2
    ),
    big AS (
      SELECT w1, w2, CAST(SUM(c) AS BIGINT) AS cb
      FROM pairs GROUP BY w1, w2
    ),
    uni AS (
      SELECT w1, CAST(SUM(cb) AS BIGINT) AS cu FROM big GROUP BY w1
    ),
    lp AS (
      SELECT w1, w2,
             log2(CAST(cb AS DOUBLE) / CAST(cu AS DOUBLE)) AS l
      FROM big JOIN uni USING (w1)
    ),
    per AS (
      SELECT doc_id,
             list_sum(list(c * l ORDER BY pairs.w1, pairs.w2)) AS s,
             CAST(SUM(c) AS BIGINT) AS n
      FROM pairs JOIN lp USING (w1, w2)
      GROUP BY doc_id
    )
    SELECT doc_id, n AS n_bigrams,
           -- + 0.0 normalizes IEEE -0.0 (a zero-entropy doc) to the
           -- +0.0 the engine emits; every other value is unchanged (r6)
           ROUND(-s / CAST(n AS DOUBLE), 4) + 0.0 AS xent_bigram
    FROM per
    """,
    doc="per-document cross-entropy under the corpus BIGRAM LM (avg "
    "-log2 P(w2|w1)) — the sharper perplexity proxy next to "
    "perplexity_unigram: template/boilerplate text scores near zero "
    "because its transitions are memorized corpus-wide, which the "
    "unigram model cannot see. Same determinism contract as the "
    "unigram twin: the only float accumulation folds over the "
    "(w1,w2)-SORTED per-doc list in both engines, then ROUND(4). "
    "Shapes: per-doc bigram counts shuffle on (doc,w1,w2); the "
    "conditional-probability table is two bounded rollups joined "
    "back on (w1,w2) — an equi-join against the vocab-sized LM "
    "table, shuffle-joinable at any corpus size.",
)
def bigram_xent(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    sp = d.select("doc_id", F.split("text", " ").alias("sp"))
    # zipped shifted slices — see bigram_nextword: sequence(1, size-1)
    # descends on 1-token docs and throws under ANSI
    m = F.greatest(F.size("sp") - 1, F.lit(0))
    pr = sp.select(
        "doc_id",
        F.explode(F.arrays_zip(F.slice("sp", 1, m), F.slice("sp", 2, m))).alias("pr"),
    ).select(
        "doc_id",
        F.col("pr")["0"].alias("w1"),
        F.col("pr")["1"].alias("w2"),
    )
    pairs = pr.groupBy("doc_id", "w1", "w2").agg(F.count("*").alias("c"))
    big = pairs.groupBy("w1", "w2").agg(F.sum("c").cast("bigint").alias("cb"))
    uni = big.groupBy("w1").agg(F.sum("cb").cast("bigint").alias("cu"))
    lp = big.join(uni, "w1").select(
        "w1",
        "w2",
        F.log2(F.col("cb").cast("double") / F.col("cu").cast("double")).alias(
            "l"
        ),
    )
    per = (
        pairs.join(lp, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct("w1", "w2", (F.col("c") * F.col("l")).alias("cl"))
                )
            ).alias("arr"),
            F.sum("c").cast("bigint").alias("n"),
        )
    )
    s = F.aggregate("arr", F.lit(0.0), lambda acc, x: acc + x["cl"])
    return per.select(
        "doc_id",
        F.col("n").alias("n_bigrams"),
        F.round(-s / F.col("n").cast("double"), 4).alias("xent_bigram"),
    )


@Q.add(
    "source_diversity",
    """
    WITH lc AS (
      SELECT source, lang, COUNT(*) AS c FROM documents
      GROUP BY source, lang
    ),
    tot AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n,
                   COUNT(*) AS n_langs
            FROM lc GROUP BY source)
    SELECT t.source, t.n_langs, t.n AS n_docs,
           ROUND(1.0 - CAST(SUM(c * (c - 1)) AS DOUBLE)
                       / (t.n * (t.n - 1)), 4) AS simpson,
           ROUND((log2(CAST(t.n AS DOUBLE))
                  - list_sum(list(c * log2(CAST(c AS DOUBLE)) ORDER BY lang))
                    / t.n)
                 / log2(CAST(t.n_langs AS DOUBLE)), 4) AS evenness
    FROM lc JOIN tot t USING (source)
    GROUP BY t.source, t.n_langs, t.n
    HAVING t.n > 1 AND t.n_langs > 1
    """,
    doc="per-source corpus-composition diagnostics: Simpson diversity "
    "(1 - sum c(c-1)/n(n-1), the probability two random docs differ "
    "in language) and Shannon evenness (H / log2(k)) of the "
    "language mix — the dashboard that catches a 'web' source "
    "silently collapsing to one language. Simpson is integer "
    "arithmetic to one final division; the entropy uses the "
    "entropy_score identity with the float fold over the "
    "lang-SORTED count list in both engines, ROUND(4); singleton "
    "and monolingual sources are excluded so no 0/0 crosses an "
    "engine boundary. Two bounded map-side-combined rollups.",
)
def source_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    lc = d.groupBy("source", "lang").agg(F.count("*").alias("c"))
    tot = lc.groupBy("source").agg(
        F.sum("c").cast("bigint").alias("n"), F.count("*").alias("n_langs")
    )
    j = lc.join(tot, "source")
    per = j.groupBy("source", "n_langs", "n").agg(
        F.sum(F.col("c") * (F.col("c") - 1)).alias("ss"),
        F.sort_array(
            F.collect_list(
                F.struct(
                    "lang",
                    (F.col("c") * F.log2(F.col("c").cast("double"))).alias(
                        "cl"
                    ),
                )
            )
        ).alias("arr"),
    )
    plogp = F.aggregate("arr", F.lit(0.0), lambda acc, x: acc + x["cl"])
    h = F.log2(F.col("n").cast("double")) - plogp / F.col("n")
    return per.filter((F.col("n") > 1) & (F.col("n_langs") > 1)).select(
        "source",
        "n_langs",
        F.col("n").alias("n_docs"),
        F.round(
            1.0
            - F.col("ss").cast("double")
            / (F.col("n") * (F.col("n") - 1)),
            4,
        ).alias("simpson"),
        F.round(h / F.log2(F.col("n_langs").cast("double")), 4).alias(
            "evenness"
        ),
    )


@Q.add(
    "dedup_normalized",
    """
    WITH norm AS (
      SELECT doc_id,
             md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS nd
      FROM documents
    )
    SELECT nd AS norm_digest, MIN(doc_id) AS survivor_id,
           COUNT(*) AS n_docs
    FROM norm GROUP BY nd
    """,
    doc="normalization-then-dedup (casefold + whitespace collapse + "
    "trim, then exact grouping on the md5 of the normal form) — the "
    "C4-style near-exact pass that catches duplicates differing "
    "only in case or spacing, which dedup_exact misses and MinHash "
    "wastes candidate budget on. Only the 32-hex digest of the "
    "NORMALIZED text rides the shuffle — the same digest-only "
    "invariant as dedup_exact, with the normalizer fused into the "
    "scan stage as pure codegen string ops. ONE map-side-combined "
    "aggregation.",
)
def dedup_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    nd = F.md5(
        F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    )
    return (
        d.select("doc_id", nd.alias("nd"))
        .groupBy(F.col("nd").alias("norm_digest"))
        .agg(
            F.min("doc_id").alias("survivor_id"),
            F.count("*").alias("n_docs"),
        )
    )


@Q.add(
    "embedding_random_projection",
    """
    WITH proj AS (
      SELECT vec_id, j.j AS dim_out,
             list_sum(
               [CASE WHEN strpos('0123456789abcdef',
                       substr(md5(CAST(j.j AS VARCHAR) || ':'
                                  || CAST(i AS VARCHAR)), 1, 1)) - 1 < 8
                     THEN CAST(embedding[i + 1] AS DOUBLE)
                     ELSE -CAST(embedding[i + 1] AS DOUBLE) END
                FOR i IN range(64)]) AS y,
             len(list_filter(embedding, x -> x IS NULL)) AS n_null_el
      FROM embeddings, unnest(range(8)) AS j(j)
      WHERE len(embedding) = 64
    )
    SELECT vec_id, CAST(dim_out AS INT) AS dim_out,
           -- + 0.0 normalizes IEEE -0.0 (a projection summing to a tiny
           -- negative that rounds to zero) to the +0.0 Spark's
           -- BigDecimal ROUND emits; found by the r7 sf0.1 parity gate
           -- (sf0.01 never produced a negative-rounds-to-zero sum).
           -- NULL-element mirror (r7 nonfinite parity): the engine's
           -- fold NULLs on a NULL vector element, while DuckDB's
           -- list_sum SKIPS nulls — a vector with any NULL dim
           -- projects to NULL on both engines.
           CASE WHEN n_null_el > 0 THEN NULL
                ELSE ROUND(y, 4) + 0.0 END AS y
    FROM proj
    """,
    doc="random-projection dimensionality reduction 64-d -> 8-d "
    "(Achlioptas-style +/-1 signs): the Johnson-Lindenstrauss step "
    "that shrinks embeddings before ANN indexing or sketching. The "
    "sign matrix is DERIVED from md5(j:i) — no RNG, no broadcast "
    "state, the same matrix on every engine, executor, and shard — "
    "and each output coordinate folds over input dims in ascending "
    "index order IN-ROW (array fold, not a groupBy over exploded "
    "dims whose float addition order would be partition-dependent), "
    "so the sums are bit-identical; ROUND(4). Zero shuffles: the "
    "8x fan-out and the 64-element fold are row-local.",
)
def embedding_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fixed-dim contract, mirrored in the oracle (ragged-dim sweep):
    # each output coordinate folds over input dims 0..63
    emb = load(spark, sf_dir, "embeddings").filter(F.size("embedding") == 64)
    y = F.expr(
        """
        transform(sequence(0, 7), j ->
          aggregate(sequence(0, 63), CAST(0.0 AS DOUBLE), (acc, i) ->
            acc + CASE WHEN instr('0123456789abcdef',
                         substring(md5(concat(CAST(j AS STRING), ':',
                                              CAST(i AS STRING))), 1, 1)) - 1 < 8
                       THEN CAST(embedding[i] AS DOUBLE)
                       ELSE -CAST(embedding[i] AS DOUBLE) END))
        """
    )
    return (
        emb.select("vec_id", F.posexplode(y).alias("dim_out", "y"))
        .select(
            "vec_id",
            F.col("dim_out").cast("int").alias("dim_out"),
            F.round("y", 4).alias("y"),
        )
    )


@Q.add(
    "embedding_pq_assign",
    """
    WITH emb64 AS (SELECT * FROM embeddings WHERE len(embedding) = 64
      -- NULL-element-aware fp-domain gate, as kmeans_step (r7)
      AND list_aggregate(
            [CASE WHEN x IS NULL THEN false
                  ELSE abs(CAST(x AS DOUBLE)) <= 9.2e12 END
             FOR x IN embedding],
            'bool_and')),
    cb AS (
      SELECT vec_id AS cid, embedding AS ce FROM emb64 WHERE vec_id < 16
    ),
    d AS (
      SELECT e.vec_id, s.s AS sub, cb.cid,
             list_sum(
               [(CAST(e.embedding[s.s * 32 + i + 1] AS DOUBLE)
                 - CAST(cb.ce[s.s * 32 + i + 1] AS DOUBLE))
                * (CAST(e.embedding[s.s * 32 + i + 1] AS DOUBLE)
                   - CAST(cb.ce[s.s * 32 + i + 1] AS DOUBLE))
                FOR i IN range(32)]) AS d2
      FROM emb64 e, unnest(range(2)) AS s(s), cb
    ),
    best AS (
      SELECT vec_id, sub, cid, d2,
             row_number() OVER (PARTITION BY vec_id, sub
                                ORDER BY d2, cid) AS rn
      FROM d
    )
    SELECT vec_id, CAST(sub AS INT) AS sub, cid AS code,
           ROUND(d2, 6) AS d2
    FROM best WHERE rn = 1
    """,
    doc="product-quantization code assignment (the faiss IVF-PQ "
    "building block): each 64-d vector splits into 2 subvectors, "
    "each assigned to its nearest of 16 codebook centroids -> a "
    "2-byte code replacing 256 bytes of floats. The codebook is "
    "DECLARED deterministically (first 16 vectors by id — a real "
    "trainer would k-means, but assignment, the scale-critical "
    "inner loop, is what this pins); every subvector-centroid "
    "distance folds over dims in ascending order IN-ROW, so the "
    "doubles are bit-identical and the argmin (tie-broken by "
    "centroid id) picks the same code on every engine. Shapes: the "
    "16x64-float codebook is collected once (bounded by the literal "
    "vec_id<16 predicate — 4 KB shipping with the task closures) and "
    "assignment is an Arrow-batched numpy kernel that vectorizes "
    "ACROSS rows while looping dims ASCENDING, so every row's fold "
    "is the same op sequence as the scalar oracle fold — bit-"
    "identical d2, np.argmin's first-minimum = the cid tie-break. "
    "Zero shuffles, zero windows, the corpus streams once. The sf1 "
    "probe caught the previous shape (32x row fan-out through a "
    "(vec,sub)-windowed argmin of interpreted HOF folds) at 13.3x "
    "cost on 10x vectors; this kernel is linear with a numpy "
    "constant.",
)
def embedding_pq_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    # null / wrong-dim / non-finite embeddings are unassignable —
    # dropped at entry (null-, ragged-dim- and nonfinite-sweep
    # contract, same as kmeans_step: a ragged row crashes the numpy
    # batch stack, and a NULL/Inf dim NaN-poisons np.argmin, which
    # returns the FIRST NaN index and would assign every such row —
    # or, for a corrupt CENTROID, every row in the corpus — to an
    # arbitrary code). Mirrored in the oracle's emb64 CTE (r7).
    emb = load(spark, sf_dir, "embeddings", unique=("vec_id",)).filter(
        (F.size("embedding") == 64)
        & F.expr(
            "aggregate(embedding, true,"
            " (acc, x) -> acc AND abs(CAST(x AS DOUBLE)) <= 9.2e12)"
        )
    )
    cb_rows = (
        emb.filter(F.col("vec_id") < 16)
        .select("vec_id", F.col("embedding").cast("array<double>").alias("ce"))
        .collect()
    )
    # total sort key: duplicate vec_ids now fail typed at the entry
    # gate above, but (id, vector) keeps the codebook collect
    # run-deterministic even if a caller bypasses the gate — belt
    # and suspenders on the one driver-side data dependency here
    cb_rows.sort(key=lambda r: (r["vec_id"], r["ce"]))
    cids = np.array([r["vec_id"] for r in cb_rows], dtype=np.int64)
    C = np.array([r["ce"] for r in cb_rows], dtype=np.float64)  # (16, 64)

    def assign(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            n = len(X)
            out_vec, out_sub, out_code, out_d2 = [], [], [], []
            for s in (0, 1):
                # vectorized across rows, SEQUENTIAL ascending across
                # dims: each row's accumulation order matches the
                # scalar fold exactly -> bit-identical doubles
                D = np.zeros((n, len(C)), dtype=np.float64)
                for i in range(32):
                    diff = X[:, s * 32 + i, None] - C[None, :, s * 32 + i]
                    D += diff * diff
                best = np.argmin(D, axis=1)  # first min = lowest cid
                out_vec.append(pdf["vec_id"].values)
                out_sub.append(np.full(n, s, dtype=np.int32))
                out_code.append(cids[best])
                out_d2.append(D[np.arange(n), best])
            yield pd.DataFrame(
                {
                    "vec_id": np.concatenate(out_vec),
                    "sub": np.concatenate(out_sub),
                    "code": np.concatenate(out_code),
                    "d2": np.concatenate(out_d2),
                }
            )

    raw = emb.select("vec_id", "embedding").mapInPandas(
        assign, schema="vec_id bigint, sub int, code bigint, d2 double"
    )
    return raw.select(
        "vec_id", "sub", "code", F.round("d2", 6).alias("d2")
    )


@Q.add(
    "embedding_silhouette",
    """
    WITH emb AS (
      -- NULL-element-aware fp-domain gate (r7 nonfinite parity): the
      -- engine's AND-fold NULLs on a null dim and the filter drops the
      -- row, while DuckDB's bool_and SKIPS nulls and would keep it
      SELECT * FROM embeddings
      WHERE len(embedding) = 64
        AND list_aggregate(
              [CASE WHEN x IS NULL THEN false
                    ELSE abs(CAST(x AS DOUBLE)) <= 9.2e12 END
               FOR x IN embedding],
              'bool_and')
    ),
    fp AS (
      SELECT vec_id, label, i.i AS dim,
             CAST(ROUND(CAST(embedding[i.i + 1] AS DOUBLE) * 1000000)
                  AS BIGINT) AS x_fp
      FROM emb, unnest(range(64)) AS i(i)
    ),
    cent AS (
      SELECT label, dim, CAST(SUM(x_fp) AS BIGINT) AS s_fp,
             COUNT(*) AS n
      FROM fp GROUP BY label, dim
    ),
    cvec AS (
      SELECT label, list(CAST(s_fp AS DOUBLE) / n / 1000000
                         ORDER BY dim) AS c
      FROM cent GROUP BY label
    ),
    dists AS (
      SELECT e.vec_id, e.label AS own, cv.label AS other,
             list_sum(
               [(CAST(e.embedding[i + 1] AS DOUBLE) - cv.c[i + 1])
                * (CAST(e.embedding[i + 1] AS DOUBLE) - cv.c[i + 1])
                FOR i IN range(64)]) AS d2
      FROM emb e, cvec cv
    ),
    a AS (
      SELECT vec_id, own,
             CAST(ROUND(MIN(CASE WHEN other = own THEN d2 END) * 1000000)
                  AS BIGINT) AS intra_fp,
             CAST(ROUND(MIN(CASE WHEN other <> own THEN d2 END) * 1000000)
                  AS BIGINT) AS inter_fp
      FROM dists GROUP BY vec_id, own
    )
    SELECT own AS label, COUNT(*) AS n_vecs,
           ROUND(CAST(SUM(intra_fp) AS DOUBLE) / COUNT(*) / 1000000, 4)
             AS mean_intra_d2,
           ROUND(CAST(SUM(inter_fp) AS DOUBLE) / COUNT(*) / 1000000, 4)
             AS mean_inter_d2,
           ROUND(CAST(SUM(inter_fp) AS DOUBLE) / SUM(intra_fp), 4)
             AS separation
    FROM a GROUP BY own
    """,
    doc="cluster-separation audit (centroid silhouette): per label, "
    "mean squared distance to the OWN-label centroid vs the nearest "
    "OTHER centroid, and their ratio — the embedding-quality gate "
    "run before trusting labels for dedup or sampling. Every float "
    "crossing an aggregation boundary is fixed-point int64 first: "
    "centroids come from exact per-dim integer sums (1e-6 scaled), "
    "per-vector distances fold in-row over ascending dims, then "
    "round to fp before the per-label mean — so no "
    "partition-order-dependent float sum exists anywhere. Shapes: "
    "the 64x dim explode shuffles once to (label,dim) — 640 cells; "
    "the 10-row centroid table broadcasts back; argmin + rollup "
    "combine map-side.",
)
def embedding_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    # entry gate, mirrored in the oracle's emb CTE so both engines drop
    # the same rows: 64-dim only (the d2 fold indexes dims 0..63 —
    # ragged-dim sweep) AND fixed-point domain (a NaN/Inf or
    # |x| > 9.2e12 dim can't be represented in the 1e-6-scaled int64
    # fold; ANSI CAST would raise — non-finite sweep). One all-dims
    # fold — NaN/Inf compare false, a NULL array nulls the fold.
    emb = load(spark, sf_dir, "embeddings").filter(
        (F.size("embedding") == 64)
        & F.expr(
            "aggregate(embedding, true,"
            " (acc, x) -> acc AND abs(CAST(x AS DOUBLE)) <= 9.2e12)"
        )
    )
    fp = emb.select(
        "vec_id",
        "label",
        F.posexplode(
            F.expr(
                "transform(embedding, x ->"
                " CAST(ROUND(CAST(x AS DOUBLE) * 1000000) AS BIGINT))"
            )
        ).alias("dim", "x_fp"),
    )
    cent = fp.groupBy("label", "dim").agg(
        F.sum("x_fp").cast("bigint").alias("s_fp"),
        F.count("*").alias("n"),
    )
    cvec = (
        cent.groupBy("label")
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        "dim",
                        (
                            F.col("s_fp").cast("double")
                            / F.col("n")
                            / 1000000
                        ).alias("v"),
                    )
                )
            ).alias("cs")
        )
        .select(
            F.col("label").alias("clabel"),
            F.expr("transform(cs, s -> s.v)").alias("c"),
        )
    )
    d2 = F.expr(
        """
        aggregate(sequence(0, 63), CAST(0.0 AS DOUBLE), (acc, i) ->
          acc + (CAST(embedding[i] AS DOUBLE) - c[i])
              * (CAST(embedding[i] AS DOUBLE) - c[i]))
        """
    )
    dists = emb.crossJoin(F.broadcast(cvec)).select(
        "vec_id",
        F.col("label").alias("own"),
        F.col("clabel").alias("other"),
        d2.alias("d2"),
    )
    a = dists.groupBy("vec_id", "own").agg(
        F.round(
            F.min(F.when(F.col("other") == F.col("own"), F.col("d2")))
            * 1000000
        )
        .cast("bigint")
        .alias("intra_fp"),
        F.round(
            F.min(F.when(F.col("other") != F.col("own"), F.col("d2")))
            * 1000000
        )
        .cast("bigint")
        .alias("inter_fp"),
    )
    return a.groupBy(F.col("own").alias("label")).agg(
        F.count("*").alias("n_vecs"),
        F.round(
            F.sum("intra_fp").cast("double") / F.count("*") / 1000000, 4
        ).alias("mean_intra_d2"),
        F.round(
            F.sum("inter_fp").cast("double") / F.count("*") / 1000000, 4
        ).alias("mean_inter_d2"),
        F.round(
            F.sum("inter_fp").cast("double") / F.sum("intra_fp"), 4
        ).alias("separation"),
    )


@Q.add(
    "sentence_split",
    """
    WITH sents AS (
      SELECT doc_id, unnest(ss) AS s, generate_subscripts(ss, 1) AS i
      FROM (
        SELECT doc_id, string_split_regex(text, '\\.\\s+') AS ss
        FROM documents
      )
    )
    SELECT doc_id, CAST(i AS INT) AS sent_idx, trim(s) AS sentence,
           CAST(length(trim(s)) AS BIGINT) AS n_chars
    FROM sents
    WHERE trim(s) <> ''
    """,
    doc="sentence segmentation with stable per-doc ordinals (split on "
    "'. ' boundaries, empties dropped, 1-based index) — the "
    "chunking precursor every RAG/embedding pipeline runs before "
    "windowing text into model-sized pieces (chunk_overlap then "
    "consumes such units). posexplode gives the ordinal "
    "deterministically from array order — the SAME order both "
    "engines derive from the same regex split, no window needed. "
    "Row-local split + explode fused into the scan; zero shuffles.",
)
def sentence_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return (
        d.select(
            "doc_id",
            F.posexplode(F.split("text", r"\.\s+")).alias("i", "s"),
        )
        .select(
            "doc_id",
            (F.col("i") + 1).cast("int").alias("sent_idx"),
            F.trim("s").alias("sentence"),
        )
        .filter(F.col("sentence") != "")
        .select(
            "doc_id",
            "sent_idx",
            "sentence",
            F.length("sentence").cast("bigint").alias("n_chars"),
        )
    )


@Q.add(
    "pretokenize_gpt",
    """
    WITH toks AS (
      SELECT t.tok
      FROM (
        SELECT regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')
                 AS ts
        FROM documents
      ), unnest(ts) AS t(tok)
    )
    SELECT tok, COUNT(*) AS n
    FROM toks GROUP BY tok
    ORDER BY n DESC, tok
    LIMIT 50
    """,
    doc="GPT-style pre-tokenization: regexp_extract_all splits text "
    "into letter runs / digit runs / single punctuation marks (the "
    "simplified form of the GPT-2 pretokenizer pattern, spelled in "
    "the regex subset Java and RE2 interpret identically — no "
    "lookaheads, no \\p classes), then corpus-wide counts, top-50 "
    "fully tie-broken. This is the unit BPE actually trains over — "
    "complementing token_count_bpe (counting) and "
    "tokenizer_pair_counts (merge stats). Row-local extract fused "
    "into the scan; one bounded-key map-side-combined rollup; "
    "50-row TakeOrdered.",
)
def pretokenize_gpt(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return (
        d.select(
            F.explode(
                F.expr(
                    r"regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]', 0)"
                )
            ).alias("tok")
        )
        .groupBy("tok")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "tok")
        .limit(50)
    )


# ===========================================================================
# round-4 additions, ninth wave: distribution drift, changepoints,
# dictionary encoding
# ===========================================================================


@Q.add(
    "drift_ks",
    """
    WITH f AS (
      SELECT value, event_type FROM events
      WHERE event_type IN ('click', 'purchase') AND value IS NOT NULL
    ),
    g AS (
      SELECT value,
             SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c1,
             SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS c2
      FROM f GROUP BY value
    ),
    cum AS (
      SELECT value,
             SUM(c1) OVER (ORDER BY value) AS cum1,
             SUM(c2) OVER (ORDER BY value) AS cum2
      FROM g
    ),
    tot AS (SELECT SUM(c1) AS n1, SUM(c2) AS n2 FROM g)
    SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
           CAST(MAX(ABS(cum1 * n2 - cum2 * n1)) AS BIGINT) AS d_num,
           CAST(MAX(ABS(cum1 * n2 - cum2 * n1)) AS DOUBLE)
             / CAST(NULLIF(n1 * n2, 0) AS DOUBLE) AS d_stat
    FROM cum, tot
    GROUP BY n1, n2
    """,
    doc="two-sample Kolmogorov-Smirnov drift statistic between the "
    "click and purchase value distributions: D = max |F1 - F2| over "
    "the pooled support, computed ENTIRELY in integers — per-value "
    "counts, then cross-multiplied cumulative counts "
    "|cum1*n2 - cum2*n1| so no float CDF ever forms; one exact "
    "division at the end. The cumulative counts come from "
    "operators/prefix.global_cumsum (distributed two-phase prefix "
    "sum, no one-task global window), chained once per sample — at "
    "100 TB the support after the per-value rollup is what sorts, "
    "not the raw events. The standard drift gate a training-data "
    "pipeline runs between ingestion snapshots.",
)
def drift_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.prefix import global_cumsum_multi

    # null values carry no sample mass and cannot totally order the
    # CDF grid (global_cumsum rejects NULL order keys by design) —
    # the KS statistic is over observed samples only
    e = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
        & F.col("value").isNotNull()
    )
    g = e.groupBy("value").agg(
        F.sum(
            F.when(F.col("event_type") == "click", 1).otherwise(0)
        ).alias("c1"),
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("c2"),
    )
    # r10: both sample CDFs in ONE bin pass (global_cumsum_multi) —
    # one Exchange + one window instead of two chained passes whose
    # second probe re-ran the first pass's bin/window lineage
    c = global_cumsum_multi(
        g, order_col="value", values={"cum1": "c1", "cum2": "c2"}
    )
    tot = g.agg(F.sum("c1").alias("n1"), F.sum("c2").alias("n2"))
    d = (
        c.crossJoin(F.broadcast(tot))
        .select(
            "n1",
            "n2",
            F.abs(
                F.col("cum1") * F.col("n2") - F.col("cum2") * F.col("n1")
            ).alias("ad"),
        )
        .groupBy("n1", "n2")
        .agg(F.max("ad").alias("d_num"))
    )
    # NULLIF-guard on both engines (skew sweep): a one-sided corpus
    # (every event the same type) makes one sample empty — KS is
    # undefined there, and ANSI x/0 would raise. NULL d_stat is the
    # one answer both engines agree on.
    return d.select(
        "n1",
        "n2",
        "d_num",
        (
            F.col("d_num").cast("double")
            / F.nullif(F.col("n1") * F.col("n2"), F.lit(0)).cast("double")
        ).alias("d_stat"),
    )


@Q.add(
    "drift_psi",
    """
    WITH bounds AS (
      SELECT MIN((least(greatest(epoch_us(ts), -9223372036854775), 9223372036854775) * 1000)) AS lo, MAX((least(greatest(epoch_us(ts), -9223372036854775), 9223372036854775) * 1000)) AS hi FROM events
    ),
    lab AS (
      -- WHERE NOT isnan mirrors the engine's NaN exclusion (see the
      -- engine comment); DuckDB would otherwise rank NaN into bucket 9
      SELECT CAST(GREATEST(-1, LEAST(9, floor(value / 50))) AS INT) AS bucket,
             CASE WHEN CAST((least(greatest(epoch_us(ts), -9223372036854775), 9223372036854775) * 1000) AS HUGEINT) * 2
                       >= CAST(lo AS HUGEINT) + hi THEN 1 ELSE 0
             END AS late
      -- value IS NULL OR: Spark's isnan is non-nullable (NULL -> false),
      -- so the engine KEEPS NULL-value rows (NULL bucket, counted in
      -- totals); only true NaN is excluded
      FROM events, bounds
      WHERE value IS NULL OR NOT isnan(value)
    ),
    cnt AS (
      SELECT bucket, SUM(1 - late) AS ca, SUM(late) AS cb
      FROM lab GROUP BY bucket
    ),
    tot AS (SELECT SUM(ca) AS na, SUM(cb) AS nb FROM cnt),
    spine AS (SELECT CAST(r AS INT) AS bucket FROM range(10) t(r)),
    j AS (
      SELECT spine.bucket,
             CAST(COALESCE(ca, 0) AS BIGINT) AS n_early,
             CAST(COALESCE(cb, 0) AS BIGINT) AS n_late, na, nb
      FROM spine LEFT JOIN cnt ON spine.bucket = cnt.bucket, tot
    ),
    terms AS (
      SELECT bucket, n_early, n_late,
             CAST(floor(
               (CAST(n_early + 1 AS DOUBLE) / CAST(na + 10 AS DOUBLE)
                - CAST(n_late + 1 AS DOUBLE) / CAST(nb + 10 AS DOUBLE))
               * ln((CAST(n_early + 1 AS DOUBLE) / CAST(na + 10 AS DOUBLE))
                    / (CAST(n_late + 1 AS DOUBLE) / CAST(nb + 10 AS DOUBLE)))
               * 1000000 + 0.5) AS BIGINT) AS term_fp
      FROM j
    )
    SELECT bucket, n_early, n_late,
           CAST(term_fp AS DOUBLE) / 1000000 AS psi_term,
           CAST(SUM(term_fp) OVER () AS DOUBLE) / 1000000 AS psi_total
    FROM terms
    """,
    doc="population-stability-index drift between the early and late "
    "half of the time range (integer epoch-ns midpoint split, no "
    "float time math), 10 fixed-width value buckets on an explicit "
    "range(10) spine so empty buckets still report, add-one "
    "smoothing so ln never sees zero. Each bucket's "
    "(p-q)*ln(p/q) term is snapped to 1e-6 fixed-point BEFORE the "
    "cross-bucket total, so the PSI reduction is order-independent "
    "(zipf_fit's ln discipline). Distributed work is one "
    "map-side-combinable bucket rollup over the events scan; the "
    "spine join and PSI math run on 10 rows. The PSI/KS pair is "
    "the standard snapshot-drift audit for training-data refresh.",
)
def drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    b = e.agg(F.min("ts_ns").alias("lo"), F.max("ts_ns").alias("hi"))
    # clamp the bucket in BIGINT space BEFORE the int cast (non-finite
    # sweep, full-materialization pass: floor(Inf/50) saturates to
    # int64 max and the bare INT cast raises; buckets below the spine
    # were always dropped by the join, so the -1 floor is a no-op on
    # in-range data) and widen the midpoint compare exactly as
    # split_time_leakage does (ts_ns*2 overflows at the clamp rails)
    d38 = "decimal(38,0)"
    # NaN rows are EXCLUDED from both histograms and totals: the JVM's
    # (long)NaN is 0, which silently polluted bucket 0 (a real bin)
    # while DuckDB's NaN-ranks-highest put the same rows in bucket 9 —
    # a NaN value carries no bin information, so it carries no PSI mass
    # (extreme-money gate, r7). +-Inf still clamp to the -1/9 rail
    # buckets, which IS drift signal.
    lab = e.filter(~F.isnan("value")).crossJoin(F.broadcast(b)).select(
        F.greatest(
            F.lit(-1).cast("bigint"),
            F.least(F.lit(9).cast("bigint"), F.floor(F.col("value") / 50)),
        )
        .cast("int")
        .alias("bucket"),
        F.when(
            F.col("ts_ns").cast(d38) * 2
            >= F.col("lo").cast(d38) + F.col("hi"),
            1,
        )
        .otherwise(0)
        .alias("late"),
    )
    cnt = lab.groupBy("bucket").agg(
        F.sum(F.lit(1) - F.col("late")).alias("ca"),
        F.sum("late").alias("cb"),
    )
    tot = cnt.agg(F.sum("ca").alias("na"), F.sum("cb").alias("nb"))
    spine = spark.range(10).select(F.col("id").cast("int").alias("bucket"))
    j = (
        spine.join(F.broadcast(cnt), "bucket", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "bucket",
            F.coalesce("ca", F.lit(0)).alias("n_early"),
            F.coalesce("cb", F.lit(0)).alias("n_late"),
            "na",
            "nb",
        )
    )
    p = (F.col("n_early") + 1).cast("double") / (F.col("na") + 10).cast(
        "double"
    )
    q = (F.col("n_late") + 1).cast("double") / (F.col("nb") + 10).cast(
        "double"
    )
    terms = j.select(
        "bucket",
        "n_early",
        "n_late",
        F.floor((p - q) * F.log(p / q) * 1000000 + F.lit(0.5))
        .cast("bigint")
        .alias("term_fp"),
    )
    wall = Window.partitionBy()
    return terms.select(
        "bucket",
        "n_early",
        "n_late",
        (F.col("term_fp").cast("double") / 1000000).alias("psi_term"),
        (F.sum("term_fp").over(wall).cast("double") / 1000000).alias(
            "psi_total"
        ),
    )


@Q.add(
    "changepoint_cusum",
    """
    WITH daily AS (
      SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day, COUNT(*) AS x
      FROM events GROUP BY day
    ),
    tot AS (SELECT COUNT(*) AS nd, SUM(x) AS s FROM daily),
    p AS (
      SELECT day, x, nd, s,
             SUM(nd * x - s) OVER (ORDER BY day) AS psum
      FROM daily, tot
    ),
    m AS (
      SELECT day, x, nd, s, psum,
             LEAST(0, MIN(psum) OVER (ORDER BY day)) AS base
      FROM p
    )
    SELECT day, x AS n_events,
           CAST(psum - base AS BIGINT) AS cusum_fp,
           CAST(psum - base AS DOUBLE) / nd AS cusum_dev,
           (psum - base) > 2 * s AS alarm
    FROM m
    """,
    doc="CUSUM changepoint detection on the daily event-count series "
    "via the prefix-sum identity S_t = P_t - min(0, min_{j<=t} P_j) "
    "— the recursive max(0, S+d) unrolled into two window passes "
    "(cumulative sum + running min), which is what makes CUSUM "
    "expressible declaratively at all. Deviations are exact "
    "integers scaled by the day count (nd*x - s), so no float mean "
    "ever enters the recursion; alarm threshold is an integer "
    "comparison. The distributed stage is the daily rollup; the "
    "windows run over a days-bounded series.",
)
def changepoint_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    daily = e.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day")).agg(
        F.count("*").alias("x")
    )
    tot = daily.agg(F.count("*").alias("nd"), F.sum("x").alias("s"))
    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    p = (
        daily.crossJoin(F.broadcast(tot))
        .withColumn(
            "psum",
            F.sum(F.col("nd") * F.col("x") - F.col("s")).over(w),
        )
        .withColumn("base", F.least(F.lit(0), F.min("psum").over(w)))
    )
    cus = F.col("psum") - F.col("base")
    return p.select(
        "day",
        F.col("x").alias("n_events"),
        cus.alias("cusum_fp"),
        (cus.cast("double") / F.col("nd")).alias("cusum_dev"),
        (cus > 2 * F.col("s")).alias("alarm"),
    )


@Q.add(
    "dict_encode",
    """
    SELECT doc_id, source,
           -- NULL category -> NULL id, row KEPT (the engine's left
           -- broadcast join against a non-null dictionary; DuckDB
           -- ASC sorts NULLS LAST, so non-null ranks are unaffected)
           -- (r6 NULL-corpus parity audit)
           CASE WHEN source IS NULL THEN NULL
                ELSE CAST(dense_rank() OVER (ORDER BY source) AS INT)
           END AS source_id,
           lang,
           CASE WHEN lang IS NULL THEN NULL
                ELSE CAST(dense_rank() OVER (ORDER BY lang) AS INT)
           END AS lang_id
    FROM documents
    """,
    doc="dictionary (categorical) encoding of low-cardinality string "
    "columns to dense 1-based integer ids in lexicographic order — "
    "the feature-store / tokenizer-vocab primitive. The oracle "
    "spells it as dense_rank over every row; the Spark plan instead "
    "builds each tiny distinct dictionary once (distinct -> "
    "row_number over the sorted domain, a few rows on one "
    "partition) and BROADCAST-joins it back, so the 100 TB fact "
    "scan never sorts and never shuffles on the string — same "
    "result, O(domain) window instead of O(rows). Two independent "
    "dictionaries compose by chained broadcast joins.",
)
def dict_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    # dictionaries over NON-NULL domains + LEFT joins back: a NULL
    # category encodes as NULL id with the row kept — an inner join
    # silently dropped those rows, and a NULL inside the dictionary
    # would shift every id (Spark windows order NULLS FIRST) (r6)
    srcm = (
        d.select("source")
        .filter(F.col("source").isNotNull())
        .distinct()
        .select(
            "source",
            F.row_number()
            .over(Window.orderBy("source"))
            .cast("int")
            .alias("source_id"),
        )
    )
    langm = (
        d.select("lang")
        .filter(F.col("lang").isNotNull())
        .distinct()
        .select(
            "lang",
            F.row_number()
            .over(Window.orderBy("lang"))
            .cast("int")
            .alias("lang_id"),
        )
    )
    return (
        d.join(F.broadcast(srcm), "source", "left")
        .join(F.broadcast(langm), "lang", "left")
        .select("doc_id", "source", "source_id", "lang", "lang_id")
    )


# ===========================================================================
# round-4 additions, tenth wave: BPE training, skip-gram pairs,
# blocklist curation, per-source quality budget
# ===========================================================================

_BPE_PAIRS = (
    "list_transform(generate_series(1, len(string_split(w, ' ')) - 1), "
    "i -> string_split(w, ' ')[i] || ' ' || string_split(w, ' ')[i + 1])"
)


def _bpe_merge_sql(w: str) -> str:
    out = f"' ' || {w} || ' '"
    for _ in range(4):
        out = (
            f"replace({out}, ' ' || pair || ' ', "
            "' ' || replace(pair, ' ', '') || ' ')"
        )
    return f"trim({out})"


def _bpe_iteration_sql(k: int) -> str:
    return f"""
    p{k} AS (
      SELECT t.pr AS pair, CAST(SUM(f) AS BIGINT) AS pair_count
      FROM w{k - 1}, unnest({_BPE_PAIRS}) AS t(pr)
      GROUP BY t.pr
    ),
    b{k} AS (SELECT pair, pair_count FROM p{k}
             ORDER BY pair_count DESC, pair LIMIT 1),
    w{k} AS (SELECT {_bpe_merge_sql('w')} AS w, f FROM w{k - 1}, b{k})"""


@Q.add(
    "bpe_train_merges",
    """
    WITH w0 AS (
      SELECT trim(regexp_replace(word, '(.)', '\\1 ', 'g')) AS w,
             COUNT(*) AS f
      FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
      WHERE word <> ''
      GROUP BY 1
    ),"""
    + ",".join(_bpe_iteration_sql(k) for k in (1, 2, 3))
    + """
    SELECT 1 AS step, pair, pair_count FROM b1
    UNION ALL SELECT 2, pair, pair_count FROM b2
    UNION ALL SELECT 3, pair, pair_count FROM b3
    """,
    doc="BPE tokenizer training, three merge steps: distinct words with "
    "corpus frequencies -> symbol-pair counts weighted by word freq -> "
    "argmax pair (count desc, pair asc tie-break) -> merge applied to "
    "the vocabulary -> recount. The merge is leftmost-non-overlapping "
    "space-guarded replace applied 4x (a fixed point for every word "
    "in this corpus — words are <=12 symbols, and each pass halves "
    "the boundary-sharing remainder), bit-identical in both engines. "
    "The iteration state is the DISTINCT-WORD table, not the corpus "
    "— at 100 TB the corpus collapses to a vocab-bounded frame in "
    "the first map-side-combined count and all three iterations "
    "shuffle only vocab rows; the argmax is a 1-row broadcast "
    "(same driver-bounded fixed-point shape as graph_pagerank).",
)
def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    words = (
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("f"))
        .select(
            F.trim(
                F.regexp_replace(F.col("word"), "(.)", "$1 ")
            ).alias("w"),
            "f",
        )
    )
    pair_expr = (
        "transform(sequence(1, size(split(w, ' ')) - 1), "
        "i -> concat(element_at(split(w, ' '), i), ' ', "
        "element_at(split(w, ' '), i + 1)))"
    )
    merges = []
    cur = words
    for k in (1, 2, 3):
        pc = (
            cur.filter(F.expr("size(split(w, ' ')) >= 2"))
            .select(F.explode(F.expr(pair_expr)).alias("pair"), "f")
            .groupBy("pair")
            .agg(F.sum("f").alias("pair_count"))
        )
        top = pc.orderBy(F.desc("pair_count"), "pair").limit(1)
        merges.append(
            top.select(
                F.lit(k).alias("step"), "pair", "pair_count"
            )
        )
        cur = cur.crossJoin(F.broadcast(top)).select(
            F.expr(_bpe_merge_sql("w")).alias("w"), "f"
        )
    out = merges[0]
    for m in merges[1:]:
        out = out.unionAll(m)
    return out


@Q.add(
    "skipgram_pairs",
    """
    WITH toks AS (
      SELECT string_split(text, ' ') AS a FROM documents
    ),
    pairs AS (
      SELECT t.pr AS pair
      FROM toks, unnest(list_concat(
        list_transform(generate_series(1, len(a) - 1),
                       i -> a[i] || ' ' || a[i + 1]),
        list_transform(generate_series(1, len(a) - 2),
                       i -> a[i] || ' ' || a[i + 2])
      )) AS t(pr)
    )
    SELECT pair, COUNT(*) AS n
    FROM pairs GROUP BY pair
    ORDER BY n DESC, pair
    LIMIT 100
    """,
    doc="skip-gram training-pair generation (word2vec-style): forward "
    "(center, context) pairs at offsets +1 and +2 generated "
    "ROW-LOCALLY from each document's token array (transform over an "
    "index sequence — no positional self-join, no shuffle until the "
    "count), then corpus-wide pair counts, top-100 fully tie-broken. "
    "The self-join formulation would shuffle the corpus twice per "
    "offset; the in-row fan-out is x2 and fuses into the scan. "
    "Feeds embedding pretraining and collocation mining.",
)
def skipgram_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # zip shifted slices instead of indexing the split inside a
    # transform lambda — interpreted HOFs re-evaluate the outer split
    # per element (the token_ngrams lesson; ~10x on long docs)
    d = load(spark, sf_dir, "documents").select(
        F.split("text", " ").alias("a")
    )

    def shifted(offset: int):
        m = F.greatest(F.size("a") - offset, F.lit(0))
        zipped = F.arrays_zip(
            F.slice("a", 1, m), F.slice("a", 1 + offset, m)
        )
        return F.transform(
            zipped, lambda p: F.concat_ws(" ", p["0"], p["1"])
        )

    return (
        d.select(
            F.explode(F.concat(shifted(1), shifted(2))).alias("pair")
        )
        .groupBy("pair")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "pair")
        .limit(100)
    )


@Q.add(
    "blocklist_filter",
    """
    WITH fan AS (
      SELECT d.doc_id, t.term,
             len(list_filter(string_split(d.text, ' '), x -> x = t.term))
               AS occ
      FROM documents d,
           (VALUES ('slow'), ('error'), ('spam'), ('junk')) t(term)
    )
    SELECT term,
           CAST(SUM(CASE WHEN occ > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_docs,
           CAST(SUM(occ) AS BIGINT) AS n_occurrences
    FROM fan GROUP BY term
    """,
    doc="blocklist curation audit: exact word-match occurrence counts "
    "for each banned term across the corpus (token-level filter over "
    "the split array — no substring false positives, no regex "
    "boundary hacks), per-term hit-document and total-occurrence "
    "counts, zero-hit terms still reported. The term list fans out "
    "ROW-LOCALLY (explode of a literal array — no join operator at "
    "all), so the plan is scan -> project -> map-side-combined "
    "rollup; at 100 TB the corpus streams once regardless of "
    "blocklist size. The keep/drop variant is the same frame "
    "filtered on occ = 0.",
)
def blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    fan = d.select(
        "doc_id",
        F.explode(
            F.array(
                F.lit("slow"), F.lit("error"), F.lit("spam"), F.lit("junk")
            )
        ).alias("term"),
        "text",
    ).select(
        "term",
        F.expr(
            "size(filter(split(text, ' '), x -> x = term))"
        ).alias("occ"),
    )
    return fan.groupBy("term").agg(
        F.sum(F.when(F.col("occ") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_docs"),
        F.sum("occ").cast("bigint").alias("n_occurrences"),
    )


@Q.add(
    "topp_per_source",
    """
    WITH ranked AS (
      SELECT source, n_chars,
             SUM(n_chars) OVER (
               PARTITION BY source ORDER BY n_chars DESC, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             SUM(n_chars) OVER (PARTITION BY source) AS tot
      FROM documents
    )
    SELECT source,
           CAST(SUM(CASE WHEN (cum - n_chars) * 10 < tot * 9
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           COUNT(*) AS n_total,
           CAST(SUM(CASE WHEN (cum - n_chars) * 10 < tot * 9
                         THEN n_chars ELSE 0 END) AS BIGINT) AS chars_kept,
           CAST(SUM(n_chars) AS BIGINT) AS chars_total
    FROM ranked GROUP BY source
    """,
    doc="top-p (nucleus-style) per-source quality budget: within each "
    "source, keep documents in (n_chars desc, doc_id) order until "
    "90% of the source's character mass is covered — the boundary "
    "test (cum_before * 10 < total * 9) is pure integer arithmetic, "
    "no float share ever computed, and the crossing document is "
    "included (standard top-p). Keyed windows partition by source, "
    "so the sort distributes across the cluster (one source's docs "
    "per partition via the hash shuffle — skewed sources are the "
    "salting candidate); no global sort, no scalar attach.",
)
def topp_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    wo = (
        Window.partitionBy("source")
        .orderBy(F.desc("n_chars"), "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wp = Window.partitionBy("source")
    r = d.select(
        "source",
        "n_chars",
        F.sum("n_chars").over(wo).alias("cum"),
        F.sum("n_chars").over(wp).alias("tot"),
    )
    keep = (F.col("cum") - F.col("n_chars")) * 10 < F.col("tot") * 9
    return r.groupBy("source").agg(
        F.sum(F.when(keep, 1).otherwise(0)).cast("bigint").alias("n_kept"),
        F.count("*").alias("n_total"),
        F.sum(F.when(keep, F.col("n_chars")).otherwise(0))
        .cast("bigint")
        .alias("chars_kept"),
        F.sum("n_chars").cast("bigint").alias("chars_total"),
    )


@Q.add(
    "readability_score",
    """
    WITH f AS (
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
             CAST(len(string_split_regex(text, '\\.\\s+')) AS BIGINT)
               AS n_sents,
             CAST(len(regexp_extract_all(text, '[aeiou]+')) AS BIGINT)
               AS n_syll
      FROM documents
    )
    SELECT doc_id, n_words, n_sents, n_syll,
           206.835
           - 1.015 * (CAST(n_words AS DOUBLE) / CAST(n_sents AS DOUBLE))
           - 84.6 * (CAST(n_syll AS DOUBLE) / CAST(n_words AS DOUBLE))
             AS flesch
    FROM f
    """,
    doc="Flesch reading-ease readability per document: word count, "
    "sentence count ('. ' boundaries, sentence_split's rule), and a "
    "vowel-group syllable heuristic (runs of [aeiou] — the standard "
    "dictionary-free approximation), then the classic 206.835 - "
    "1.015(W/S) - 84.6(Syl/W) formula from integer ratios (identical "
    "double expressions both engines). Entirely row-local — fuses "
    "into the scan, zero shuffles; the quality-filter family's "
    "readability axis (quality_score covers length/punct ratios).",
)
def readability_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    f = d.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("bigint").alias("n_words"),
        F.size(F.split("text", r"\.\s+")).cast("bigint").alias("n_sents"),
        F.expr("size(regexp_extract_all(text, '[aeiou]+', 0))")
        .cast("bigint")
        .alias("n_syll"),
    )
    return f.select(
        "doc_id",
        "n_words",
        "n_sents",
        "n_syll",
        (
            F.lit(206.835)
            - F.lit(1.015)
            * (F.col("n_words").cast("double") / F.col("n_sents").cast("double"))
            - F.lit(84.6)
            * (F.col("n_syll").cast("double") / F.col("n_words").cast("double"))
        ).alias("flesch"),
    )


@Q.add(
    "vocab_overlap_sources",
    """
    WITH st AS (
      SELECT DISTINCT source, t.tok
      FROM (SELECT source, string_split(text, ' ') AS sp FROM documents),
           unnest(sp) AS t(tok)
    ),
    sizes AS (SELECT source, COUNT(*) AS nv FROM st GROUP BY source),
    inter AS (
      SELECT a.source AS s1, b.source AS s2, COUNT(*) AS n_inter
      FROM st a JOIN st b ON a.tok = b.tok AND a.source < b.source
      GROUP BY a.source, b.source
    )
    SELECT s1, s2, n_inter,
           za.nv + zb.nv - n_inter AS n_union,
           CAST(n_inter AS DOUBLE) / (za.nv + zb.nv - n_inter) AS jaccard
    FROM inter
    JOIN sizes za ON za.source = s1
    JOIN sizes zb ON zb.source = s2
    """,
    doc="pairwise vocabulary Jaccard overlap between sources — the "
    "corpus-diversity / redundancy audit run before mixing sources "
    "into a training blend: distinct (source, token) pairs, "
    "intersections via a token-keyed equi-join (NOT a source-pair "
    "cross join — pairs materialize only where tokens co-occur), "
    "per-source vocab sizes broadcast back. At 100 TB the "
    "(source, token) frame is vocab-bounded per source (the first "
    "distinct collapses the corpus); hot tokens appearing in every "
    "source are the skew candidates — salt or drop stopwords first.",
)
def vocab_overlap_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    st = (
        d.select("source", F.explode(F.split("text", " ")).alias("tok"))
        .distinct()
    )
    sizes = st.groupBy("source").agg(F.count("*").alias("nv"))
    a = st.select(F.col("source").alias("s1"), "tok")
    b = st.select(F.col("source").alias("s2"), "tok")
    inter = (
        a.join(b, "tok")
        .filter(F.col("s1") < F.col("s2"))
        .groupBy("s1", "s2")
        .agg(F.count("*").alias("n_inter"))
    )
    za = sizes.select(F.col("source").alias("s1"), F.col("nv").alias("nva"))
    zb = sizes.select(F.col("source").alias("s2"), F.col("nv").alias("nvb"))
    j = inter.join(F.broadcast(za), "s1").join(F.broadcast(zb), "s2")
    uni = F.col("nva") + F.col("nvb") - F.col("n_inter")
    return j.select(
        "s1",
        "s2",
        "n_inter",
        uni.alias("n_union"),
        (F.col("n_inter").cast("double") / uni).alias("jaccard"),
    )


@Q.add(
    "knn_classify",
    f"""
    WITH emb AS (
      -- embeddable() twin, null-element-safe (r7; see sim_topk)
      SELECT * FROM embeddings WHERE {_emb_gate()}
    ),
    nb AS (
      -- embeddable gate both sides, as in sim_topk (r6)
      SELECT q.vec_id AS query_id, v.label,
             row_number() OVER (
               PARTITION BY q.vec_id
               ORDER BY list_cosine_similarity(q.embedding, v.embedding)
                          DESC,
                        v.vec_id ASC) AS rank
      FROM emb q JOIN emb v ON v.vec_id >= 50
      WHERE q.vec_id < 50
    ),
    votes AS (
      -- unlabeled neighbors keep their top-5 slot but cast no vote
      -- (engine drops them at the label join; a NULL vote group would
      -- also tie-break NULLS FIRST in Spark vs LAST in DuckDB) (r6)
      SELECT query_id, label, COUNT(*) AS c
      FROM nb WHERE rank <= 5 AND label IS NOT NULL
      GROUP BY query_id, label
    )
    SELECT query_id, label AS pred_label, c AS n_votes FROM (
      SELECT query_id, label, c,
             row_number() OVER (
               PARTITION BY query_id ORDER BY c DESC, label ASC) AS r
      FROM votes
    ) WHERE r = 1
    """,
    doc="k-NN classification over the embedding column: 50 held-out "
    "query vectors classified by majority label of their 5 exact "
    "cosine nearest neighbors among the training split (vec_id >= "
    "50), vote ties broken to the smallest label — every ordering "
    "fully tie-broken. Built on operators/similarity.brute_force_topk "
    "(bounded query set broadcast against the vector corpus — the "
    "corpus streams once, no pairwise shuffle); label attach is an "
    "equi-join on neighbor id. The eval twin of sim_topk: same "
    "kernel, downstream majority vote.",
)
def knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import candidate_topk

    e = load(spark, sf_dir, "embeddings", unique=("vec_id",))
    train = e.filter(F.col("vec_id") >= 50)
    queries = e.filter(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    # size-gated: brute force below ANN_CANDIDATE_GATE (the driver
    # scales), multiprobe-LSH candidates above (the 100 TB path);
    # full-probe equality is pytest-pinned. The gate decision rides a
    # metadata-only footer count as an UPPER bound: raw rows >=
    # embeddable rows, so footer <= gate settles the common case with
    # zero scans and an above-gate footer falls through to one exact
    # EMBEDDABLE-corpus count inside candidate_topk — a corpus padded
    # with unembeddable rows can never be routed approximate
    # (VERDICT r05 item 6 + ADVICE r05 gate-flip hazard)
    nt = load(spark, sf_dir, "embeddings").count()
    nb = candidate_topk(train, queries, k=5, corpus_rows=(0, nt))
    # unlabeled neighbors occupy their top-5 slot but cast no vote —
    # the inner join drops them AFTER selection (r6 NULL parity)
    labeled = nb.join(
        train.filter(F.col("label").isNotNull()).select(
            F.col("vec_id").alias("neighbor_id"), "label"
        ),
        "neighbor_id",
    )
    votes = labeled.groupBy("query_id", "label").agg(
        F.count("*").alias("c")
    )
    wv = Window.partitionBy("query_id").orderBy(
        F.desc("c"), F.asc("label")
    )
    return (
        votes.withColumn("r", F.row_number().over(wv))
        .filter(F.col("r") == 1)
        .select(
            "query_id",
            F.col("label").alias("pred_label"),
            F.col("c").alias("n_votes"),
        )
    )


@Q.add(
    "brier_calibration",
    """
    WITH scored AS (
      SELECT CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6))
                  AS BIGINT) AS draw,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
      FROM documents
    ),
    b AS (
      SELECT LEAST(9, CAST(floor(CAST(draw AS DOUBLE) / 16777216 * 10)
                           AS INT)) AS bucket,
             draw, y,
             CAST(floor((CAST(draw AS DOUBLE) / 16777216 - y)
                        * (CAST(draw AS DOUBLE) / 16777216 - y)
                        * 1000000 + 0.5) AS BIGINT) AS sq_fp
      FROM scored
    ),
    agg AS (
      SELECT bucket, COUNT(*) AS n,
             CAST(SUM(draw) AS BIGINT) AS sdraw,
             CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(sq_fp) AS BIGINT) AS ssq
      FROM b GROUP BY bucket
    )
    SELECT bucket, n,
           CAST(sdraw AS DOUBLE) / n / 16777216 AS mean_pred,
           CAST(sy AS DOUBLE) / n AS obs_rate,
           CAST(SUM(ssq) OVER () AS DOUBLE) / 1000000
             / SUM(n) OVER () AS brier
    FROM agg
    """,
    doc="probability-calibration audit (reliability bins + Brier "
    "score) for a deterministic pseudo-classifier: score = md5 "
    "24-bit uniform (the hash-as-RNG discipline — identical draws "
    "both engines), outcome = lang=='en'. Per-decile mean predicted "
    "probability comes from the INTEGER draw sum (no float "
    "accumulation); the Brier total sums per-row squared errors "
    "snapped to 1e-6 fixed-point. One map-side-combinable rollup "
    "over the scan; calibration math on 10 rows. Swap the hash "
    "score for a real model score column and the plan is unchanged "
    "— this is the model-eval primitive at 100 TB.",
)
def brier_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    draw = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 6), 16, 10
    ).cast("bigint")
    p = draw.cast("double") / 16777216
    y = F.when(F.col("lang") == "en", 1).otherwise(0)
    b = d.select(
        F.least(F.lit(9), F.floor(p * 10).cast("int")).alias("bucket"),
        draw.alias("draw"),
        y.alias("y"),
        F.floor((p - y) * (p - y) * 1000000 + F.lit(0.5))
        .cast("bigint")
        .alias("sq_fp"),
    )
    agg = b.groupBy("bucket").agg(
        F.count("*").alias("n"),
        F.sum("draw").cast("bigint").alias("sdraw"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum("sq_fp").cast("bigint").alias("ssq"),
    )
    wall = Window.partitionBy()
    return agg.select(
        "bucket",
        "n",
        (F.col("sdraw").cast("double") / F.col("n") / 16777216).alias(
            "mean_pred"
        ),
        (F.col("sy").cast("double") / F.col("n")).alias("obs_rate"),
        (
            F.sum("ssq").over(wall).cast("double")
            / 1000000
            / F.sum("n").over(wall)
        ).alias("brier"),
    )


@Q.add(
    "feature_variance_audit",
    """
    WITH comp AS (
      SELECT CAST(i AS INT) AS dim,
             CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS fp
      FROM (
        SELECT unnest(embedding) AS x,
               generate_subscripts(embedding, 1) AS i
        FROM embeddings
        -- NULL-element-aware gate (r7; see embedding_silhouette): the
        -- engine's AND-fold drops null-dim vectors, bool_and skips
        WHERE list_aggregate(
                [CASE WHEN x IS NULL THEN false
                      ELSE abs(CAST(x AS DOUBLE)) <= 1e9 END
                 FOR x IN embedding],
                'bool_and')
      )
    ),
    agg AS (
      SELECT dim, COUNT(*) AS n,
             TRY_CAST(SUM(fp) AS DECIMAL(38,0)) AS s,
             TRY_CAST(SUM(fp * fp) AS DECIMAL(38,0)) AS ss
      FROM comp GROUP BY dim
    )
    -- the DECIMAL(38,0)->DOUBLE conversions go through the VARCHAR
    -- hop: the exact integer moments exceed 2^53 at sf1 (n*ss ~ 4e20,
    -- s ~ 2e19), where DuckDB's direct hugeint->double cast is not
    -- correctly rounded while Spark's BigDecimal.doubleValue is —
    -- found by the r8 sf1 gate as a 1-ulp variance drift (the same
    -- class dsum documents for DECIMAL(18,6) folds)
    SELECT dim, n,
           CAST(CAST(s AS VARCHAR) AS DOUBLE) / n / 1000000 AS mean,
           CAST(CAST(n * ss - s * s AS VARCHAR) AS DOUBLE)
             / CAST(TRY_CAST(n AS DECIMAL(38,0)) * n AS DOUBLE)
             / 1000000000000 AS variance,
           n * ss - s * s < TRY_CAST(n AS DECIMAL(38,0)) * n * 1000000000
             AS low_variance
    FROM agg
    """,
    doc="near-zero-variance feature audit over the embedding matrix: "
    "per-dimension mean/variance with every float snapped to 1e-6 "
    "fixed-point int64 BEFORE any aggregation (embedding_silhouette's "
    "discipline — the sums are order-independent), variance from the "
    "exact integer moments n*ss - s^2, and the drop flag "
    "(variance < 1e-3) decided by a PURE INTEGER cross-multiplied "
    "comparison — no float threshold tie. Row-local 64x fan-out "
    "fused into the scan + one map-side-combined rollup. Moment sums "
    "run in DECIMAL(38,0) end-to-end (DuckDB's HUGEINT twin): the "
    "sf1 scale probe caught the previous bigint moments overflowing "
    "at n*ss ~ 4e20 (int64 tops out at 9.2e18 — already within 2x "
    "at sf0.1); decimal holds exactly to ~1e9 vectors.",
)
def feature_variance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fixed-point moment-domain gate, mirrored in the oracle
    # (non-finite sweep, full-materialization pass): floor(Inf * 1e6)
    # saturates to int64 max and the ss accumulation blows the
    # DECIMAL(38,0) budget. |x| <= 1e9 keeps fp <= 1e15, fp^2 <= 1e30
    # — exact to ~1e8 worst-case rows and any realistic embedding
    # scale. Dim-agnostic otherwise (posexplode over actual dims).
    e = load(spark, sf_dir, "embeddings").filter(
        F.expr(
            "aggregate(embedding, true,"
            " (acc, x) -> acc AND abs(CAST(x AS DOUBLE)) <= 1e9)"
        )
    )
    comp = e.select(
        F.posexplode("embedding").alias("i", "x")
    ).select(
        (F.col("i") + 1).cast("int").alias("dim"),
        F.floor(F.col("x").cast("double") * 1000000 + F.lit(0.5))
        .cast("bigint")
        .alias("fp"),
    )
    dec = "decimal(38,0)"
    agg = comp.groupBy("dim").agg(
        F.count("*").alias("n"),
        F.sum(F.col("fp").cast(dec)).cast(dec).alias("s"),
        F.sum(
            F.col("fp").try_cast("decimal(19,0)") * F.col("fp").try_cast("decimal(19,0)")
        ).cast(dec).alias("ss"),
    )
    n_dec = F.col("n").cast(dec)
    num = n_dec * F.col("ss") - F.col("s") * F.col("s")
    return agg.select(
        "dim",
        "n",
        (F.col("s").cast("double") / F.col("n") / 1000000).alias("mean"),
        (
            num.cast("double")
            / (n_dec * F.col("n")).cast("double")
            / F.lit(1000000000000.0)
        ).alias("variance"),
        # threshold var < 1e-3 exactly: num < n^2 * 1e9, all decimal
        (num < n_dec * F.col("n") * F.lit(1000000000)).alias("low_variance"),
    )


@Q.add(
    "novelty_score",
    """
    WITH g AS (
      SELECT doc_id, t.g
      FROM (
        SELECT doc_id,
               list_distinct([sp[i] || ' ' || sp[i+1] || ' ' || sp[i+2]
                              FOR i IN range(1, len(sp) - 1)]) AS gs
        FROM (SELECT doc_id, string_split(text, ' ') AS sp FROM documents)
      ), unnest(gs) AS t(g)
    ),
    first_seen AS (SELECT g, MIN(doc_id) AS first_doc FROM g GROUP BY g)
    SELECT g.doc_id,
           COUNT(*) AS n_grams,
           CAST(SUM(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel,
           CAST(SUM(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
                AS DOUBLE) / COUNT(*) AS novelty
    FROM g JOIN first_seen f USING (g)
    GROUP BY g.doc_id
    """,
    doc="corpus novelty curve: per document, the fraction of its "
    "distinct token 3-grams whose FIRST occurrence (min doc_id over "
    "the whole corpus) is this document — the ingestion-order "
    "diminishing-returns audit that tells a crawl when additional "
    "data stops adding new content. One gram->min(doc_id) rollup "
    "(map-side combinable) joined back to the per-doc gram stream "
    "by gram key; at 100 TB the join key space is gram-bounded and "
    "hot stopword grams are the salting candidates. Built on the "
    "same distinct-3-gram frame as contamination_ngram.",
)
def novelty_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import token_ngrams

    d = load(spark, sf_dir, "documents")
    g = d.select(
        "doc_id",
        F.explode(F.array_distinct(token_ngrams(F.col("text"), 3))).alias(
            "g"
        ),
    )
    first = g.groupBy("g").agg(F.min("doc_id").alias("first_doc"))
    j = g.join(first, "g")
    novel = F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
    return j.groupBy("doc_id").agg(
        F.count("*").alias("n_grams"),
        F.sum(novel).cast("bigint").alias("n_novel"),
        (F.sum(novel).cast("double") / F.count("*")).alias("novelty"),
    )


def _power_iter_sql(k: int) -> str:
    """One power-iteration round in DuckDB SQL: s = Xv (in-row fold),
    w = X^T s (1e-6 fixed-point terms, exact int sums), v' = w/|w|
    snapped back to 1e-6. Mirrors the Spark builder step-for-step."""
    return f"""
    s{k} AS (
      SELECT e.embedding,
             list_sum([CAST(e.embedding[i + 1] AS DOUBLE) * v.v[i + 1]
                       FOR i IN range(64)]) AS s
      FROM emb64 e, v{k - 1} v
    ),
    x{k} AS (
      SELECT s, unnest(embedding) AS x,
             generate_subscripts(embedding, 1) AS dim
      FROM s{k}
    ),
    w{k} AS (
      SELECT dim,
             CAST(SUM(CAST(floor(s * CAST(x AS DOUBLE) * 1000000 + 0.5)
                           AS BIGINT)) AS BIGINT) AS w
      FROM x{k} GROUP BY dim
    ),
    u{k} AS (
      SELECT dim,
             CAST(floor(CAST(w AS DOUBLE)
                        / sqrt(CAST(SUM(CAST(w AS HUGEINT) * w) OVER ()
                                    AS DOUBLE))
                        * 1000000 + 0.5) AS BIGINT) / 1000000.0 AS val
      FROM w{k}
    ),
    v{k} AS (SELECT list(val ORDER BY dim) AS v FROM u{k})"""


@Q.add(
    "embedding_power_iteration",
    """
    WITH emb64 AS (SELECT * FROM embeddings WHERE len(embedding) = 64
      -- NULL-element-aware gate (r7; see embedding_silhouette)
      AND list_aggregate(
            [CASE WHEN x IS NULL THEN false
                  ELSE abs(CAST(x AS DOUBLE)) <= 9.2e12 END
             FOR x IN embedding],
            'bool_and')),
    v0 AS (SELECT [CAST(0.125 AS DOUBLE) FOR i IN range(64)] AS v),"""
    + ",".join(_power_iter_sql(k) for k in (1, 2, 3))
    + """
    SELECT CAST(dim AS INT) AS dim, val AS loading FROM u3
    """,
    doc="top principal direction of the embedding matrix via three "
    "power-iteration rounds (v <- normalize(X^T X v), v0 = uniform "
    "1/8): each round computes s = Xv with an in-row ascending-dim "
    "fold (bit-identical, no float groupBy), then w = X^T s with "
    "every s*x term snapped to 1e-6 fixed-point BEFORE the per-dim "
    "integer sum (order-independent across partitions), then "
    "normalizes through an exact w*w integer sum (DECIMAL/HUGEINT "
    "headroom) and snaps v back to 1e-6. The iteration state is ONE "
    "64-element vector broadcast per round — the corpus streams "
    "once per iteration, nothing else shuffles but the 64-key dim "
    "rollup; the distributed-PCA shape (Halko sketching swaps in "
    "for the full spectrum). Deterministic: no RNG, fixed v0, "
    "every cross-engine float crossing snapped.",
)
def embedding_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    # entry gate mirrored in the oracle's emb64 CTE: 64-dim only (the
    # s = Xv fold indexes embedding[0..63] — ragged-dim sweep) AND
    # fixed-point domain (a NaN/Inf dim overflows the 1e-6 bigint
    # component sums — non-finite sweep, full-materialization pass)
    e = (
        load(spark, sf_dir, "embeddings")
        .filter(
            (F.size("embedding") == 64)
            & F.expr(
            "aggregate(embedding, true,"
            " (acc, x) -> acc AND abs(CAST(x AS DOUBLE)) <= 9.2e12)"
        )
        )
        .select("embedding")
    )
    vdf = spark.range(1).select(
        F.expr("array_repeat(CAST(0.125 AS DOUBLE), 64)").alias("v")
    )
    w = nrm = None
    for _ in range(3):
        s = e.crossJoin(F.broadcast(vdf)).select(
            F.expr(
                "aggregate(sequence(0, 63), CAST(0.0 AS DOUBLE), "
                "(acc, i) -> acc + CAST(embedding[i] AS DOUBLE) * v[i])"
            ).alias("s"),
            "embedding",
        )
        x = s.select("s", F.posexplode("embedding").alias("i", "x"))
        w = (
            x.select(
                (F.col("i") + 1).alias("dim"),
                F.floor(
                    F.col("s") * F.col("x").cast("double") * 1000000
                    + F.lit(0.5)
                )
                .cast("bigint")
                .alias("t"),
            )
            .groupBy("dim")
            .agg(F.sum("t").cast("bigint").alias("w"))
        )
        # the norm is a window aggregate over the 64-row dim frame —
        # single partition by construction, no scalar crossJoin, no
        # branch that would re-execute the upstream lineage
        # widen BEFORE the square: w*w in int64 overflows once the
        # per-dim sums pass ~3e9 (the variance-audit lesson)
        nrm = F.sqrt(
            F.expr(
                "CAST(SUM(TRY_CAST(w AS DECIMAL(28,0)) * w) OVER () AS DOUBLE)"
            )
        )
        snapped = w.select(
            "dim",
            (
                F.floor(
                    F.col("w").cast("double") / nrm * 1000000 + F.lit(0.5)
                ).cast("bigint")
                / F.lit(1000000.0)
            ).alias("val"),
        )
        last = snapped
        vdf = snapped.agg(
            F.expr(
                "transform(array_sort(collect_list(struct(dim, val))), "
                "p -> p.val)"
            ).alias("v")
        )
    return last.select(
        F.col("dim").cast("int").alias("dim"), F.col("val").alias("loading")
    )


# ===========================================================================
# round-4 additions, fourteenth wave: vocab capping, target encoding,
# count-min sketch, triangle counting, collocations
# ===========================================================================


@Q.add(
    "rare_category_collapse",
    """
    WITH cnt AS (
      SELECT tok, COUNT(*) AS n
      FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
      GROUP BY tok
    ),
    flagged AS (
      SELECT CASE WHEN n * 1000 < SUM(n) OVER () THEN '<unk>'
                  ELSE tok END AS mapped_tok,
             n
      FROM cnt
    )
    SELECT mapped_tok, CAST(SUM(n) AS BIGINT) AS n_occurrences,
           COUNT(*) AS n_types_merged
    FROM flagged GROUP BY mapped_tok
    """,
    doc="vocabulary capping (rare-category collapse): tokens whose "
    "corpus share falls below 0.1% map to '<unk>' — the OOV rule "
    "every fixed-vocab tokenizer applies before training; the "
    "threshold test n*1000 < total is pure integer (no float share "
    "tie). One map-side-combined token rollup over the scan; the "
    "collapse decision is a window over the vocab-bounded count "
    "frame — the corpus never re-shuffles. Same plan with any "
    "categorical feature column for cardinality capping.",
)
def rare_category_collapse(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    cnt = (
        d.select(F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("n"))
    )
    wall = Window.partitionBy()
    flagged = cnt.select(
        F.when(
            F.col("n") * 1000 < F.sum("n").over(wall), F.lit("<unk>")
        )
        .otherwise(F.col("tok"))
        .alias("mapped_tok"),
        "n",
    )
    return flagged.groupBy("mapped_tok").agg(
        F.sum("n").cast("bigint").alias("n_occurrences"),
        F.count("*").alias("n_types_merged"),
    )


@Q.add(
    "target_encode_loo",
    """
    WITH stats AS (
      SELECT event_type, COUNT(*) AS n,
             CAST(CAST(SUM(TRY_CAST(CAST(CASE WHEN isfinite(value) THEN value END AS VARCHAR) AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS s
      FROM events GROUP BY event_type
    )
    SELECT e.event_id, e.event_type,
           CASE WHEN n > 1 THEN (s - e.value) / (n - 1) END AS loo_enc
    FROM events e JOIN stats USING (event_type)
    """,
    doc="leave-one-out target encoding of a categorical feature: each "
    "row's encoding is the mean target of its category EXCLUDING "
    "itself, (S - v)/(n - 1) — the leakage-safe variant of plain "
    "mean encoding (a row never sees its own label). Category sums "
    "are exact DECIMAL (order-independent; S -> double is one "
    "deterministic cast), the per-row arithmetic is the identical "
    "double expression in both engines, singleton categories yield "
    "NULL. A 5-row stats broadcast joined back — the fact table "
    "streams twice, shuffles never.",
)
def target_encode_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    stats = e.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.expr("CAST(SUM(TRY_CAST(value AS DECIMAL(18,6))) AS DOUBLE)").alias(
            "s"
        ),
    )
    return e.join(F.broadcast(stats), "event_type").select(
        "event_id",
        "event_type",
        F.when(
            F.col("n") > 1,
            (F.col("s") - F.col("value")) / (F.col("n") - 1),
        ).alias("loo_enc"),
    )


@Q.add(
    "countmin_sketch",
    """
    WITH toks AS (
      SELECT unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    sketch AS (
      SELECT i.i,
             CAST(('0x' || substr(md5(CAST(i.i AS VARCHAR) || ':' || tok),
                                  1, 6)) AS BIGINT) % 64 AS bucket,
             COUNT(*) AS sk_n
      FROM toks, (VALUES (0), (1)) i(i)
      GROUP BY i.i, bucket
    ),
    top10 AS (
      SELECT tok, COUNT(*) AS exact_n
      FROM toks GROUP BY tok
      ORDER BY exact_n DESC, tok LIMIT 10
    ),
    probes AS (
      SELECT t.tok, t.exact_n, i.i,
             CAST(('0x' || substr(md5(CAST(i.i AS VARCHAR) || ':' || t.tok),
                                  1, 6)) AS BIGINT) % 64 AS bucket
      FROM top10 t, (VALUES (0), (1)) i(i)
    )
    SELECT p.tok, CAST(p.exact_n AS BIGINT) AS exact_n,
           CAST(MIN(s.sk_n) AS BIGINT) AS cms_est
    FROM probes p JOIN sketch s ON s.i = p.i AND s.bucket = p.bucket
    GROUP BY p.tok, p.exact_n
    """,
    doc="count-min sketch with DERIVED hash rows (md5(i:token) % 64, "
    "depth 2, width 64 — the same hash on every engine and executor, "
    "so unlike HLL/xxhash sketches this one IS oracle-checkable): "
    "build the 128-counter sketch in one map-side-combined rollup, "
    "then probe the exact top-10 tokens and report min-over-rows "
    "estimates (always >= exact; collisions show as overestimates). "
    "At 100 TB the sketch frame is 128 rows REGARDLESS of corpus "
    "size — the whole point — and the probe side is a bounded "
    "equi-join. The mergeable-summary pattern partial_agg_merge "
    "generalizes.",
)
def countmin_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    toks = d.select(F.explode(F.split("text", " ")).alias("tok"))

    def bucket(i_col, tok_col):
        return (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(":", i_col.cast("string"), tok_col)
                    ),
                    1,
                    6,
                ),
                16,
                10,
            ).cast("bigint")
            % 64
        )

    fan = toks.select(
        F.explode(F.array(F.lit(0), F.lit(1))).alias("i"), "tok"
    )
    sketch = fan.select(
        "i", bucket(F.col("i"), F.col("tok")).alias("bucket")
    ).groupBy("i", "bucket").agg(F.count("*").alias("sk_n"))
    top10 = (
        toks.groupBy("tok")
        .agg(F.count("*").alias("exact_n"))
        .orderBy(F.desc("exact_n"), "tok")
        .limit(10)
    )
    probes = top10.select(
        "tok",
        "exact_n",
        F.explode(F.array(F.lit(0), F.lit(1))).alias("i"),
    ).withColumn("bucket", bucket(F.col("i"), F.col("tok")))
    return (
        probes.join(sketch, ["i", "bucket"])
        .groupBy("tok", "exact_n")
        .agg(F.min("sk_n").cast("bigint").alias("cms_est"))
        .select(
            "tok", F.col("exact_n").cast("bigint").alias("exact_n"),
            "cms_est",
        )
    )


@Q.add(
    "graph_triangles",
    """
    WITH grams AS (
      SELECT doc_id, DISTINCT_G.g
      FROM (
        SELECT doc_id,
               list_distinct([string_split(text,' ')[i] || ' '
                              || string_split(text,' ')[i+1]
                              FOR i IN range(1, len(string_split(text,' ')))])
                 AS gs
        FROM documents
      ), unnest(gs) AS DISTINCT_G(g)
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM grams GROUP BY doc_id),
    inter AS MATERIALIZED (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
      FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    edges AS MATERIALIZED (
      SELECT id_a, id_b FROM inter
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
      WHERE inter / (sa.sz + sb.sz - inter) >= 0.2
    ),
    tris AS (
      SELECT e1.id_a AS a, e1.id_b AS b, e2.id_b AS c
      FROM edges e1
      JOIN edges e2 ON e2.id_a = e1.id_b
      JOIN edges e3 ON e3.id_a = e1.id_a AND e3.id_b = e2.id_b
    ),
    nodes AS (
      SELECT t.node FROM tris, unnest([a, b, c]) AS t(node)
    )
    SELECT node, COUNT(*) AS n_triangles
    FROM nodes GROUP BY node
    """,
    doc="triangle counting on the similarity graph (the clustering-"
    "coefficient numerator — how clique-ish each near-dup "
    "neighborhood is, a redundancy signal CC's flat components "
    "miss): edges are graph_pagerank's exact bigram-Jaccard pairs. "
    "Runs on the exact-dedup-COLLAPSED graph (r5 skew audit: a "
    "half-identical corpus has ~C(n/2,3) triangles — enumerating "
    "them took 553 s at sf0.1, 628x the uniform corpus): rep "
    "triangles are enumerated once each via the a<b<c ordered "
    "two-hop join, then per-node counts expand in closed form from "
    "group multiplicities m — T(g) = C(m_g-1,2) + (m_g-1)*S1 + S2 "
    "+ W, where S1/S2 are neighbor-multiplicity sums and W the "
    "multiplicity-weighted rep-triangle mass. Exact: identical "
    "texts are interchangeable vertices, so every term is the "
    "count of a disjoint triangle class.",
)
def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import _checkpoint, ngram_jaccard_pairs_collapsed

    d = load(spark, sf_dir, "documents", unique=("doc_id",))
    rep_pairs, members, surv, _collapsed = ngram_jaccard_pairs_collapsed(d, n=2, min_jaccard=0.2)
    # eager checkpoint, not lazy persist: FIVE branches (both nbr
    # orientations + e1/e2/e3) scan edges inside one job — lazy-persist
    # fills racily and each branch can replay the full pair kernel
    # (same defect collapsed_degree_nodes documents); the pair set is
    # output-bounded, so one materialization job is the cheap side.
    # Edges carry the kernel's (m_a, m_b) multiplicities (r10), so the
    # four per-endpoint joins against surv the old shape needed — one
    # for nbr, three for the triangle corners — vanish (guide §2.4)
    edges = _checkpoint(rep_pairs.select("id_a", "id_b", "m_a", "m_b"))
    # neighbor-multiplicity sums over the symmetric rep adjacency:
    # S1(g) = sum of m_h over neighbors h; S2(g) = sum of C(m_h, 2)
    nbr = (
        edges.select(F.col("id_a").alias("g"), F.col("m_b").alias("m_h"))
        .unionAll(
            edges.select(F.col("id_b").alias("g"), F.col("m_a").alias("m_h"))
        )
        .groupBy("g")
        .agg(
            F.sum("m_h").alias("s1"),
            F.sum(F.expr("m_h * (m_h - 1) div 2")).alias("s2"),
            # rep degree, for the wedge orientation below — rides the
            # aggregation the neighbor sums already pay (r11)
            F.count(F.lit(1)).alias("deg"),
        )
    )
    # rep triangles, each enumerated once. r11 (guide §2.5 skew / §3):
    # the r10 two-hop join keyed wedges on the middle vertex of the
    # ID order (e1.b = e2.b with a < b < c), so a high-degree rep — a
    # near-dup hub with many DISTINCT neighbors, which the set-identity
    # collapse cannot absorb — fanned out as deg^2 wedge rows on one
    # key. Classic fix: orient every edge from its lower-(deg, id)
    # endpoint to the higher one; each triangle is then enumerated
    # exactly once at its minimum-(deg, id) corner, and a vertex only
    # ever wedges neighbors of HIGHER degree, bounding the per-key fan
    # to O(sqrt(edges)) rows (arboricity argument). The deg attach is
    # two linear equi-joins against the bounded per-rep aggregate —
    # AQE broadcasts them at bench scale and falls back to shuffle
    # joins at 100 TB. Corner multiplicities still ride the edges.
    dd = nbr.select("g", "deg")
    ed = edges.join(
        dd.select(F.col("g").alias("id_a"), F.col("deg").alias("deg_a")),
        "id_a",
    ).join(
        dd.select(F.col("g").alias("id_b"), F.col("deg").alias("deg_b")),
        "id_b",
    )
    # canonical edges have id_a < id_b, so the (deg, id) tie-break
    # keeps the a-side first on equal degrees
    a_first = (F.col("deg_a") < F.col("deg_b")) | (
        (F.col("deg_a") == F.col("deg_b")) & (F.col("id_a") < F.col("id_b"))
    )
    oriented = ed.select(
        F.when(a_first, F.col("id_a")).otherwise(F.col("id_b")).alias("x"),
        F.when(a_first, F.col("id_b")).otherwise(F.col("id_a")).alias("y"),
        F.when(a_first, F.col("m_a")).otherwise(F.col("m_b")).alias("m_x"),
        F.when(a_first, F.col("m_b")).otherwise(F.col("m_a")).alias("m_y"),
    )
    # wedge at the minimum-(deg, id) corner x over its out-neighbor
    # pairs {y1 < y2}; the closing edge (y1, y2) is looked up in the
    # canonical edge set (y1 < y2 means it is stored exactly so)
    tris = (
        oriented.select(
            "x",
            F.col("y").alias("y1"),
            "m_x",
            F.col("m_y").alias("m_y1"),
        )
        .join(
            oriented.select(
                "x", F.col("y").alias("y2"), F.col("m_y").alias("m_y2")
            ),
            "x",
        )
        .filter(F.col("y1") < F.col("y2"))
        .join(
            edges.select(
                F.col("id_a").alias("y1"), F.col("id_b").alias("y2")
            ),
            ["y1", "y2"],
        )
    )
    wsum = (
        tris.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("x").alias("g"),
                        (F.col("m_y1") * F.col("m_y2")).alias("w"),
                    ),
                    F.struct(
                        F.col("y1").alias("g"),
                        (F.col("m_x") * F.col("m_y2")).alias("w"),
                    ),
                    F.struct(
                        F.col("y2").alias("g"),
                        (F.col("m_x") * F.col("m_y1")).alias("w"),
                    ),
                )
            ).alias("x")
        )
        .select("x.g", "x.w")
        .groupBy("g")
        .agg(F.sum("w").alias("w3"))
    )
    per_group = (
        surv.select(F.col("id").alias("g"), "m")
        .join(nbr, "g", "left")
        .join(wsum, "g", "left")
        .select(
            "g",
            (
                F.expr("(m - 1) * (m - 2) div 2")  # all-three-in-group
                + (F.col("m") - 1) * F.coalesce("s1", F.lit(0))  # two in group
                + F.coalesce("s2", F.lit(0))  # two in one neighbor group
                + F.coalesce("w3", F.lit(0))  # three distinct groups
            ).alias("n_triangles"),
        )
        .filter(F.col("n_triangles") >= 1)
    )
    return members.join(
        per_group.select(F.col("g").alias("rep"), "n_triangles"), "rep"
    ).select(
        F.col("id").alias("node"),
        F.col("n_triangles").cast("bigint").alias("n_triangles"),
    )


@Q.add(
    "collocations_pmi",
    """
    WITH big AS (
      SELECT t.g,
             string_split(t.g, ' ')[1] AS tok1,
             string_split(t.g, ' ')[2] AS tok2
      FROM (
        SELECT [sp[i] || ' ' || sp[i+1]
                FOR i IN range(1, len(sp))] AS gs
        FROM (SELECT string_split(text, ' ') AS sp FROM documents)
      ), unnest(gs) AS t(g)
    ),
    pc AS (SELECT g, tok1, tok2, COUNT(*) AS c_xy FROM big
           GROUP BY g, tok1, tok2),
    uni AS (
      SELECT tok, COUNT(*) AS c
      FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
      GROUP BY tok
    ),
    scored AS (
      SELECT pc.g AS pair, pc.c_xy,
             CAST(floor(ln(CAST(pc.c_xy AS DOUBLE)
                           * CAST(SUM(pc.c_xy) OVER () AS DOUBLE)
                           / (CAST(u1.c AS DOUBLE) * CAST(u2.c AS DOUBLE)))
                        * 1000000 + 0.5) AS BIGINT) AS pmi_fp
      FROM pc JOIN uni u1 ON u1.tok = pc.tok1
              JOIN uni u2 ON u2.tok = pc.tok2
      WHERE pc.c_xy >= 20
    )
    SELECT pair, CAST(c_xy AS BIGINT) AS n_pair,
           CAST(pmi_fp AS DOUBLE) / 1000000 AS pmi
    FROM scored
    ORDER BY pmi_fp DESC, pair
    LIMIT 50
    """,
    doc="collocation mining: top-50 adjacent bigrams by pointwise "
    "mutual information ln(c_xy*N/(c_x*c_y)) with a min-count 20 "
    "support floor (the classic Church-Hanks lexicographic "
    "statistic; multiword-expression candidates for tokenizer vocab "
    "seeding). PMI is snapped to 1e-6 fixed-point and the ordering "
    "ties break on the pair string, so the top-50 set is "
    "deterministic; N attaches as a window sum over the "
    "pair-bounded frame (no scalar cross join). Unigram marginals "
    "join by token key — vocab-bounded; the corpus streams twice "
    "(bigrams + unigrams), shuffles only on gram/token keys.",
)
def collocations_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import token_ngrams

    d = load(spark, sf_dir, "documents")
    big = d.select(
        F.explode(token_ngrams(F.col("text"), 2)).alias("g")
    ).select(
        "g",
        F.split("g", " ").getItem(0).alias("tok1"),
        F.split("g", " ").getItem(1).alias("tok2"),
    )
    pc = big.groupBy("g", "tok1", "tok2").agg(F.count("*").alias("c_xy"))
    uni = (
        d.select(F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("c"))
    )
    wall = Window.partitionBy()
    u1 = uni.select(F.col("tok").alias("tok1"), F.col("c").alias("c1"))
    u2 = uni.select(F.col("tok").alias("tok2"), F.col("c").alias("c2"))
    scored = (
        pc.filter(F.col("c_xy") >= 20)
        .withColumn("n_tot", F.sum("c_xy").over(wall))
        .join(F.broadcast(u1), "tok1")
        .join(F.broadcast(u2), "tok2")
        .select(
            F.col("g").alias("pair"),
            "c_xy",
            F.floor(
                F.log(
                    F.col("c_xy").cast("double")
                    * F.col("n_tot").cast("double")
                    / (F.col("c1").cast("double") * F.col("c2").cast("double"))
                )
                * 1000000
                + F.lit(0.5)
            )
            .cast("bigint")
            .alias("pmi_fp"),
        )
    )
    return (
        scored.orderBy(F.desc("pmi_fp"), "pair")
        .limit(50)
        .select(
            "pair",
            F.col("c_xy").cast("bigint").alias("n_pair"),
            (F.col("pmi_fp").cast("double") / 1000000).alias("pmi"),
        )
    )


@Q.add(
    "kmeans_step",
    """
    WITH emb64 AS (SELECT * FROM embeddings WHERE len(embedding) = 64
      -- NULL-element-aware gate (r7; see embedding_silhouette)
      AND list_aggregate(
            [CASE WHEN x IS NULL THEN false
                  ELSE abs(CAST(x AS DOUBLE)) <= 9.2e12 END
             FOR x IN embedding],
            'bool_and')),
    cb AS (
      SELECT vec_id AS cid, embedding AS ce FROM emb64
      WHERE vec_id < 10
    ),
    d AS (
      SELECT e.vec_id, e.embedding, cb.cid,
             list_sum(
               [(CAST(e.embedding[i + 1] AS DOUBLE)
                 - CAST(cb.ce[i + 1] AS DOUBLE))
                * (CAST(e.embedding[i + 1] AS DOUBLE)
                   - CAST(cb.ce[i + 1] AS DOUBLE))
                FOR i IN range(64)]) AS d2
      FROM emb64 e, cb
    ),
    assigned AS (
      SELECT vec_id, embedding, cid FROM (
        SELECT vec_id, embedding, cid,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY d2, cid) AS rn
        FROM d
      ) WHERE rn = 1
    ),
    comp AS (
      SELECT cid,
             CAST(i AS INT) AS dim,
             CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS fp
      FROM (
        SELECT cid, unnest(embedding) AS x,
               generate_subscripts(embedding, 1) AS i
        FROM assigned
      )
    )
    SELECT cid AS cluster, dim,
           COUNT(*) AS n_members,
           CAST(SUM(fp) AS DOUBLE) / COUNT(*) / 1000000 AS centroid
    FROM comp GROUP BY cid, dim
    """,
    doc="one Lloyd iteration of k-means over the embedding column "
    "(k=10, centroids declared as the first 10 vectors — "
    "embedding_pq_assign's deterministic-seed discipline): the "
    "assignment step folds each vector-centroid L2^2 over dims "
    "ascending IN-ROW (bit-identical doubles), argmin tie-broken by "
    "centroid id; the UPDATE step — what pq_assign does not do — "
    "recomputes every centroid as the per-dim mean of its members "
    "with 1e-6 fixed-point component sums (order-independent). "
    "Shapes: 10-row codebook broadcast, row-local 64-fold, one "
    "(vec)-argmin window, one 64x fan + (cluster, dim) rollup — "
    "the corpus streams twice, shuffles only on the 640-key "
    "centroid rollup. Chain it and you have distributed k-means; "
    "the fixed-point snap keeps every round reproducible.",
)
def kmeans_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    # entry gate mirrored in the oracle's emb64 CTE: 64-dim only (the
    # L2^2 fold indexes dims 0..63 — ragged-dim sweep) AND fixed-point
    # domain (a NaN/Inf dim overflows the 1e-6 bigint component sums —
    # non-finite sweep, full-materialization pass)
    e = load(spark, sf_dir, "embeddings").filter(
        (F.size("embedding") == 64)
        & F.expr(
            "aggregate(embedding, true,"
            " (acc, x) -> acc AND abs(CAST(x AS DOUBLE)) <= 9.2e12)"
        )
    )
    cb = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("ce")
    )
    d = e.crossJoin(F.broadcast(cb)).select(
        "vec_id",
        "embedding",
        "cid",
        F.expr(
            "aggregate(sequence(0, 63), CAST(0.0 AS DOUBLE), (acc, i) -> "
            "acc + (CAST(embedding[i] AS DOUBLE) - CAST(ce[i] AS DOUBLE))"
            " * (CAST(embedding[i] AS DOUBLE) - CAST(ce[i] AS DOUBLE)))"
        ).alias("d2"),
    )
    wv = Window.partitionBy("vec_id").orderBy("d2", "cid")
    assigned = (
        d.withColumn("rn", F.row_number().over(wv))
        .filter(F.col("rn") == 1)
        .select("vec_id", "embedding", "cid")
    )
    comp = assigned.select(
        "cid", F.posexplode("embedding").alias("i", "x")
    ).select(
        "cid",
        (F.col("i") + 1).cast("int").alias("dim"),
        F.floor(F.col("x").cast("double") * 1000000 + F.lit(0.5))
        .cast("bigint")
        .alias("fp"),
    )
    return comp.groupBy(
        F.col("cid").alias("cluster"), "dim"
    ).agg(
        F.count("*").alias("n_members"),
        (
            F.sum("fp").cast("double") / F.count("*") / 1000000
        ).alias("centroid"),
    )


def _mmr_dot_sql(x: str, y: str) -> str:
    """Ascending-dim list fold — the SAME op order Spark's aggregate()
    uses; never the engine's builtin cosine, whose internal order we
    can't pin. Norms are computed ONCE per vector and reused (same
    bits as re-deriving; 3x smaller expression trees)."""
    return (
        f"list_sum([CAST({x}[i + 1] AS DOUBLE)"
        f" * CAST({y}[i + 1] AS DOUBLE) FOR i IN range(64)])"
    )


def _mmr_round_sql(k: int) -> str:
    return f"""
    m{k} AS (
      SELECT c.vec_id, c.embedding, c.nrm, c.rel,
             MAX({_mmr_dot_sql('c.embedding', 's.embedding')}
                 / (c.nrm * s.nrm)) AS ms
      FROM c0 c, sel{k - 1} s
      WHERE c.vec_id NOT IN (SELECT vec_id FROM sel{k - 1})
      GROUP BY c.vec_id, c.embedding, c.nrm, c.rel
    ),
    b{k} AS (
      SELECT vec_id, embedding, nrm, {k} AS step,
             0.7 * rel - 0.3 * ms AS score, rel
      FROM m{k} ORDER BY score DESC, vec_id LIMIT 1
    ),
    sel{k} AS (SELECT * FROM sel{k - 1} UNION ALL SELECT * FROM b{k})"""


@Q.add(
    "mmr_rerank",
    """
    WITH q AS (
      SELECT embedding AS qe,
             sqrt("""
    + _mmr_dot_sql("embedding", "embedding")
    + """) AS qnrm
      -- embeddable() twin on the query row (r7 nonfinite parity): an
      -- unembeddable query vector ranks nothing on either engine
      FROM embeddings WHERE vec_id = 0 AND """
    + _emb_gate()
    + """
    ),
    c0 AS (
      SELECT vec_id, embedding, nrm, dq / (nrm * qnrm) AS rel
      FROM (
        SELECT vec_id, embedding,
               sqrt("""
    + _mmr_dot_sql("embedding", "embedding")
    + """) AS nrm,
               """
    + _mmr_dot_sql("embedding", "qe")
    + """ AS dq, qnrm
        FROM embeddings, q WHERE vec_id <> 0 AND """
    + _emb_gate()
    + """
      )
      ORDER BY rel DESC, vec_id LIMIT 20
    ),
    sel1 AS (
      SELECT vec_id, embedding, nrm, 1 AS step, 0.7 * rel AS score, rel
      FROM c0 ORDER BY rel DESC, vec_id LIMIT 1
    ),"""
    + ",".join(_mmr_round_sql(k) for k in (2, 3, 4, 5))
    + """
    SELECT CAST(step AS INT) AS step, vec_id, ROUND(score, 6) AS score
    FROM sel5
    """,
    doc="maximal-marginal-relevance reranking (Carbonell-Goldstein, "
    "the diversity-aware retrieval step RAG pipelines run after "
    "ANN): from the top-20 cosine candidates for one query, "
    "greedily select 5 maximizing 0.7*rel - 0.3*max-sim-to-"
    "selected. Every cosine — query-candidate AND candidate-"
    "candidate — is the SAME ascending-dim in-row fold on both "
    "engines (never the engine's builtin cosine, whose op order "
    "isn't pinned), argmaxes tie-break on vec_id. Shapes: the "
    "corpus is touched exactly once, by the distributed top-20 "
    "(an Arrow-batched numpy kernel that vectorizes ACROSS rows "
    "while accumulating dims ASCENDING — bit-identical doubles to "
    "the scalar fold, the embedding_pq_assign pattern; sim_ann_* "
    "narrows the scan above the size gate at 100 TB). The greedy "
    "selection is inherently sequential over a k x 20 frame, so it "
    "runs driver-side on the collected 20-row candidate set — a "
    "bounded-by-construction collect (LIMIT 20 of (vec_id, 64 "
    "doubles)), replaying the identical IEEE ops (ascending dot "
    "fold, 0.7*rel - 0.3*ms) in scalar Python; ROUND stays in the "
    "engine so half-up semantics match the oracle.",
)
def mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    import numpy as np
    import pandas as pd

    from ..functions.vectors import embeddable
    from ..operators.similarity import (
        ANN_CANDIDATE_GATE,
        ANN_N_FLIP,
        ANN_N_PLANES,
        lsh_query_topk,
    )

    # unembeddable (null/zero-norm/non-finite/wrong-dim) vectors can't
    # rank: the rel/ps divisions below would see a zero norm, and the
    # 0..63 dot folds would batch-stack a short vector (non-finite- and
    # ragged-dim-sweep contract, same as the kernels)
    e = load(spark, sf_dir, "embeddings").filter(embeddable("embedding", 64))
    out_schema = "step int, vec_id bigint, score double"

    q_rows = (
        e.filter(F.col("vec_id") == 0)
        .select(F.col("embedding").cast("array<double>"))
        .collect()
    )
    if not q_rows:
        return spark.createDataFrame([], out_schema)
    qe = [float(v) for v in q_rows[0][0]]
    qacc = 0.0
    for v in qe:
        qacc = qacc + v * v
    qnrm = math.sqrt(qacc)
    qv = np.array(qe, dtype=np.float64)

    corpus = e.filter(F.col("vec_id") != 0)
    # size gate (VERDICT r04 stretch): above ANN_CANDIDATE_GATE the
    # corpus is first narrowed to multiprobe-LSH candidates — the rel
    # kernel below then runs on <=20 rows, so the greedy MMR math (and
    # its oracle-exact fold order) is untouched. The decision is on
    # the EMBEDDABLE corpus (ADVICE r05: a raw footer count includes
    # the query row and unembeddable vectors and could flip the path
    # to approximate while the true corpus is at/below the gate): the
    # metadata-only footer count is an upper bound that settles the
    # common below-gate case with zero scans, and only when it
    # exceeds the gate does one exact corpus.count() decide — the
    # approximate path is never taken on an upper bound alone.
    if (
        load(spark, sf_dir, "embeddings").count() > ANN_CANDIDATE_GATE
        and corpus.count() > ANN_CANDIDATE_GATE
    ):
        ids = lsh_query_topk(
            corpus,
            e.filter(F.col("vec_id") == 0).select(
                F.col("vec_id").alias("query_id"), "embedding"
            ),
            k=20,
            n_planes=ANN_N_PLANES,
            n_flip=ANN_N_FLIP,
        ).select(F.col("neighbor_id").alias("vec_id"))
        corpus = corpus.join(ids, "vec_id")

    def rel_kernel(batches):
        # vectorized across rows, SEQUENTIAL ascending across dims:
        # each row's accumulation order matches the scalar fold exactly
        # -> bit-identical doubles (the embedding_pq_assign pattern)
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            n = len(X)
            nsq = np.zeros(n, dtype=np.float64)
            dq = np.zeros(n, dtype=np.float64)
            for i in range(64):
                xi = X[:, i]
                nsq += xi * xi
                dq += xi * qv[i]
            nrm = np.sqrt(nsq)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].values,
                    "embedding": pdf["embedding"].values,
                    "nrm": nrm,
                    "rel": dq / (nrm * qnrm),
                }
            )

    cand_rows = (
        corpus.select(
            "vec_id",
            F.col("embedding").cast("array<double>").alias("embedding"),
        )
        .mapInPandas(
            rel_kernel,
            schema="vec_id bigint, embedding array<double>, "
            "nrm double, rel double",
        )
        .orderBy(F.desc("rel"), "vec_id")
        .limit(20)
        .collect()
    )
    if not cand_rows:
        return spark.createDataFrame([], out_schema)

    # greedy selection over the bounded 20-row candidate set, driver-
    # side: identical IEEE ops as the former per-round engine jobs
    # (ascending dot fold, dot/(nrm*s_nrm), 0.7*rel - 0.3*ms) with the
    # same (score desc, vec_id asc) argmax tie-break
    def pdot(x, y):
        acc = 0.0
        for i in range(64):
            acc = acc + x[i] * y[i]
        return acc

    cands = [
        (
            int(r["vec_id"]),
            [float(v) for v in r["embedding"]],
            float(r["nrm"]),
            float(r["rel"]),
        )
        for r in cand_rows
    ]
    first = min(cands, key=lambda c: (-c[3], c[0]))
    picked = [(1, first[0], 0.7 * first[3])]
    sel_vecs = [(first[1], first[2])]
    remaining = [c for c in cands if c[0] != first[0]]
    for k in (2, 3, 4, 5):
        if not remaining:
            break
        best = None
        for c in remaining:
            ms = max(
                pdot(c[1], sv) / (c[2] * snrm) for sv, snrm in sel_vecs
            )
            score = 0.7 * c[3] - 0.3 * ms
            key = (-score, c[0])
            if best is None or key < best[0]:
                best = (key, c, score)
        picked.append((k, best[1][0], best[2]))
        sel_vecs.append((best[1][1], best[1][2]))
        remaining = [c for c in remaining if c[0] != best[1][0]]

    res = spark.createDataFrame(picked, out_schema)
    # ROUND runs in the engine: half-up double rounding, same as the
    # oracle's ROUND(score, 6)
    return res.select(
        "step", "vec_id", F.round("score", 6).alias("score")
    )


@Q.add(
    "lsh_tuning_curve",
    """
    WITH grid AS (
      SELECT b, r FROM (VALUES (8, 4), (16, 4), (32, 3), (64, 2)) g(b, r)
    ),
    sims AS (
      SELECT CAST(i AS INT) AS si,
             CAST(i AS DOUBLE) / 10 AS s
      FROM range(1, 10) t(i)
    ),
    curve AS (
      SELECT grid.b, grid.r, sims.si, sims.s,
             CAST(floor(
               (1.0 - exp(CAST(grid.b AS DOUBLE)
                          * ln(1.0 - exp(CAST(grid.r AS DOUBLE)
                                         * ln(sims.s)))))
               * 1000000 + 0.5) AS BIGINT) AS p_fp
      FROM grid, sims
    )
    SELECT b, r, s, CAST(p_fp AS DOUBLE) / 1000000 AS p_collide
    FROM curve
    """,
    doc="MinHash-LSH banding tuning curve: candidate-pair probability "
    "1-(1-s^r)^b over a (bands, rows) grid x similarity 0.1..0.9 — "
    "the S-curve that picks b,r for a target similarity threshold "
    "before any 100 TB dedup run (the engineering companion to "
    "dedup_minhash, whose seeded hashes are rows-only). Powers are "
    "spelled exp(k*ln(x)) with the IDENTICAL expression in both "
    "engines (pow() is not correctly rounded cross-engine; exp/ln "
    "1-ulp wobble is absorbed by the 1e-6 fixed-point snap), "
    "grids are literal spines — zero table reads, zero shuffles.",
)
def lsh_tuning_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    grid = spark.createDataFrame(
        [(8, 4), (16, 4), (32, 3), (64, 2)], ["b", "r"]
    )
    sims = spark.range(1, 10).select(
        F.col("id").cast("int").alias("si"),
        (F.col("id").cast("double") / 10).alias("s"),
    )
    curve = grid.crossJoin(sims).select(
        "b",
        "r",
        "si",
        "s",
        F.floor(
            (
                F.lit(1.0)
                - F.exp(
                    F.col("b").cast("double")
                    * F.log(
                        F.lit(1.0)
                        - F.exp(F.col("r").cast("double") * F.log("s"))
                    )
                )
            )
            * 1000000
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("p_fp"),
    )
    return curve.select(
        "b", "r", "s",
        (F.col("p_fp").cast("double") / 1000000).alias("p_collide"),
    )


@Q.add(
    "extractive_summary",
    """
    WITH sents AS (
      SELECT doc_id, CAST(i AS INT) AS sent_idx, trim(s) AS sentence
      FROM (
        SELECT doc_id, unnest(ss) AS s, generate_subscripts(ss, 1) AS i
        FROM (SELECT doc_id, string_split_regex(text, '\\.\\s+') AS ss
              FROM documents)
      ) WHERE trim(s) <> ''
    ),
    df AS (
      SELECT tok, COUNT(DISTINCT doc_id) AS dfreq
      FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        FROM documents
      ) GROUP BY tok
    ),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    stoks AS (
      SELECT doc_id, sent_idx, t.tok
      FROM (
        SELECT doc_id, sent_idx,
               list_distinct(string_split(sentence, ' ')) AS ts
        FROM sents
      ), unnest(ts) AS t(tok)
    ),
    scored AS (
      SELECT s.doc_id, s.sent_idx,
             CAST(SUM(CAST(floor(
               ln((1.0 + n.n_docs) / (1.0 + df.dfreq)) * 1000000 + 0.5)
               AS BIGINT)) AS BIGINT) AS score_fp
      FROM stoks s JOIN df ON df.tok = s.tok, n
      GROUP BY s.doc_id, s.sent_idx
    )
    SELECT doc_id, sent_idx, score_fp FROM (
      SELECT doc_id, sent_idx, score_fp,
             row_number() OVER (
               PARTITION BY doc_id
               ORDER BY score_fp DESC, sent_idx) AS rn
      FROM scored
    ) WHERE rn <= 2
    """,
    doc="extractive summarization (Luhn/TextRank-lite): pick each "
    "document's top-2 sentences by summed token IDF — rare-term-"
    "dense sentences carry the document's information. Sentence "
    "ordinals from the posexplode split (sentence_split's rule), "
    "IDF per token snapped to 1e-6 fixed-point BEFORE the "
    "per-sentence integer sum (order-independent), top-2 fully "
    "tie-broken by sentence position. The IDF table is "
    "vocab-bounded and broadcasts; the doc side streams once "
    "through explode -> join -> (doc, sent) rollup -> per-doc "
    "window — the same shape as tfidf_topk one grain up.",
)
def extractive_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    sents = (
        d.select(
            "doc_id",
            F.posexplode(F.split("text", r"\.\s+")).alias("i", "s"),
        )
        .select(
            "doc_id",
            (F.col("i") + 1).cast("int").alias("sent_idx"),
            F.trim("s").alias("sentence"),
        )
        .filter(F.col("sentence") != "")
    )
    dfreq = (
        d.select(
            "doc_id", F.explode(F.split("text", " ")).alias("tok")
        )
        .distinct()
        .groupBy("tok")
        .agg(F.count("*").alias("dfreq"))
    )
    n_docs = d.count()
    stoks = sents.select(
        "doc_id",
        "sent_idx",
        F.explode(
            F.array_distinct(F.split("sentence", " "))
        ).alias("tok"),
    )
    idf_fp = F.floor(
        F.log((1.0 + F.lit(n_docs)) / (1.0 + F.col("dfreq"))) * 1000000
        + F.lit(0.5)
    ).cast("bigint")
    scored = (
        stoks.join(F.broadcast(dfreq), "tok")
        .select("doc_id", "sent_idx", idf_fp.alias("idf_fp"))
        .groupBy("doc_id", "sent_idx")
        .agg(F.sum("idf_fp").cast("bigint").alias("score_fp"))
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("score_fp"), "sent_idx"
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
        .select("doc_id", "sent_idx", "score_fp")
    )


@Q.add(
    "embedding_analogy",
    f"""
    -- embeddable() twin on sources AND candidates, plus the composed
    -- target (r7 nonfinite parity, the mmr_rerank contract): an
    -- unembeddable vector cannot rank or compose
    WITH emb64 AS (SELECT * FROM embeddings WHERE {_emb_gate()}),
    abc AS (
      SELECT
        MAX(CASE WHEN vec_id = 0 THEN embedding END) AS va,
        MAX(CASE WHEN vec_id = 1 THEN embedding END) AS vb,
        MAX(CASE WHEN vec_id = 2 THEN embedding END) AS vc
      FROM emb64 WHERE vec_id < 3
    ),
    tgt AS (
      SELECT t FROM (
        SELECT [CAST(va[i + 1] AS DOUBLE) - CAST(vb[i + 1] AS DOUBLE)
                + CAST(vc[i + 1] AS DOUBLE) FOR i IN range(64)] AS t
        FROM abc
        WHERE va IS NOT NULL AND vb IS NOT NULL AND vc IS NOT NULL
      )
      WHERE list_sum([t[i + 1] * t[i + 1] FOR i IN range(64)]) > 0
        AND isfinite(list_sum([t[i + 1] * t[i + 1] FOR i IN range(64)]))
    ),
    scored AS (
      SELECT e.vec_id,
             list_sum([CAST(e.embedding[i + 1] AS DOUBLE) * t[i + 1]
                       FOR i IN range(64)])
             / (sqrt(list_sum([CAST(e.embedding[i + 1] AS DOUBLE)
                               * CAST(e.embedding[i + 1] AS DOUBLE)
                               FOR i IN range(64)]))
                * sqrt(list_sum([t[i + 1] * t[i + 1]
                                 FOR i IN range(64)]))) AS sim
      FROM emb64 e, tgt
      WHERE e.vec_id >= 3
    )
    SELECT CAST(rank AS INT) AS rank, vec_id, ROUND(sim, 6) AS sim
    FROM (
      SELECT vec_id, sim,
             row_number() OVER (ORDER BY sim DESC, vec_id) AS rank
      FROM scored
    ) WHERE rank <= 5
    """,
    doc="vector-arithmetic analogy retrieval (king - man + woman): "
    "target = v0 - v1 + v2 composed IN-ROW (zip over ascending "
    "dims), then exact cosine top-5 over the remaining corpus with "
    "the same ascending-dim fold both engines (mmr_rerank's "
    "discipline — never the builtin cosine) and id tie-breaks. The "
    "1-row target broadcasts; the corpus streams once; swap the "
    "brute-force tail for sim_ann_* at 100 TB. MAX(CASE) pivots "
    "the three source vectors into one row without a window. "
    "Fixed-dim contract mirrored on both engines (ragged-dim "
    "sweep): every fold indexes dims 0..63.",
)
def embedding_analogy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.vectors import embeddable

    # the kernel-wide contract (r7 nonfinite parity, as mmr_rerank): an
    # unembeddable source or candidate vector cannot rank — a NULL/Inf
    # dim in v0/v1/v2 would NULL- or NaN-poison every candidate's sim
    # and rank pure tie-break noise
    e = load(spark, sf_dir, "embeddings").filter(embeddable("embedding", 64))

    def dot(x, y):
        return (
            f"aggregate(sequence(0, 63), CAST(0.0 AS DOUBLE), "
            f"(acc, i) -> acc + CAST({x}[i] AS DOUBLE)"
            f" * CAST({y}[i] AS DOUBLE))"
        )

    abc = e.filter(F.col("vec_id") < 3).agg(
        F.max(F.when(F.col("vec_id") == 0, F.col("embedding"))).alias("va"),
        F.max(F.when(F.col("vec_id") == 1, F.col("embedding"))).alias("vb"),
        F.max(F.when(F.col("vec_id") == 2, F.col("embedding"))).alias("vc"),
    )
    tgt = abc.select(
        F.expr(
            "transform(sequence(0, 63), i -> "
            "CAST(va[i] AS DOUBLE) - CAST(vb[i] AS DOUBLE)"
            " + CAST(vc[i] AS DOUBLE))"
        ).alias("t")
    ).filter(embeddable("t", 64))  # composed target must rank too (r7)
    scored = (
        e.filter(F.col("vec_id") >= 3)
        .crossJoin(F.broadcast(tgt))
        .select(
            "vec_id",
            (
                F.expr(dot("embedding", "t"))
                / (
                    F.sqrt(F.expr(dot("embedding", "embedding")))
                    * F.sqrt(F.expr(dot("t", "t")))
                )
            ).alias("sim"),
        )
    )
    w = Window.orderBy(F.desc("sim"), "vec_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select(
            F.col("rank").cast("int").alias("rank"),
            "vec_id",
            F.round("sim", 6).alias("sim"),
        )
    )
