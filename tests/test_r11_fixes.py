"""Round-11 optimization pins: brute-force query-side cap, NULL-id
contract restoration, and the degree-oriented wedge join's exactness
on a hub-skewed graph (VERDICT r10 items 3/6, ADVICE r10)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def test_brute_query_cap_raises(spark, monkeypatch):
    """An oversized query frame must raise, not OOM the driver."""
    from llm_batch_processor_spark.operators import similarity

    from llm_batch_processor_spark.tables import load

    e = load(spark, SF, "embeddings")
    queries = e.limit(10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    monkeypatch.setattr(similarity, "BRUTE_QUERY_MAX_ROWS", 5)
    with pytest.raises(ValueError, match="query side exceeds"):
        similarity.brute_force_topk(e, queries, k=3, dim=64)


def test_brute_cap_admits_bounded_queries(spark):
    """At the real cap the declared-query shape is unaffected."""
    from llm_batch_processor_spark.operators.similarity import (
        brute_force_topk,
    )
    from llm_batch_processor_spark.tables import load

    e = load(spark, SF, "embeddings")
    queries = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = brute_force_topk(e, queries, k=3, dim=64)
    assert out.count() > 0


def test_brute_null_ids_dropped_both_sides(spark):
    """ADVICE r10: the pre-r10 SQL exclusion ``neighbor_id != query_id``
    dropped NULL-id rows on both sides (NULL compare -> filtered); the
    numpy mask kept them. Pin the restored contract."""
    from llm_batch_processor_spark.operators.similarity import (
        brute_force_topk,
    )

    vec = [float(i) for i in range(4)]
    corpus = spark.createDataFrame(
        [(1, vec), (2, [2.0, 1.0, 0.0, 1.0]), (None, [1.0] * 4)],
        "vec_id bigint, embedding array<float>",
    )
    queries = spark.createDataFrame(
        [(1, vec), (None, vec)],
        "query_id bigint, embedding array<float>",
    )
    rows = brute_force_topk(corpus, queries, k=5, dim=4).collect()
    assert rows  # query 1 scores the non-NULL corpus
    assert all(r["neighbor_id"] is not None for r in rows)
    assert all(r["query_id"] is not None for r in rows)


def test_triangles_orientation_exact_on_hub_graph(spark, tmp_path):
    """The degree-oriented wedge join must count exactly like the
    brute per-node triangle count on a graph with a high-degree hub —
    the skew shape the orientation exists for (VERDICT r10 item 3)."""
    from itertools import combinations

    from llm_batch_processor_spark.queries import all_queries

    # hub doc 0 holds bigrams (a1 a2)..(a5 a6); spoke i holds the two
    # consecutive hub bigrams (a_i a_{i+1}), (a_{i+1} a_{i+2}) —
    # hub-spoke jaccard 2/5 = 0.4, consecutive spokes share one gram
    # (1/3 = 0.33), non-consecutive spokes share none. Every edge sits
    # strictly above the 0.2 threshold and the hub has the highest
    # degree, so triangles must be enumerated at their SPOKE corners
    # under the (deg, id) orientation — the skew shape under test.
    docs = [(0, " ".join(f"a{i}" for i in range(1, 7)))]
    for i in range(1, 5):
        docs.append((i, f"a{i} a{i + 1} a{i + 2}"))
    sdf = spark.createDataFrame(docs, "doc_id bigint, text string")
    sdf.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    out = {
        (r["node"], r["n_triangles"])
        for r in all_queries()["graph_triangles"]
        .fn(spark, str(tmp_path))
        .collect()
    }

    # brute force: rebuild the exact-jaccard edge set in python
    def grams(text):
        toks = text.split(" ")
        return {f"{a} {b}" for a, b in zip(toks, toks[1:])}

    gs = {d: grams(t) for d, t in docs}
    ids = sorted(gs)
    edges = set()
    for u, v in combinations(ids, 2):
        inter = len(gs[u] & gs[v])
        union = len(gs[u] | gs[v])
        if union and inter / union >= 0.2:
            edges.add((u, v))
    tri_count = {d: 0 for d in ids}
    for a, b, c in combinations(ids, 3):
        if (
            (a, b) in edges
            and (b, c) in edges
            and (a, c) in edges
        ):
            for n in (a, b, c):
                tri_count[n] += 1
    expected = {(d, n) for d, n in tri_count.items() if n >= 1}
    assert out == expected
    assert expected  # non-degenerate: the fixture really has triangles
