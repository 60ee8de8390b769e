"""Round-6 pins: the duplicate-probe collapse gate, the reliable
checkpoint-dir path through the iterative kernels, and the size-hint
gate of candidate_topk (VERDICT r05 items 2/4/6 + ADVICE r05)."""

from __future__ import annotations

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from llm_batch_processor_spark.operators.dedup import (
    _collapse_exact,
    connected_components,
    minhash_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)

NO_DUP_DOCS = [
    (0, "the quick brown fox jumps over the lazy dog again and again today"),
    (1, "the quick brown fox jumps over the lazy cat again and again today"),
    (2, "spark shuffles partitions across executors with adaptive query execution"),
    (3, "spark shuffles partitions across executors with adaptive query planning"),
    (4, "completely different content about embeddings and vector search stuff"),
]


def _nodup(spark):
    return spark.createDataFrame(NO_DUP_DOCS, "doc_id LONG, text STRING")


def _withdup(spark):
    return spark.createDataFrame(
        NO_DUP_DOCS + [(5, NO_DUP_DOCS[0][1]), (6, None), (7, None)],
        "doc_id LONG, text STRING",
    )


def test_collapse_probe_identity_path(spark):
    """Duplicate-free corpus: the probe must skip the window collapse
    entirely — members is the identity projection, reps carry m=1, and
    n_reps equals the row count without a separate count action."""
    members, reps, n_reps, collapsed = _collapse_exact(
        _nodup(spark), "doc_id", "text"
    )
    assert collapsed is False
    assert n_reps == len(NO_DUP_DOCS)
    got = {(r["id"], r["rep"]) for r in members.collect()}
    assert got == {(i, i) for i, _ in NO_DUP_DOCS}
    assert all(r["m"] == 1 for r in reps.collect())
    # no Window/persist in the identity plan: the physical plan of
    # members must not contain a window exchange
    assert "Window" not in members._jdf.queryExecution().executedPlan().toString()


def test_collapse_probe_materiality_gate(spark):
    """The gate is duplicate MASS, not existence: a handful of stray
    dup pairs keeps the identity path (skipping is exact — identical
    docs pair through the ordinary kernel); a clique whose avoided
    intra-pair mass exceeds the corpus size collapses. NULL groups
    count toward the mass (they collapse to one group exactly as the
    window did)."""
    # 8 rows, one m=2 text group + one m=2 NULL group: extra pairs = 2
    # <= 8 rows -> immaterial, identity path
    *_r1, collapsed = _collapse_exact(_withdup(spark), "doc_id", "text")
    assert collapsed is False
    # clique of 6 identical texts in 10 rows: C(6,2)=15 > 10 -> collapse
    clique = spark.createDataFrame(
        [(i, "the same boilerplate page body") for i in range(6)]
        + [(10 + i, t) for i, (_, t) in enumerate(NO_DUP_DOCS[:4])],
        "doc_id LONG, text STRING",
    )
    members, reps, n_reps, collapsed2 = _collapse_exact(clique, "doc_id", "text")
    assert collapsed2 is True
    assert n_reps == 5  # 1 clique group + 4 distinct
    rep_of = {r["id"]: r["rep"] for r in members.collect()}
    assert all(rep_of[i] == 0 for i in range(6))
    # NULL-clique corpus: NULLs form one group and its mass gates too
    nulls = spark.createDataFrame(
        [(i, None) for i in range(6)] + [(9, "x")],
        "doc_id LONG, text STRING",
    )
    *_r3, collapsed3 = _collapse_exact(nulls, "doc_id", "text")
    assert collapsed3 is True


def test_nodup_fast_path_pairs_exact(spark):
    """On a duplicate-free corpus the probe-gated fast path (no
    collapse, no expansion joins) must still produce the exact pair
    sets — brute-force Python is the reference for Jaccard."""
    d = _nodup(spark)
    got = {
        (r["id_a"], r["id_b"]): round(r["jaccard"], 9)
        for r in ngram_jaccard_pairs(d, n=2, min_jaccard=0.2).collect()
    }

    def grams(t):
        toks = t.split(" ")
        return {f"{a} {b}" for a, b in zip(toks, toks[1:])}

    texts = dict(NO_DUP_DOCS)
    want = {}
    for a in sorted(texts):
        for b in sorted(texts):
            if a >= b:
                continue
            ga, gb = grams(texts[a]), grams(texts[b])
            j = len(ga & gb) / len(ga | gb)
            if j >= 0.2:
                want[(a, b)] = round(j, 9)
    assert got == want

    mh = {
        (r["id_a"], r["id_b"])
        for r in minhash_pairs(
            d, shingle_n=2, jaccard_max_distance=0.5, num_hash_tables=8
        ).collect()
    }
    assert (0, 1) in mh and (2, 3) in mh
    sh = simhash_pairs(d, max_hamming=8).collect()
    assert all(r["id_a"] < r["id_b"] for r in sh)


def test_checkpoint_dir_reliable_path_identical_labels(spark, tmp_path):
    """With SparkContext.setCheckpointDir configured, every iterative
    kernel cut routes through a RELIABLE checkpoint (files land in the
    dir) and labels are identical to the local-checkpoint run
    (VERDICT r05 item 4)."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22)],
        "id_a LONG, id_b LONG",
    )
    # driver_edge_limit=0 forces the distributed label-propagation path
    base = {
        (r["id"], r["cluster_id"])
        for r in connected_components(pairs, driver_edge_limit=0).collect()
    }
    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None
    sc.setCheckpointDir(str(tmp_path / "ckpt"))
    try:
        got = {
            (r["id"], r["cluster_id"])
            for r in connected_components(pairs, driver_edge_limit=0).collect()
        }
        assert got == base == {
            (1, 1), (2, 1), (3, 1),
            (10, 10), (11, 10),
            (20, 20), (21, 20), (22, 20),
        }
        ckpt_files = list((tmp_path / "ckpt").rglob("*"))
        assert ckpt_files, "reliable checkpoint wrote nothing to the dir"
    finally:
        # unset so the shared session keeps localCheckpoint semantics
        # for the rest of the suite
        jsc = sc._jsc.sc()
        getattr(jsc, "checkpointDir_$eq")(sc._jvm.scala.Option.empty())
        assert sc.getCheckpointDir() is None


def test_candidate_topk_bounds_decide_gate_without_count(spark, monkeypatch):
    """When the corpus_rows bounds decide the gate, candidate_topk must
    not run any plan-time count() (VERDICT r05 item 6); an upper bound
    alone must never route to the approximate path (ADVICE r05)."""
    from llm_batch_processor_spark.operators import similarity as sim

    vecs = spark.createDataFrame(
        [(i, [float(i == j) for j in range(8)]) for i in range(1, 6)],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    )
    queries = spark.createDataFrame(
        [(100, [1.0] + [0.0] * 7)], "query_id LONG, embedding ARRAY<DOUBLE>"
    )

    def boom(self):
        raise AssertionError("plan-time count() ran despite decisive bounds")

    monkeypatch.setattr(DataFrame, "count", boom)
    # upper bound below gate -> exact brute force, zero count jobs
    got = sim.candidate_topk(
        vecs, queries, k=2, dim=8, corpus_rows=(0, sim.ANN_CANDIDATE_GATE)
    ).collect()
    assert [r["neighbor_id"] for r in sorted(got, key=lambda r: r["rank"])][0] == 1
    # lower bound above gate -> LSH path, zero count jobs
    got_lsh = sim.candidate_topk(
        vecs,
        queries,
        k=2,
        dim=8,
        corpus_rows=(sim.ANN_CANDIDATE_GATE + 1, sim.ANN_CANDIDATE_GATE + 2),
    )
    assert set(got_lsh.columns) == {"query_id", "neighbor_id", "rank"}
    monkeypatch.undo()
    # bounds that straddle the gate fall back to one exact count: a raw
    # footer count above the gate, passed as (0, n), never routes to
    # the approximate path by itself
    got2 = sim.candidate_topk(
        vecs, queries, k=2, dim=8,
        corpus_rows=(0, sim.ANN_CANDIDATE_GATE + 1),
    ).collect()
    assert {r["neighbor_id"] for r in got2} == {r["neighbor_id"] for r in got}


def test_collapsed_degree_nodes_persist_flag(spark):
    """persist_adj=False (the default) must not leave a cache entry
    behind for single-consumer callers (ADVICE r05)."""
    from llm_batch_processor_spark.operators.dedup import collapsed_degree_nodes

    rep_pairs = spark.createDataFrame(
        [(1, 2, 1, 2), (2, 3, 2, 1)], "id_a LONG, id_b LONG, m_a LONG, m_b LONG"
    )
    surv = spark.createDataFrame(
        [(1, 1), (2, 2), (3, 1)], "id LONG, m LONG"
    )
    adj, nodes = collapsed_degree_nodes(rep_pairs, surv)
    assert adj.storageLevel.useMemory is False
    got = {(r["g"], r["m"], r["deg"]) for r in nodes.collect()}
    # deg(g) = (m-1) + sum(m_h): 1 -> 0+2; 2 -> 1+1+1+1=... m=2: (2-1)+m_1+m_3=1+1+1=3; 3 -> 0+2
    assert got == {(1, 1, 2), (2, 2, 3), (3, 1, 2)}
    adj_p, _ = collapsed_degree_nodes(rep_pairs, surv, persist_adj=True)
    assert adj_p.storageLevel.useMemory is True
    adj_p.unpersist()
