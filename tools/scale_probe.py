#!/usr/bin/env python
"""One-off sf1 scale probe for the heavy kernels (VERDICT r04 item 5).

The driver ships sf0.001/0.01/0.1 only. This tool synthesizes an
sf1-equivalent dataset (10x sf0.1) under ``.scale_probe/sf1/`` inside
the repo (gitignored — ~60 MB of parquet) and times the heavy kernels
at both scales to confirm the documented bounds hold an order of
magnitude up (no super-linear blowup).

Synthesis (DuckDB, deterministic — no RNG):
- ``documents`` 5k -> 50k: 10 replicas; replica k>0 offsets doc_id by
  k*10_000_000 and suffixes every TOKEN with ``~k``. Within a replica
  the bigram/shingle structure (and therefore the near-dup pair set)
  is exactly sf0.1's; across replicas every n-gram is distinct — the
  pair count grows LINEARLY (10x), which is the realistic "corpus
  grew, near-dup density per doc constant" scaling, not the
  pathological 100x of naive exact copies.
- ``embeddings`` 2k -> 20k: replica k>0 offsets vec_id and rotates the
  vector deterministically (dim-dependent additive shift, renorm-free)
  so cross-replica cosines fall well below dup thresholds while
  replica 0 (incl. the vec_id=0 query row) is untouched.
- ``events`` 100k -> 1M: replica k offsets event_id by k*1e9 and
  user_id by k*10_000 (user cardinality grows 10x too, as it would).
- ``orders`` 150k -> 1.5M / ``customer`` 15k -> 150k /
  ``lineitem`` 600k -> 6M: replica k offsets o_orderkey/l_orderkey by
  k*1_000_000 and o_custkey/c_custkey by k*100_000, preserving
  referential integrity within each replica; l_partkey/l_suppkey stay
  in the UNSCALED part/supplier ranges (dims stay dims — exactly the
  broadcast-join shape a 10x fact growth has in production).
- ``region nation part supplier`` are copied unscaled (dimensions).

Usage:
    python tools/scale_probe.py [--rebuild] [--repeat 2]
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SRC = "/root/testdata/sf0.1"
DST = os.path.join(REPO, ".scale_probe", "sf1")
REPLICAS = 10


def dst_for(replicas: int) -> str:
    """Dataset dir for an N-replica synthesis (10 replicas == sf1)."""
    return os.path.join(REPO, ".scale_probe", f"sf{replicas / 10:g}")

# the heavy kernels VERDICT r04 item 5 names, plus the top-k feed
PROBES = [
    "dedup_containment",
    "graph_triangles",
    "sim_topk",  # mmr_rerank's candidate feed
    "mmr_rerank",
    "bootstrap_ci_det",
]


def build(replicas: int = REPLICAS, dst: str | None = None) -> None:
    import duckdb

    dst = dst or dst_for(replicas)
    os.makedirs(dst, exist_ok=True)
    con = duckdb.connect()
    rep = f"(SELECT CAST(r AS BIGINT) AS k FROM range({replicas}) t(r))"

    con.sql(
        f"""
        COPY (
          SELECT doc_id + k * 10000000 AS doc_id,
                 CASE WHEN k = 0 THEN text
                      ELSE array_to_string(
                             list_transform(string_split(text, ' '),
                                            x -> x || '~' || CAST(k AS VARCHAR)),
                             ' ')
                 END AS text,
                 lang, source, n_chars
          FROM '{SRC}/documents.parquet', {rep}
        ) TO '{dst}/documents.parquet' (FORMAT PARQUET)
        """
    )
    con.sql(
        f"""
        COPY (
          SELECT vec_id + k * 10000000 AS vec_id,
                 CASE WHEN k = 0 THEN embedding
                      ELSE list_transform(
                             list_zip(embedding,
                                      range(1, len(embedding) + 1)),
                             z -> CAST(z[1] + 0.05 * k * sin(CAST(z[2] AS DOUBLE)
                                       * (k + 1)) AS FLOAT))
                 END AS embedding,
                 label
          FROM '{SRC}/embeddings.parquet', {rep}
        ) TO '{dst}/embeddings.parquet' (FORMAT PARQUET)
        """
    )
    con.sql(
        f"""
        COPY (
          SELECT event_id + k * 1000000000 AS event_id, ts,
                 user_id + k * 10000 AS user_id, event_type, value, props
          FROM '{SRC}/events.parquet', {rep}
        ) TO '{dst}/events.parquet' (FORMAT PARQUET)
        """
    )
    con.sql(
        f"""
        COPY (
          SELECT o_orderkey + k * 1000000 AS o_orderkey,
                 o_custkey + k * 100000 AS o_custkey,
                 o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
          FROM '{SRC}/orders.parquet', {rep}
        ) TO '{dst}/orders.parquet' (FORMAT PARQUET)
        """
    )
    con.sql(
        f"""
        COPY (
          SELECT c_custkey + k * 100000 AS c_custkey,
                 c_name || CASE WHEN k = 0 THEN '' ELSE '~' || CAST(k AS VARCHAR) END AS c_name,
                 c_nationkey, c_acctbal, c_mktsegment
          FROM '{SRC}/customer.parquet', {rep}
        ) TO '{dst}/customer.parquet' (FORMAT PARQUET)
        """
    )
    con.sql(
        f"""
        COPY (
          SELECT l_orderkey + k * 1000000 AS l_orderkey,
                 l_partkey, l_suppkey, l_linenumber, l_quantity,
                 l_extendedprice, l_discount, l_tax, l_returnflag,
                 l_linestatus, l_shipdate
          FROM '{SRC}/lineitem.parquet', {rep}
        ) TO '{dst}/lineitem.parquet' (FORMAT PARQUET)
        """
    )
    for t in ("region", "nation", "supplier", "part"):
        shutil.copy(f"{SRC}/{t}.parquet", f"{dst}/{t}.parquet")
    con.close()


# the ladder probes (VERDICT r8 item 5): the near-dup/graph/CC family
# plus the two output-quadratic fixtures — ENGINE-ONLY (noop sink, no
# oracle), so another scale decade stays tractable
LADDER_PROBES = [
    "dedup_minhash",
    "dedup_ngram_jaccard",
    "dedup_clusters",
    "dedup_semantic_pipeline",
    "graph_pagerank",
    "graph_triangles",
    "degree_distribution",
    "sim_topk",
    "join_spatial_grid",   # output-quadratic within grid cells
    "join_range_banded",   # output-quadratic within bands
]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rebuild", action="store_true")
    ap.add_argument("--repeat", type=int, default=2)
    ap.add_argument("--only", default="")
    ap.add_argument(
        "--scale", type=float, default=1.0,
        help="target synthetic scale in sf units (1 = 10 replicas of "
        "sf0.1; 10 = 100 replicas). Builds .scale_probe/sf<scale> on "
        "first use.",
    )
    ap.add_argument(
        "--baseline", type=float, default=0.0,
        help="compare against this synthetic scale instead of raw "
        "sf0.1 (e.g. --scale 10 --baseline 1 probes the 10x step "
        "sf1 -> sf10, the r9 ladder decade)",
    )
    ap.add_argument(
        "--ladder", action="store_true",
        help="use the r9 LADDER_PROBES list (near-dup/graph/CC family "
        "+ output-quadratic fixtures) instead of the r4 PROBES",
    )
    args = ap.parse_args()

    def ensure(scale: float) -> str:
        d = dst_for(int(round(scale * 10)))
        if args.rebuild or not os.path.exists(f"{d}/documents.parquet"):
            t0 = time.time()
            build(int(round(scale * 10)), d)
            print(f"built {d} in {time.time() - t0:.0f}s", flush=True)
        return d

    big_dir = ensure(args.scale)
    small_dir = ensure(args.baseline) if args.baseline else SRC
    small_label = f"sf{args.baseline:g}" if args.baseline else "sf0.1"
    big_label = f"sf{args.scale:g}"
    factor = (args.scale / args.baseline) if args.baseline else args.scale * 10

    from llm_batch_processor_spark.queries import all_queries
    from llm_batch_processor_spark.session import get_spark, stop_spark

    spark = get_spark(app_name="scale_probe")
    qs = all_queries()
    default_probes = LADDER_PROBES if args.ladder else PROBES
    probes = [p for p in (args.only.split(",") if args.only else default_probes)]

    def run(name: str, sf_dir: str) -> float:
        best = None
        for _ in range(args.repeat):
            t0 = time.time()
            qs[name].fn(spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
        # same hygiene as bench.py: without this, sf1 runs leave GBs of
        # persisted frames that inflate every later probe in the session
        spark.catalog.clearCache()
        import gc

        gc.collect()
        return best

    # warmup
    qs["agg_group"].fn(spark, SRC).write.format("noop").mode("overwrite").save()

    print(f"{'query':24s} {small_label:>8s} {big_label:>8s} {'ratio':>6s}"
          f"  ({factor:g}x data)", flush=True)
    for name in probes:
        t_small = run(name, small_dir)
        t_big = run(name, big_dir)
        ratio = t_big / max(t_small, 1e-9)
        print(f"{name:24s} {t_small:8.2f} {t_big:8.2f} {ratio:5.1f}x",
              flush=True)
    stop_spark(spark)
    return 0


if __name__ == "__main__":
    sys.exit(main())
