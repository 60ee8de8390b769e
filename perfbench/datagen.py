"""Seeded input generators for the benchmark.

``write_tables`` writes the ten analytics tables (TPC-H-like star schema
plus ``events``, ``documents`` and ``embeddings``) as one parquet file
each, with the column types and value domains of the repo's testdata
(FIXTURES.md §2): row counts scale with ``sf`` the same way, timestamps
are TIMESTAMP(MICROS), 5% of documents are near-duplicates of an earlier
one, and embeddings are 64-dim unit vectors.

``llm_records`` / ``http_records`` build the JSONL job inputs of the two
LLM workloads, and ``http_schedule`` the stub server's seeded latency and
fault plan.
"""

from __future__ import annotations

import base64
import json
import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
PART_ADJ = "anvil blue cold hot large new old red small".split()
PART_NOUN = "bolt gear gizmo plate ring rod widget".split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.43, 0.14, 0.15, 0.14, 0.14]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

_DAY_US = 86_400_000_000


def _days(rng, start: str, end: str, n: int) -> np.ndarray:
    lo = np.datetime64(start, "D")
    span = int((np.datetime64(end, "D") - lo).astype(int))
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _text(rng, n_words: int) -> str:
    return " ".join(WORDS[i] for i in rng.integers(0, len(WORDS), n_words))


def _tables(sf: float, seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * sf), max(int(10_000 * sf), 10)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = max(int(15_000 * sf), 5)
    n_docs, n_vecs = max(int(50_000 * sf), 500), max(int(20_000 * sf), 500)
    t: dict[str, pa.Table] = {}

    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, -1000, 10000, n_cust),
            "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, -1000, 10000, n_supp),
        }
    )
    adj = rng.integers(0, len(PART_ADJ), n_part)
    noun = rng.integers(0, len(PART_NOUN), n_part)
    t["part"] = pa.table(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": [P_TYPES[i] for i in rng.integers(0, 6, n_part)],
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, 1000, 500_000, n_ord),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
            "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)],
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
            "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900, 105_000, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_line)],
            "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_line)],
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_line),
        }
    )
    ts_us = np.sort(rng.integers(0, 30 * _DAY_US, n_ev))
    t["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": np.datetime64("2024-01-01", "us") + ts_us.astype("timedelta64[us]"),
            "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
            "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
            "value": np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    texts: list[str] = []
    for i in range(n_docs):
        if i > 0 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(_text(rng, int(rng.integers(10, 100))))
    t["documents"] = pa.table(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": [LANGS[i] for i in rng.choice(5, n_docs, p=LANG_P)],
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
        }
    )
    vecs = rng.standard_normal((n_vecs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_vecs, dtype=np.int64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": rng.integers(0, 10, n_vecs).astype(np.int32),
        }
    )
    return t


def write_tables(out_dir: str, sf: float, seed: int) -> None:
    """Write ``<out_dir>/<table>.parquet`` for all ten tables; the same
    (sf, seed) always gives the same files. A ``.done`` marker is written
    last, so a directory without it is an interrupted write."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in _tables(sf, seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    open(os.path.join(out_dir, ".done"), "w").close()


def llm_records(n: int, seed: int) -> tuple[list[str], dict[str, str]]:
    """``llm_mock`` input: (JSONL lines, {id: content}) for the valid lines.

    Every prompt is unique (the record id is part of the text), 1% of
    lines are corrupt JSON and 5% of records carry one ~16 KB base64
    image."""
    rng = np.random.default_rng(seed)
    image = base64.b64encode(rng.bytes(12_000)).decode()
    lines, contents = [], {}
    for i in range(n):
        rid = f"m{i}"
        content = f"{rid} {_text(rng, int(rng.integers(10, 100)))}"
        if rng.random() < 0.01:
            lines.append(f'{{"id": "{rid}", "texts": {{"content": broken')
            continue
        images = [image] if rng.random() < 0.05 else []
        lines.append(json.dumps({"id": rid, "texts": {"content": content}, "images": images}))
        contents[rid] = content
    return lines, contents


def http_records(n: int, seed: int) -> tuple[list[str], dict[str, str]]:
    """``llm_http`` input: (JSONL lines, {id: content}); exactly 20% of
    records (never the first) repeat the content of an earlier record, so
    their prompts are shared."""
    rng = np.random.default_rng(seed)
    repeats = set((1 + rng.permutation(n - 1)[: n // 5]).tolist())
    lines, contents, uniques = [], {}, []
    for i in range(n):
        rid = f"h{i}"
        if i in repeats:
            content = uniques[int(rng.integers(0, len(uniques)))]
        else:
            content = f"{rid} {_text(rng, int(rng.integers(10, 40)))}"
            uniques.append(content)
        lines.append(json.dumps({"id": rid, "texts": {"content": content}}))
        contents[rid] = content
    return lines, contents


def http_schedule(prompts: list[str], seed: int) -> dict[str, tuple[float, str]]:
    """Per distinct prompt: (latency seconds, fault) where fault is one of
    ``ok``, ``500_once``, ``429_once`` or ``500_always``.

    Latencies are a stratified log-uniform sample over 10-80 ms, one per
    stratum, dealt out in seeded order; faults are exact shares of the
    distinct prompts (3%, 2%, 1%). So seeds change which prompt is slow
    or faulty, but hardly the total backend time or the number of
    requests a correct client makes."""
    rng = np.random.default_rng(seed + 1)
    distinct = sorted(set(prompts))
    n = len(distinct)
    strata = (np.arange(n) + 0.5) / n
    lat = np.exp(math.log(0.010) + strata * math.log(8.0))[rng.permutation(n)]
    order = rng.permutation(n)
    n500, n429, ndead = round(0.03 * n), round(0.02 * n), round(0.01 * n)
    fault = ["ok"] * n
    for j in order[:n500]:
        fault[j] = "500_once"
    for j in order[n500 : n500 + n429]:
        fault[j] = "429_once"
    for j in order[n500 + n429 : n500 + n429 + ndead]:
        fault[j] = "500_always"
    return {p: (float(lat[j]), fault[j]) for j, p in enumerate(distinct)}
