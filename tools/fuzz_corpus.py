"""Seeded random-corpus fuzzer — the r5-r8 hazard domains mechanized
(VERDICT r8 item 1).

Every hand-built hostile corpus (NULLs, hostile text, skew, extreme
keys/ts/money/ints, non-finite, ragged, combined) found real engine or
oracle divergences on its FIRST run — but each domain was a fixed,
hand-chosen interaction cell. This tool generalizes them into an
axis-sampling generator: per seed it draws a hazard PLAN (which axes
are on, their lane moduli/residues, full-vs-half skew, value pools)
and synthesizes a corpus where those hazards land on seed-dependent
row sets — so N seeds explore N different interaction cells, including
the ones nobody thought to hand-build.

Contract per seed: keys stay UNIQUE (the dupkeys contract class is a
separate typed matrix row) and every table keeps non-degenerate
pristine mass (hazard lanes are sparse, moduli >= 7 for payload axes),
so the FULL oracle gate is the bar — the same 271/0/5 as pristine.

Value pools are the proven ones from the hand-built corpus builders
(tools/payload_sweeps.py, extreme_ts_sweep.py, nonfinite_sweep.py,
ragged_dim_sweep.py) —
including their documented structural bounds (money over-rail 1e13
TRY_CASTs to NULL identically in both engines; the huge int lane is
int64max/1e6 so corpus SUMs stay inside int64; pandas-written NaN
vector dims arrive as parquet NULL elements). What the fuzzer adds is
the seeded COMPOSITION of those pools.

Usage:
    python tools/robustness_matrix.py --rows fuzz --seeds 5   # seeds 0..4
    # one corpus, one query: build_fuzz(SRC, DIR, seed), then
    python tools/selfcheck.py --sf DIR --only q
"""

from __future__ import annotations

from pathlib import Path

import numpy as np

from tools.payload_sweeps import HOSTILE_TEXTS, copy_unchanged
from tools.ragged_dim_sweep import BAD_PROPS, RAGGED_DIMS

I64 = 9223372036854775807

TS_SENTINELS = (
    "TIMESTAMP '9999-12-31 23:59:59'",
    "TIMESTAMP '0001-01-01 00:00:00'",
    "TIMESTAMP '2262-04-12 00:00:00'",   # just past int64-ns max
    "TIMESTAMP '1677-09-21 00:00:00'",   # just before int64-ns min
    "TIMESTAMP '1970-01-01 00:00:00'",
)
DATE_SENTINELS = ("DATE '9999-12-31'", "DATE '0001-01-01'")
MONEY_POOL = ("0.0", "-98765.432101", "999999999999.999999",
              "0.000001", "10000000000000.0")
NONFIN_POOL = ("'nan'::DOUBLE", "'infinity'::DOUBLE", "'-infinity'::DOUBLE")


def sample_plan(seed: int) -> dict:
    """Draw the hazard plan for one seed. Returned dict is pure data
    (printable / JSON-serializable) so a divergence report can quote
    the exact plan that produced it."""
    rng = np.random.default_rng(seed + 0x5EED)

    def lane(p_on: float = 0.6, moduli=(7, 11, 13, 17, 23)) -> int:
        """0 = axis off; else the lane modulus (rows where
        key % modulus == residue get the hazard)."""
        return int(rng.choice(moduli)) if rng.random() < p_on else 0

    def res(mod: int) -> int:
        return int(rng.integers(0, mod)) if mod else 0

    p: dict = {"seed": seed}

    # --- key remap (bijective: uniqueness preserved) ------------------
    m = lane(0.5, (10, 12, 16))
    p["key_mod"] = m
    p["key_res_rail"] = res(m)          # id -> int64max - id
    p["key_res_neg"] = res(m) if m else 0  # id -> -id (may equal rail res)

    # --- documents -----------------------------------------------------
    for ax, moduli in (
        ("doc_text_null", (7, 11, 13)),
        ("doc_boiler", (2, 3, 7)),          # clique axis: up to half
        ("doc_hostile", (7, 11, 13)),
        ("doc_lang_null", (7, 11, 13)),
        ("doc_source_null", (7, 11, 13)),
        ("doc_nchars_int", (13, 17, 21)),   # 4 int lanes
    ):
        m = lane(0.6, moduli)
        p[ax] = m
        p[ax + "_r"] = res(m)
    p["doc_lang_skew"] = bool(rng.random() < 0.4)
    p["doc_source_skew"] = bool(rng.random() < 0.4)

    # --- events ----------------------------------------------------------
    # multi-value pools get moduli >= ~5x the pool size so the hazard
    # mass stays sparse (extreme_ts used %50 for 5 sentinels; the
    # nonfinite cycle was ~1/4 of rows)
    for ax, moduli in (
        ("ev_ts_sentinel", (25, 50)),        # 5 sentinels
        ("ev_value_null", (5, 7, 11)),       # single lane
        ("ev_value_nonfin", (16, 20, 28)),   # 4 values
        ("ev_props_null", (5, 7, 11)),
        ("ev_props_bad", (15, 20, 25)),      # 5 values
    ):
        m = lane(0.6, moduli)
        p[ax] = m
        p[ax + "_r"] = res(m)
    p["ev_user_skew"] = int(rng.choice((0, 1, 2), p=(0.4, 0.3, 0.3)))
    # 0 = off, 1 = half the rows on one user, 2 = ALL rows one user
    p["ev_type_skew"] = bool(rng.random() < 0.4)

    # --- embeddings ------------------------------------------------------
    for ax, moduli in (
        ("emb_null", (8, 11, 16)),
        ("emb_nonfin", (11, 16, 24)),       # 5 lanes: keep finite mass
        ("emb_ragged", (8, 11, 16)),
        ("emb_label_null", (8, 11, 16)),
    ):
        m = lane(0.6, moduli)
        p[ax] = m
        p[ax + "_r"] = res(m)
    p["emb_label_skew"] = bool(rng.random() < 0.4)

    # --- money / quantities (sparse: moduli >= 20 keep aggregate mass) --
    for ax in ("li_money", "li_qty", "li_disc", "li_tax", "o_money",
               "c_money", "s_money", "p_money"):
        m = lane(0.6, (20, 25, 35))
        p[ax] = m
        p[ax + "_r"] = res(max(m - 5, 1)) if m else 0  # 5 pool lanes fit
    p["money_nonfin"] = lane(0.5, (40, 45))  # true-NaN/Inf lanes, very sparse
    p["money_nonfin_r"] = res(max(p["money_nonfin"] - 3, 1)) if p["money_nonfin"] else 0

    # --- integer payloads ------------------------------------------------
    m = lane(0.5, (13, 17))
    p["p_size_int"] = m
    p["p_size_int_r"] = res(m)

    # --- dates -----------------------------------------------------------
    for ax in ("o_date_sentinel", "li_date_sentinel"):
        m = lane(0.5, (40, 50))
        p[ax] = m
        p[ax + "_r"] = res(max(m - 2, 1)) if m else 0

    # --- join-key skew (FKs only — PKs stay unique) ----------------------
    p["o_custkey_skew"] = bool(rng.random() < 0.4)
    p["li_partsupp_skew"] = bool(rng.random() < 0.4)

    # --- physical row order ----------------------------------------------
    p["rowperm"] = bool(rng.random() < 0.5)
    return p


def _remap(plan: dict, col: str) -> str:
    """SQL for the bijective extreme-key remap of ``col`` (conditions
    on the ORIGINAL value, like every hand-built domain)."""
    m = plan["key_mod"]
    if not m:
        return col
    rail, neg = plan["key_res_rail"], plan["key_res_neg"]
    sql = f"CASE WHEN {col} % {m} = {rail} THEN {I64} - {col} "
    if neg != rail:
        sql += f"WHEN {col} % {m} = {neg} THEN -{col} "
    return sql + f"ELSE {col} END"


def _pool_case(key: str, mod: int, res0: int, pool: tuple, default: str) -> str:
    """CASE over `len(pool)` consecutive residues of ``key % mod``
    starting at res0 (wrapping), one pool value per residue."""
    if not mod:
        return default
    whens = " ".join(
        f"WHEN {(res0 + i) % mod} THEN {v}" for i, v in enumerate(pool)
    )
    return f"CASE {key} % {mod} {whens} ELSE {default} END"


def build_fuzz(src: str, dst: Path, seed: int) -> dict:
    """Synthesize the seed's corpus into ``dst``; returns the plan."""
    import duckdb
    import pandas as pd

    plan = sample_plan(seed)
    con = duckdb.connect()
    hostile = pd.DataFrame(
        {"idx": range(len(HOSTILE_TEXTS)), "htext": HOSTILE_TEXTS}
    )
    con.register("hostile", hostile)

    def order_by(key_expr: str) -> str:
        # rowperm axis: deterministic pseudo-random physical row order
        return (f" ORDER BY md5(CAST({key_expr} AS VARCHAR))"
                if plan["rowperm"] else "")

    # ---- documents ------------------------------------------------------
    text_case = "d.text"
    nch_case = "d.n_chars"
    if plan["doc_hostile"]:
        cond = f"doc_id % {plan['doc_hostile']} = {plan['doc_hostile_r']}"
        text_case = f"CASE WHEN {cond} THEN h.htext ELSE {text_case} END"
        nch_case = f"CASE WHEN {cond} THEN length(h.htext) ELSE {nch_case} END"
    if plan["doc_boiler"]:
        cond = f"doc_id % {plan['doc_boiler']} = {plan['doc_boiler_r']}"
        text_case = (f"CASE WHEN {cond} THEN "
                     f"'the same boilerplate page every crawler saw' "
                     f"ELSE {text_case} END")
        nch_case = f"CASE WHEN {cond} THEN 43 ELSE {nch_case} END"
    if plan["doc_text_null"]:
        # NULL wins (outermost): text NULL implies n_chars NULL, the
        # nulls-domain convention
        cond = f"doc_id % {plan['doc_text_null']} = {plan['doc_text_null_r']}"
        text_case = f"CASE WHEN {cond} THEN NULL ELSE {text_case} END"
        nch_case = f"CASE WHEN {cond} THEN NULL ELSE {nch_case} END"
    if plan["doc_nchars_int"]:
        # extreme-int lanes on a residue of their own modulus; applied
        # after (outside) the text-derived values like extremeints
        nch_case = _pool_case(
            "doc_id", plan["doc_nchars_int"], plan["doc_nchars_int_r"],
            ("-greatest(" + nch_case + ", 1)", "0", "2147483647",
             "9223372036854"),
            nch_case,
        )
    lang_case = "'en'" if plan["doc_lang_skew"] else "d.lang"
    if plan["doc_lang_null"]:
        lang_case = (f"CASE WHEN doc_id % {plan['doc_lang_null']} = "
                     f"{plan['doc_lang_null_r']} THEN NULL ELSE {lang_case} END")
    src_case = "'src0'" if plan["doc_source_skew"] else "d.source"
    if plan["doc_source_null"]:
        src_case = (f"CASE WHEN doc_id % {plan['doc_source_null']} = "
                    f"{plan['doc_source_null_r']} THEN NULL ELSE {src_case} END")
    con.sql(
        f"""COPY (SELECT {_remap(plan, 'doc_id')} AS doc_id,
            {text_case} AS text, {lang_case} AS lang,
            {src_case} AS source,
            CAST({nch_case} AS BIGINT) AS n_chars
            FROM '{src}/documents.parquet' d
            LEFT JOIN hostile h ON h.idx = d.doc_id % {len(HOSTILE_TEXTS)}
            {order_by('d.doc_id')})
            TO '{dst}/documents.parquet' (FORMAT PARQUET)"""
    )

    # ---- events ---------------------------------------------------------
    ts_case = _pool_case("event_id", plan["ev_ts_sentinel"],
                         plan["ev_ts_sentinel_r"], TS_SENTINELS, "ts")
    val_case = "value"
    if plan["ev_value_nonfin"]:
        val_case = _pool_case(
            "event_id", plan["ev_value_nonfin"], plan["ev_value_nonfin_r"],
            NONFIN_POOL + ("1e308",), val_case)
    if plan["ev_value_null"]:
        val_case = (f"CASE WHEN event_id % {plan['ev_value_null']} = "
                    f"{plan['ev_value_null_r']} THEN NULL ELSE {val_case} END")
    props_case = "props"
    if plan["ev_props_bad"]:
        props_case = _pool_case(
            "event_id", plan["ev_props_bad"], plan["ev_props_bad_r"],
            tuple("'" + b.replace("'", "''") + "'" for b in BAD_PROPS),
            props_case)
    if plan["ev_props_null"]:
        props_case = (f"CASE WHEN event_id % {plan['ev_props_null']} = "
                      f"{plan['ev_props_null_r']} THEN NULL ELSE {props_case} END")
    if plan["ev_user_skew"] == 2:
        user_case = "0"
    elif plan["ev_user_skew"] == 1:
        user_case = f"CASE WHEN event_id % 2 = 0 THEN 0 ELSE {_remap(plan, 'user_id')} END"
    else:
        user_case = _remap(plan, "user_id")
    etype_case = "'click'" if plan["ev_type_skew"] else "event_type"
    con.sql(
        f"""COPY (SELECT {_remap(plan, 'event_id')} AS event_id,
            {ts_case} AS ts, {user_case} AS user_id,
            {etype_case} AS event_type, {val_case} AS value,
            {props_case} AS props
            FROM '{src}/events.parquet'
            {order_by('event_id')})
            TO '{dst}/events.parquet' (FORMAT PARQUET)"""
    )

    # ---- orders ---------------------------------------------------------
    tot_case = "o_totalprice"
    if plan["o_money"]:
        tot_case = _pool_case("o_orderkey", plan["o_money"],
                              plan["o_money_r"], MONEY_POOL, tot_case)
    if plan["money_nonfin"]:
        tot_case = _pool_case("o_orderkey", plan["money_nonfin"],
                              plan["money_nonfin_r"], NONFIN_POOL, tot_case)
    od_case = _pool_case("o_orderkey", plan["o_date_sentinel"],
                         plan["o_date_sentinel_r"], DATE_SENTINELS,
                         "o_orderdate")
    cust_case = ("CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE o_custkey END"
                 if plan["o_custkey_skew"] else "o_custkey")
    con.sql(
        f"""COPY (SELECT {_remap(plan, 'o_orderkey')} AS o_orderkey,
            {cust_case} AS o_custkey, o_orderstatus,
            {tot_case} AS o_totalprice, {od_case} AS o_orderdate,
            o_orderpriority
            FROM '{src}/orders.parquet'
            {order_by('o_orderkey')})
            TO '{dst}/orders.parquet' (FORMAT PARQUET)"""
    )

    # ---- lineitem (l_orderkey remap IDENTICAL to orders) ------------------
    lk = "(l_orderkey * 10 + l_linenumber)"
    price_case = "l_extendedprice"
    if plan["li_money"]:
        price_case = _pool_case(lk, plan["li_money"], plan["li_money_r"],
                                MONEY_POOL, price_case)
    if plan["money_nonfin"]:
        price_case = _pool_case(lk, plan["money_nonfin"],
                                plan["money_nonfin_r"], NONFIN_POOL,
                                price_case)
    qty_case = _pool_case(lk, plan["li_qty"], plan["li_qty_r"],
                          ("0.0", "-5.0", "1000000.0"), "l_quantity")
    disc_case = _pool_case(lk, plan["li_disc"], plan["li_disc_r"],
                           ("-0.5", "1.5", "1.0"), "l_discount")
    tax_case = _pool_case(lk, plan["li_tax"], plan["li_tax_r"],
                          ("9.99", "-0.1"), "l_tax")
    sd_case = _pool_case(lk, plan["li_date_sentinel"],
                         plan["li_date_sentinel_r"], DATE_SENTINELS,
                         "l_shipdate")
    part_case = ("CASE WHEN l_orderkey % 2 = 0 THEN 1 ELSE l_partkey END"
                 if plan["li_partsupp_skew"] else "l_partkey")
    supp_case = ("CASE WHEN l_orderkey % 2 = 0 THEN 1 ELSE l_suppkey END"
                 if plan["li_partsupp_skew"] else "l_suppkey")
    con.sql(
        f"""COPY (SELECT * REPLACE (
            {_remap(plan, 'l_orderkey')} AS l_orderkey,
            {part_case} AS l_partkey, {supp_case} AS l_suppkey,
            {qty_case} AS l_quantity, {price_case} AS l_extendedprice,
            {disc_case} AS l_discount, {tax_case} AS l_tax,
            {sd_case} AS l_shipdate)
            FROM '{src}/lineitem.parquet'
            {order_by(lk)})
            TO '{dst}/lineitem.parquet' (FORMAT PARQUET)"""
    )

    # ---- customer / supplier / part --------------------------------------
    for table, keycol, moneycol, ax in (
        ("customer", "c_custkey", "c_acctbal", "c_money"),
        ("supplier", "s_suppkey", "s_acctbal", "s_money"),
        ("part", "p_partkey", "p_retailprice", "p_money"),
    ):
        mc = _pool_case(keycol, plan[ax], plan[ax + "_r"], MONEY_POOL,
                        moneycol)
        extra = ""
        if table == "part" and plan["p_size_int"]:
            ps = _pool_case(keycol, plan["p_size_int"],
                            plan["p_size_int_r"],
                            ("-p_size", "0", "2147483647"), "p_size")
            extra = f", CAST({ps} AS INT) AS p_size"
        con.sql(
            f"""COPY (SELECT * REPLACE ({mc} AS {moneycol}{extra})
                FROM '{src}/{table}.parquet'
                {order_by(keycol)})
                TO '{dst}/{table}.parquet' (FORMAT PARQUET)"""
        )
    con.close()

    # ---- embeddings (pandas: NaN dims arrive as parquet NULL elements,
    # the shape real ingested embeddings have — nonfinite-domain note) ----
    emb = pd.read_parquet(f"{src}/embeddings.parquet")
    if plan["rowperm"]:
        import hashlib

        emb = emb.iloc[
            sorted(range(len(emb)),
                   key=lambda i: hashlib.md5(
                       str(emb["vec_id"].iat[i]).encode()).hexdigest())
        ].reset_index(drop=True)
    rng = np.random.default_rng(seed + 77)
    vids = emb["vec_id"].to_numpy(copy=True)
    vecs = [np.array(v, dtype=np.float32) for v in emb["embedding"]]
    out: list = []
    for i, vid in enumerate(vids):
        v = vecs[i]
        d = int(rng.integers(0, len(v)))  # rng stream advances per row
        if plan["emb_null"] and vid % plan["emb_null"] == plan["emb_null_r"]:
            out.append(None)
            continue
        if plan["emb_nonfin"]:
            m = (vid - plan["emb_nonfin_r"]) % plan["emb_nonfin"]
            if m == 0:
                v[d] = np.float32("nan")
            elif m == 1:
                v[d] = np.float32("inf")
            elif m == 2:
                v[d] = np.float32("-inf")
            elif m == 3:
                v[:] = np.float32("nan")
            elif m == 4:
                v[:] = 0.0
        if plan["emb_ragged"] and vid % plan["emb_ragged"] == plan["emb_ragged_r"]:
            v = rng.normal(size=RAGGED_DIMS[int(vid) % len(RAGGED_DIMS)]).astype(
                np.float32)
        out.append(v.tolist())
    emb["embedding"] = out
    if plan["emb_label_skew"]:
        emb["label"] = "label_0"
    if plan["emb_label_null"]:
        emb["label"] = [
            None if vid % plan["emb_label_null"] == plan["emb_label_null_r"]
            else lab
            for vid, lab in zip(vids, emb["label"])
        ]
    emb["vec_id"] = [
        (I64 - v if plan["key_mod"] and v % plan["key_mod"] == plan["key_res_rail"]
         else (-v if plan["key_mod"] and v % plan["key_mod"] == plan["key_res_neg"]
               else v))
        for v in vids
    ]
    emb.to_parquet(str(dst / "embeddings.parquet"))
    copy_unchanged(src, dst)
    return plan

