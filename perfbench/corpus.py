"""The benchmark's corpus: a deterministic star schema in the shape the
engine's loaders expect (hadoop_source_spark/data.py), generated from a
fixed seed so that every checkout builds byte-identical inputs and the
expected fingerprints in expected.json stay valid.

Row counts follow the scale rule of the test corpus in TESTDATA.md (lineitem = 6M x sf,
events = 1M x sf, documents = 50k x sf, embeddings = 20k x sf) and the
value distributions follow it too: uniform foreign keys, 30-word
documents of 10-100 words of which ~5% are planted near-duplicates
(" dup" appended to an earlier document) and a few are exact copies,
unit-norm 64-d embeddings with a weak per-label centre. Each table is
ONE parquet file with timestamp[us] (no timezone) columns, the layout
oracle.duck_connect reads.

The run's --seed never reaches this module: it only reorders ops and
picks storage keys (see workloads.py).
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

CORPUS_SEED = 20240101
LAYOUT_VERSION = 3

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
P_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
P_WORDS_A = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
P_WORDS_B = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
EVENT_TYPES = ("signup", "click", "error", "view", "purchase")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")

US_PER_DAY = 86_400 * 1_000_000


def _us(date: str) -> int:
    return int(np.datetime64(date, "us").astype(np.int64))


def _ts(values_us: np.ndarray) -> pa.Array:
    return pa.array(values_us.astype(np.int64), pa.timestamp("us"))


def _days(rng: np.random.Generator, n: int, lo: str, hi: str) -> pa.Array:
    lo_d, hi_d = _us(lo) // US_PER_DAY, _us(hi) // US_PER_DAY
    return _ts(rng.integers(lo_d, hi_d + 1, n) * US_PER_DAY)


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(sf: float, seed: int = CORPUS_SEED) -> dict[str, pa.Table]:
    """All ten tables at scale factor `sf` (sf=0.1 -> 600k lineitem rows)."""
    rng = np.random.default_rng([seed, int(round(sf * 1e6))])
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_doc, n_vec = int(1_000_000 * sf), int(50_000 * sf), int(20_000 * sf)
    n_users = max(10, int(15_000 * sf))
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": list(REGIONS),
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
    })
    pk = np.arange(n_part, dtype=np.int64)
    out["part"] = pa.table({
        "p_partkey": pk,
        "p_name": np.char.add(
            np.char.add(np.array(P_WORDS_A)[rng.integers(0, 8, n_part)], " "),
            np.array(P_WORDS_B)[rng.integers(0, 8, n_part)],
        ),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(P_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2),
    })
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(("F", "O", "P"))[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, n_ord, 1000.0, 500_000.0),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, n_line, 900.0, 105_000.0),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(("A", "N", "R"))[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(("F", "O"))[rng.integers(0, 2, n_line)],
        "l_shipdate": _days(rng, n_line, "1995-01-02", "2001-11-04"),
    })
    t0 = _us("2024-01-01")
    ev_ts = np.sort(rng.integers(t0, t0 + 30 * US_PER_DAY, n_ev))
    out["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(ev_ts),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    out["documents"] = _documents(rng, n_doc)
    vec_label = rng.integers(0, 10, n_vec)
    centres = rng.normal(0.0, 1.0, (10, 64))
    vecs = rng.normal(0.0, 1.0, (n_vec, 64)) + 0.6 * centres[vec_label]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": vec_label.astype(np.int32),
    })
    return out


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    vocab = np.array(VOCAB)
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.05:  # planted near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and r < 0.052:  # exact copy
            texts.append(texts[int(rng.integers(0, i))])
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 101))]))
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n, p=LANG_P)],
        "source": np.char.add("src", rng.integers(0, 20, n).astype(str)),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def kv_table(lineitem: pa.Table) -> pa.Table:
    """The storage workload's key/value rows, one per lineitem row: key is
    the zero-padded (orderkey*8 + linenumber), so byte order is numeric
    order and duplicate (orderkey, linenumber) pairs give duplicate keys;
    value is the row's other columns joined with '|'."""
    key = pc.add(pc.multiply(lineitem["l_orderkey"], 8),
                 pc.cast(lineitem["l_linenumber"], pa.int64()))
    fields = [pc.cast(lineitem[c], pa.string()) for c in (
        "l_partkey", "l_suppkey", "l_quantity", "l_extendedprice", "l_discount",
        "l_tax", "l_returnflag", "l_linestatus", "l_shipdate")]
    return pa.table({
        "key": pc.utf8_lpad(pc.cast(key, pa.string()), 12, "0"),
        "value": pc.binary_join_element_wise(*fields, "|"),
    })


def write(sf: float, dst: str) -> None:
    """Generate the corpus at `sf` into `dst` (one <table>.parquet each),
    atomically: a half-written directory is never mistaken for a corpus."""
    tmp = dst + ".partial"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    tbls = tables(sf)
    tbls["kv"] = kv_table(tbls["lineitem"])
    for name, tbl in tbls.items():
        pq.write_table(tbl, os.path.join(tmp, f"{name}.parquet"))
    with open(os.path.join(tmp, "MANIFEST.json"), "w") as fh:
        json.dump(_manifest(sf=sf), fh)
    shutil.rmtree(dst, ignore_errors=True)
    os.rename(tmp, dst)


def _manifest(**what) -> dict:
    return {**what, "seed": CORPUS_SEED, "layout": LAYOUT_VERSION}


def _complete(dst: str, manifest: dict) -> bool:
    try:
        with open(os.path.join(dst, "MANIFEST.json")) as fh:
            return json.load(fh) == manifest
    except (OSError, ValueError):
        return False


def ensure(sf: float, dst: str) -> bool:
    """Build the corpus at `dst` unless a complete one is there. Returns
    True when it had to build."""
    if _complete(dst, _manifest(sf=sf)):
        return False
    write(sf, dst)
    return True

