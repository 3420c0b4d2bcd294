"""Seeded inputs for the benchmark.

A seed changes values only. Row counts, key cardinalities, the
near-duplicate structure of the documents and the DOI overlap between
lifecycle sources are fixed by construction: every categorical column
is a fixed multiset that the seed only permutes, so every seed asks the
engine for the same amount of work.
"""

from __future__ import annotations

import json
import os
import random
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# -- the lake tables (the sf0.01 shape described in TESTDATA.md) ---------

N_CUSTOMER, N_SUPPLIER, N_PART, N_ORDERS = 1500, 100, 2000, 15000
N_EVENTS, N_USERS, N_DOCS, N_VECS, DIM = 10000, 150, 500, 500, 64
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
#: documents per language: a fixed multiset (sums to N_DOCS)
LANG_COUNTS = {"en": 218, "zh": 75, "es": 73, "de": 70, "fr": 64}
#: near-duplicate pairs: doc DUP_ORIG[k] is copied to DUP_COPY[k] with one
#: extra trailing token, so 25 of 500 documents are near-duplicates
DUP_ORIG = [20 * k + 3 for k in range(25)]
DUP_COPY = [(o + 250) % N_DOCS for o in DUP_ORIG]
EPOCH_1995 = datetime(1995, 1, 1)
ORDER_DAYS = (datetime(2001, 8, 1) - EPOCH_1995).days


def _perm(rng: np.random.Generator, base: np.ndarray) -> np.ndarray:
    return base[rng.permutation(len(base))]


def _cycle(n: int, k: int) -> np.ndarray:
    """A fixed multiset: 0..k-1 repeated to length n."""
    return np.arange(n) % k


def lake_tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, 1])
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(N_CUSTOMER, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
        "c_nationkey": _perm(rng, _cycle(N_CUSTOMER, 25)).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, N_CUSTOMER), 2),
        "c_mktsegment": [SEGMENTS[i] for i in _perm(rng, _cycle(N_CUSTOMER, 5))],
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(N_SUPPLIER, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)],
        "s_nationkey": _perm(rng, _cycle(N_SUPPLIER, 25)).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, N_SUPPLIER), 2),
    })
    names = _perm(rng, _cycle(N_PART, 64))
    partkey = np.arange(N_PART, dtype=np.int64)
    # as in the sf0.01 test tables: the retail price is a function of the key
    retail = 900.0 + (partkey % 1000) / 10.0
    t["part"] = pa.table({
        "p_partkey": partkey,
        "p_name": [f"{PART_ADJ[i // 8]} {PART_NOUN[i % 8]}" for i in names],
        "p_brand": [f"Brand#{i + 1}" for i in _perm(rng, _cycle(N_PART, 25))],
        "p_type": [PART_TYPES[i] for i in _perm(rng, _cycle(N_PART, 6))],
        "p_size": (_perm(rng, _cycle(N_PART, 50)) + 1).astype(np.int32),
        "p_retailprice": retail,
    })
    order_days = rng.integers(0, ORDER_DAYS + 1, N_ORDERS)
    t["orders"] = pa.table({
        "o_orderkey": np.arange(N_ORDERS, dtype=np.int64),
        "o_custkey": _perm(rng, _cycle(N_ORDERS, N_CUSTOMER)).astype(np.int64),
        "o_orderstatus": [("F", "O", "P")[i] for i in _perm(rng, _cycle(N_ORDERS, 3))],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, N_ORDERS), 2),
        "o_orderdate": pa.array(
            [EPOCH_1995 + timedelta(days=int(d)) for d in order_days], pa.timestamp("us")
        ),
        "o_orderpriority": [PRIORITIES[i] for i in _perm(rng, _cycle(N_ORDERS, 5))],
    })
    lines = _perm(rng, _cycle(N_ORDERS, 7) + 1)
    l_order = np.repeat(np.arange(N_ORDERS, dtype=np.int64), lines)
    n_li = len(l_order)
    l_linenumber = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
    l_part = _perm(rng, _cycle(n_li, N_PART)).astype(np.int64)
    qty = _perm(rng, _cycle(n_li, 50) + 1).astype(np.float64)
    ship = order_days[l_order] + rng.integers(1, 122, n_li)
    t["lineitem"] = pa.table({
        "l_orderkey": l_order,
        "l_partkey": l_part,
        "l_suppkey": _perm(rng, _cycle(n_li, N_SUPPLIER)).astype(np.int64),
        "l_linenumber": l_linenumber,
        "l_quantity": qty,
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_li), 2),
        "l_discount": _perm(rng, _cycle(n_li, 11)) / 100.0,
        "l_tax": _perm(rng, _cycle(n_li, 9)) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in _perm(rng, _cycle(n_li, 3))],
        "l_linestatus": [("F", "O")[i] for i in _perm(rng, _cycle(n_li, 2))],
        "l_shipdate": pa.array(
            [EPOCH_1995 + timedelta(days=int(d)) for d in ship], pa.timestamp("us")
        ),
    })
    span_us = 30 * 86400 * 1_000_000
    ts_us = np.sort(rng.integers(0, span_us, N_EVENTS))
    t["events"] = pa.table({
        "event_id": np.arange(N_EVENTS, dtype=np.int64),
        "ts": pa.array(
            [datetime(2024, 1, 1) + timedelta(microseconds=int(u)) for u in ts_us],
            pa.timestamp("us"),
        ),
        "user_id": _perm(rng, _cycle(N_EVENTS, N_USERS)).astype(np.int64),
        "event_type": [EVENT_TYPES[i] for i in _perm(rng, _cycle(N_EVENTS, 5))],
        "value": np.round(rng.uniform(0.01, 490.0, N_EVENTS), 2),
        "props": [f'{{"k": {i}}}' for i in _perm(rng, _cycle(N_EVENTS, 100))],
    })
    t["documents"] = pa.table(_documents(rng))
    labels = _perm(rng, _cycle(N_VECS, 10))
    centers = rng.normal(0.0, 1.0, (10, DIM))
    vecs = centers[labels] + rng.normal(0.0, 1.2, (N_VECS, DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(N_VECS, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })
    return t


def _documents(rng: np.random.Generator) -> dict[str, list]:
    # token counts: one fixed multiset over the originals of the
    # near-duplicate pairs, another over the rest, so the total is fixed
    lengths = 10 + (np.arange(N_DOCS) * 37) % 90
    dup = set(DUP_ORIG) | set(DUP_COPY)
    plain = [i for i in range(N_DOCS) if i not in dup]
    lengths[plain] = _perm(rng, lengths[plain])
    lengths[DUP_ORIG] = _perm(rng, lengths[DUP_ORIG])
    texts = [" ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), n)) for n in lengths]
    for o, c in zip(DUP_ORIG, DUP_COPY):
        texts[c] = texts[o] + " dup"
    langs = [lang for lang, n in LANG_COUNTS.items() for _ in range(n)]
    langs = [langs[i] for i in rng.permutation(N_DOCS)]
    return {
        "doc_id": list(range(N_DOCS)),
        "text": texts,
        "lang": langs,
        "source": [f"src{i % 20}" for i in range(N_DOCS)],
        "n_chars": [len(s) for s in texts],
    }


def write_lake(seed: int, out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in lake_tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


# -- the lifecycle sources (NDJSON dumps for `cli update`) --------------

#: rows per source; every source is split into FILES equal files
LIFECYCLE_ROWS = {"openalex": 12000, "s2ag": 9000, "sciscinet": 6000, "fulltext": 3600}
FILES = 2
FULLTEXT_SOURCES = ["pmc", "s2orc", "pes2o", "arxiv"]


def _doi_index(source: str, r: int) -> int | None:
    """Which paper row r of a source describes; None for a row whose DOI
    is missing or junk. Fixed by construction, so the DOI overlap between
    sources and the duplicate structure inside each is the same for every
    seed. Overlaps: OpenAlex [0, 10800), S2AG [3600, 12000),
    SciSciNet [7200, 12000), fulltext over [2400, 5400). SciSciNet has
    no year, so its papers lie inside the other two sources."""
    if r % 40 == 7:
        return None
    if source == "openalex":
        return r % 10800
    if source == "s2ag":
        return 3600 + r % 8400
    if source == "sciscinet":
        return 7200 + r % 4800
    return 2400 + r % 3000


def _doi(seed: int, idx: int) -> str:
    return f"10.{5000 + idx % 97}/sds.{seed}.{idx}"


def lifecycle_rows(source: str, seed: int, file_no: int, version: int) -> list[dict]:
    """Rows of one NDJSON file. ``version`` 0 is the initial dump; a warm
    pass writes version k > 0: new values, the same papers and rows."""
    n = LIFECYCLE_ROWS[source]
    rnd = random.Random(f"{seed}:{source}:{file_no}:{version}")
    rows = []
    for r in range(file_no * n // FILES, (file_no + 1) * n // FILES):
        idx = _doi_index(source, r)
        base = (idx if idx is not None else r) * 7919 % 1000
        # citations correlate across sources through the shared per-paper
        # base, as they do between real bibliographic databases
        cites = base + rnd.randint(0, 60)
        doi = None if idx is None else _doi(seed, idx)
        if idx is None and r % 80 == 47:
            doi = "bad"
        year = 1950 + (base + rnd.randint(0, 3)) % 75
        if source == "openalex":
            rows.append({
                "id": f"https://openalex.org/W{r:09d}",
                "doi": None if doi is None else f"https://doi.org/{doi}",
                "title": f"Title {r} v{version}",
                "publication_year": year,
                "cited_by_count": cites,
                "is_retracted": idx is not None and idx % 500 == 0,
            })
        elif source == "s2ag":
            rows.append({
                "corpusid": r,
                "externalids": {"DOI": None if doi is None else doi.upper()},
                "title": f"S2 Title {r} v{version}",
                "year": year,
                "citationcount": cites,
            })
        elif source == "sciscinet":
            rows.append({
                "paperid": f"W{r:09d}",
                "doi": doi,
                "citation_count": cites,
                "disruption": "inf" if r % 11 == 0 else f"{rnd.random():.3f}",
            })
        else:
            rows.append({
                "doi": doi,
                "source": FULLTEXT_SOURCES[r % 4],
                "title": f"Full text {r}",
                "text": "lorem ipsum " * rnd.randint(2, 40),
                "year": year,
                "source_id": f"{FULLTEXT_SOURCES[r % 4]}:{r}",
            })
    return rows


def write_lifecycle_file(root: str, source: str, seed: int, file_no: int, version: int) -> str:
    d = os.path.join(root, source)
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, f"part-{file_no}.jsonl")
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        for row in lifecycle_rows(source, seed, file_no, version):
            f.write(json.dumps(row) + "\n")
    os.replace(tmp, path)
    return path


def write_lifecycle(seed: int, root: str) -> None:
    for source in LIFECYCLE_ROWS:
        for k in range(FILES):
            write_lifecycle_file(root, source, seed, k, 0)


def expected_lifecycle(seed: int) -> dict[str, int]:
    """Python mirror of what `cli update` must report: rows staged per
    source, unified papers (distinct valid DOIs over the three bibliographic
    sources) and fulltext papers (distinct valid DOIs in the text dump)."""
    dois: dict[str, set[int]] = {}
    for source, n in LIFECYCLE_ROWS.items():
        dois[source] = {i for r in range(n) if (i := _doi_index(source, r)) is not None}
    out = {f"staged.{s}": n for s, n in LIFECYCLE_ROWS.items()}
    out["unified_papers"] = len(dois["openalex"] | dois["s2ag"] | dois["sciscinet"])
    out["fulltext_papers"] = len(dois["fulltext"])
    return out
