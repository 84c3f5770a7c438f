"""Seeded input generators and DuckDB oracles for the benchmark workloads.

The program under test only ever receives the files written here. The same
seed always gives byte-identical inputs, and inputs are cached per seed under
the benchmark's work directory, so generation never falls inside a timed or
set-up measurement.
"""
import hashlib
import json
import os

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# rml_wide_mapping's shape: one TriplesMap, one POM per column.
WIDE_COLS = ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
             "l_quantity", "l_extendedprice", "l_discount", "l_tax",
             "l_returnflag", "l_linestatus", "l_shipdate"]

# Timed and warm-up sizes. The kg_wide_nt warm-up is sf0.001-sized (6,000
# lineitem rows) and its timed input sf0.02-sized (120,000 rows).
# ops_curation warms up and is timed on the same table of 100 documents
# (sf0.001 has 500): the four rows' cost hardly depends on the document
# count, but the dd_cluster_pipeline oracle takes ~45 ms per document.
KG_ROWS = 120_000
KG_WARM_ROWS = 6_000
OPS_DOCS = 100

WORDS = ("scan column window order sort part agg value line key join merge "
         "query group a vector hash slow stream filter fast batch the spark "
         "table small data big customer row").split()
LANGS = np.array(["en", "de", "es", "fr", "zh"])


def duck(cores):
    con = duckdb.connect()
    con.execute(f"SET threads = {cores}")
    con.execute("SET memory_limit = '2GB'")
    return con


def lineitem(rows, seed):
    """TPC-H-shaped lineitem. (l_orderkey, l_linenumber) is drawn uniformly
    from rows/4 x 7 pairs, so about 24% of rows share a subject with another
    row, as in the sf0.1 test tables (456,861 distinct subjects of 600k)."""
    rng = np.random.default_rng(seed)
    qty = rng.integers(1, 51, rows).astype(np.float64)
    days = rng.integers(0, 3650, rows).astype("timedelta64[D]")
    return pa.table({
        "l_orderkey": rng.integers(0, rows // 4, rows),
        "l_partkey": rng.integers(0, max(rows // 30, 1), rows),
        "l_suppkey": rng.integers(0, max(rows // 600, 1), rows),
        "l_linenumber": rng.integers(1, 8, rows).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, rows), 2),
        "l_discount": rng.integers(0, 11, rows) / 100.0,
        "l_tax": rng.integers(0, 9, rows) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, rows)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, rows)],
        "l_shipdate": (np.datetime64("1992-01-01") + days).astype("datetime64[us]"),
    })


def wide_mapping(path):
    poms = "\n".join(
        f'  rr:predicateObjectMap [ rr:predicate <http://ex/vocab/{c}>;\n'
        f'    rr:objectMap [ rml:reference "{c}" ] ];' for c in WIDE_COLS)
    return ("@prefix rr: <http://www.w3.org/ns/r2rml#> .\n"
            "@prefix rml: <http://semweb.mmlab.be/ns/rml#> .\n"
            "@prefix ql: <http://semweb.mmlab.be/ns/ql#> .\n"
            "<WideLI> a rr:TriplesMap;\n"
            f'  rml:logicalSource [ rml:source "{path}"; rml:referenceFormulation ql:CSV ];\n'
            '  rr:subjectMap [ rr:template "http://ex/li/{l_orderkey}-{l_linenumber}" ];\n'
            f"{poms.rstrip(';')} .\n")


# Order-independent digest of a set of N-Triples lines: the line count and
# the sum of the first 60 bits of each line's md5. The same expression runs
# over the oracle's lines and over the files the program wrote.
DIGEST = "count(*) AS n, sum(('0x' || substr(md5(line), 1, 15))::BIGINT::HUGEINT) AS h"


def wide_oracle_sql(table):
    branches = "\n  UNION\n  ".join(
        f"SELECT '<http://ex/li/' || l_orderkey || '-' || l_linenumber || '> "
        f"<http://ex/vocab/{c}> \"' || {c} || '\" .' AS line FROM {table}"
        for c in WIDE_COLS)
    return f"WITH q AS ({branches}) SELECT {DIGEST} FROM q"


def documents(n, seed):
    """The test tables' documents shape: 10-99 words from a 30-word
    vocabulary, about 5% near-duplicates (an earlier document plus ' dup'),
    five languages and twenty sources."""
    rng = np.random.default_rng(seed)
    texts = []
    for i in range(n):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": LANGS[rng.choice(5, n, p=[0.4, 0.15, 0.15, 0.15, 0.15])],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _write_kg(d, rows, seed, cores):
    os.makedirs(d, exist_ok=True)
    li = os.path.join(d, "lineitem.parquet")
    table = lineitem(rows, seed)
    pq.write_table(table, li)
    with open(os.path.join(d, "mapping.ttl"), "w") as f:
        f.write(wide_mapping(li))
    con = duck(cores)
    n, h = con.execute(wide_oracle_sql(f"read_parquet('{li}')")).fetchone()
    subjects = con.execute(
        f"SELECT count(DISTINCT (l_orderkey, l_linenumber)) FROM read_parquet('{li}')").fetchone()[0]
    return {"rows": rows, "distinct_subjects": subjects,
            "quads_emitted": rows * len(WIDE_COLS), "oracle_lines": n,
            "oracle_hash": str(h),
            "duplicate_quad_rate": 1 - n / (rows * len(WIDE_COLS))}


def prepare(workload, seed, root, cores):
    """Generate (or reuse) the inputs of `workload` for `seed` under `root`,
    keyed by this generator's source so that changed sizes regenerate them.
    Returns (timed_dir, warm_dir, meta)."""
    with open(__file__, "rb") as f:
        gen = hashlib.sha256(f.read()).hexdigest()[:12]
    d = os.path.join(root, workload, f"seed-{seed}-{gen}")
    meta_path = os.path.join(d, "meta.json")
    timed, warm = os.path.join(d, "timed"), os.path.join(d, "warm")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            return timed, warm, json.load(f)
    if workload == "kg_wide_nt":
        meta = {"seed": seed, "timed": _write_kg(timed, KG_ROWS, seed, cores),
                "warm": _write_kg(warm, KG_WARM_ROWS, seed + 1_000_003, cores)}
    elif workload == "ops_curation":
        os.makedirs(timed, exist_ok=True)
        docs = documents(OPS_DOCS, seed)
        pq.write_table(docs, os.path.join(timed, "documents.parquet"))
        near = sum(t.endswith(" dup") for t in docs.column("text").to_pylist())
        meta = {"seed": seed, "timed": {"documents": OPS_DOCS, "near_duplicates": near}}
        warm = timed
    else:
        raise ValueError(f"unknown workload {workload}")
    with open(meta_path, "w") as f:
        json.dump(meta, f)
    return timed, warm, meta
