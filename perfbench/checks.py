"""Output checks against DuckDB oracles computed over the generated inputs."""
import glob
import hashlib
import json
import math
import os
import struct
import sys
import time

import pandas as pd

import inputs


def _data_files(d):
    return [f for f in glob.glob(os.path.join(d, "*"))
            if os.path.isfile(f) and not os.path.basename(f)[0] in "._"]


def data_bytes(d):
    return sum(os.path.getsize(f) for f in _data_files(d))


def nt_dir(d, oracle, engine_count, cores):
    """An N-Triples output directory must hold exactly the oracle's lines:
    same line count, same order-independent md5 digest, and Engine.run's
    returned triple count must agree."""
    files = [f for f in _data_files(d) if f.endswith(".txt")]
    if not files:
        return "no output files"
    flist = ", ".join(f"'{f}'" for f in files)
    n, h = inputs.duck(cores).execute(
        f"SELECT {inputs.DIGEST} FROM read_csv([{flist}], columns = {{'line': 'VARCHAR'}}, "
        "header = false, delim = '\\t', quote = '', escape = '', auto_detect = false)").fetchone()
    return _verdict(n, h, oracle, engine_count)


def _verdict(n, h, oracle, engine_count):
    if n != oracle["oracle_lines"] or str(h) != oracle["oracle_hash"]:
        return (f"mismatch: {n} triples (oracle {oracle['oracle_lines']}), "
                f"digest {'differs' if str(h) != oracle['oracle_hash'] else 'matches'}")
    if engine_count != n:
        return f"Engine.run returned {engine_count}, files hold {n} triples"
    return "ok"


def _canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def _cell(v):
    if isinstance(v, float):
        return b"<NaN>" if math.isnan(v) else struct.pack("<d", v)
    if v is None or v is pd.NA:
        return b"<null>"
    return repr(v).encode()


def _compare(got, exp):
    """Byte-exact frame comparison in the manner of tools/check.py: columns
    sorted by name, rows sorted, integer/float kinds must agree, floats equal
    as IEEE-754 bytes."""
    g, e = _canon(got), _canon(exp)
    if list(g.columns) != list(e.columns):
        return f"columns {list(g.columns)} vs oracle {list(e.columns)}"
    if len(g) != len(e):
        return f"rows {len(g)} vs oracle {len(e)}"
    kind = lambda k: "i" if k == "u" else k
    for c in g.columns:
        if kind(g[c].dtype.kind) != kind(e[c].dtype.kind):
            return f"dtype kind of {c}: {g[c].dtype} vs oracle {e[c].dtype}"
        for i, (x, y) in enumerate(zip(g[c], e[c])):
            if g[c].dtype.kind == "f" or e[c].dtype.kind == "f":
                x = float(x) if pd.notna(x) else float("nan")
                y = float(y) if pd.notna(y) else float("nan")
            elif pd.isna(x) and pd.isna(y):
                continue
            if _cell(x) != _cell(y):
                return f"value mismatch at row {i} column {c}: {x!r} vs oracle {y!r}"
    return "ok"


def ops_dir(check_dir, oracle_json, docs_dir, cache_dir, cores):
    """Each catalog row's parquet output against its oracle SQL, run in DuckDB
    over a `documents` view of the generated table. The inputs are fixed per
    seed, so each oracle result is cached under `cache_dir`, keyed by row and
    SQL text. Returns ({row: verdict}, {row: oracle row count})."""
    with open(oracle_json) as f:
        oracles = json.load(f)
    os.makedirs(cache_dir, exist_ok=True)
    con = None
    verdicts, rows = {}, {}
    for row, sql in oracles.items():
        files = sorted(glob.glob(os.path.join(check_dir, row, "*.parquet")))
        if not files or not sql:
            verdicts[row] = "no output" if not files else "no oracle"
            continue
        cached = os.path.join(cache_dir, f"{row}-{hashlib.sha256(sql.encode()).hexdigest()[:16]}.parquet")
        if os.path.exists(cached):
            exp = pd.read_parquet(cached)
        else:
            if con is None:
                con = inputs.duck(cores)
                con.execute("CREATE VIEW documents AS SELECT * FROM "
                            f"read_parquet('{docs_dir}/documents.parquet')")
            t0 = time.time()
            exp = con.sql(sql).df()
            exp.to_parquet(cached + ".tmp")
            os.replace(cached + ".tmp", cached)
            print(f"[perfbench] oracle {row}: {time.time() - t0:.1f} s", file=sys.stderr)
        got = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
        verdicts[row], rows[row] = _compare(got, exp), len(exp)
    return verdicts, rows
