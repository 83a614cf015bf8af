"""Correctness checks for the benchmark's outputs.

Query results are compared with the DuckDB oracle through the
repository's own canonical form (``canon`` in ``tools/compare.py``):
lower-cased column names sorted, every cell in a canonical typed string
form, rows sorted, then equal or not. Map/reduce outputs are compared
with a word count and a grep of the generated text computed here,
independently of the engine.
"""
import collections
import hashlib
import json
import os
import re
import sys

import pandas as pd

from gen import TABLES

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "tools"))
import compare  # noqa: E402

# cached oracle digests are valid only for the canonical form they used
with open(compare.__file__, "rb") as _f:
    CANON_ID = hashlib.sha256(_f.read()).hexdigest()[:12]


def digest(df):
    """(row count, sha-256) of a frame's canonical form, as compare.py
    canonicalises it: lower-cased column names sorted, typed cells,
    rows sorted."""
    df = df.copy()
    df.columns = [c.lower() for c in df.columns]
    rows = compare.canon(df)
    h = hashlib.sha256(repr((sorted(df.columns), rows)).encode()).hexdigest()
    return len(rows), h


def result_digest(path):
    try:
        return digest(pd.read_parquet(path))
    except TypeError as e:
        return 0, f"unhashable: {e}"


def oracle_digests(data_dir, queries, cache_path):
    """Oracle (rows, digest) per query name, cached in ``cache_path``
    keyed by each query's SQL text and the canonical form."""
    cache = {}
    if os.path.exists(cache_path):
        with open(cache_path) as f:
            cache = json.load(f)
    todo = {n: sql for n, sql in queries.items()
            if sql is not None
            and (cache.get(n, {}).get("sql"), cache.get(n, {}).get("canon")) != (sql, CANON_ID)}
    if todo:
        import duckdb
        con = duckdb.connect()
        for t in TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(data_dir, t)}.parquet'")
        for name, sql in sorted(todo.items()):
            try:
                rows, h = digest(con.sql(sql).df())
                cache[name] = {"sql": sql, "canon": CANON_ID, "rows": rows, "digest": h}
            except Exception as e:  # an oracle that fails is a failed check
                cache[name] = {"sql": sql, "canon": CANON_ID, "error": str(e)[:300]}
        con.close()
        tmp = cache_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(cache, f)
        os.replace(tmp, cache_path)
    return cache


def check_queries(data_dir, verify, cache_path):
    """Names of the queries whose warm-pass result differs from the
    oracle (queries without an oracle only have to have run)."""
    qs = verify["queries"]
    oracle = oracle_digests(data_dir, {n: q["oracle"] for n, q in qs.items()},
                            cache_path)
    bad = {}
    for name, q in sorted(qs.items()):
        if q["oracle"] is None:
            continue
        if not os.path.isdir(q["dir"]):
            bad[name] = "no result written"
            continue
        exp = oracle[name]
        if "error" in exp:
            bad[name] = f"oracle failed: {exp['error']}"
            continue
        rows, h = result_digest(q["dir"])
        if (rows, h) != (exp["rows"], exp["digest"]):
            bad[name] = f"rows {rows} vs oracle {exp['rows']}, digest differs"
    return bad


# ---- map/reduce ---------------------------------------------------------

def _lines(text_dir):
    for name in sorted(os.listdir(text_dir)):
        with open(os.path.join(text_dir, name)) as f:
            for line in f.read().split("\n")[:-1]:
                yield line


def expected_jobs(text_dir, grep_word):
    wc, pipe, grep = collections.Counter(), collections.Counter(), []
    for line in _lines(text_dir):
        wc.update(re.split(r"[\[\] \t]", line.lower()))
        pipe.update(t.lower() for t in re.findall(r"[A-Za-z0-9]+", line))
        s = line.strip(" ")
        if s and grep_word in s.lower():
            grep.append(s)
    return {"wordcount": {k: str(v) for k, v in wc.items()},
            "pipe": {k: str(v) for k, v in pipe.items()},
            "grep": sorted(grep)}


def _parts(out_dir, reducers):
    names = sorted(os.listdir(out_dir))
    want = [f"part-{i:05d}" for i in range(reducers)]
    if names != want:
        raise ValueError(f"expected {want}, found {names}")
    for n in names:
        with open(os.path.join(out_dir, n)) as f:
            yield f.read().split("\n")[:-1]


def check_jobs(text_dir, verify):
    """Names of the map/reduce jobs whose output is wrong."""
    exp = expected_jobs(text_dir, verify["grep"])
    bad = {}
    for name, out_dir in sorted(verify["jobs"].items()):
        try:
            parts = list(_parts(out_dir, verify["reducers"]))
            if name == "grep":
                got = sorted(line for p in parts for line in p)
                if got != exp["grep"]:
                    bad[name] = f"{len(got)} lines vs {len(exp['grep'])} expected"
                continue
            got = {}
            for p in parts:
                keys = [line.split("\t", 1)[0] for line in p]
                if keys != sorted(keys):
                    raise ValueError("a part file is not key-sorted")
                for line in p:
                    k, v = line.split("\t", 1)
                    if k in got:
                        raise ValueError(f"key {k!r} in two records")
                    got[k] = v
            if got != exp[name]:
                bad[name] = f"{len(got)} keys vs {len(exp[name])} expected"
        except (OSError, ValueError) as e:
            bad[name] = str(e)[:300]
    return bad


def output_mb(out_dir):
    if not os.path.isdir(out_dir):
        return 0.0
    return sum(os.path.getsize(os.path.join(out_dir, n))
               for n in os.listdir(out_dir)) / 1048576
