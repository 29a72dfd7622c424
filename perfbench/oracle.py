"""Result digests for the query workloads, checked against the
engine's DuckDB oracles.

A digest is the row count plus a hash of the order-insensitive
canonical form that ``tools/verify_local.py`` defines. Oracle digests
are slow for a few queries, so they are cached per (table content,
oracle SQL) under the benchmark's build directory and computed once.
"""

from __future__ import annotations

import functools
import hashlib
import json
import os


@functools.cache
def _verify_local():
    import importlib.util

    path = os.path.join(os.getcwd(), "tools", "verify_local.py")
    spec = importlib.util.spec_from_file_location("verify_local", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def digest(rows, cols) -> dict:
    vl = _verify_local()
    lines = vl.canonical(rows, list(cols))
    h = hashlib.sha256("\n".join(lines).encode()).hexdigest()
    return {"rows": len(lines), "cols": sorted(cols), "sha256": h}


def content_hash(data_dir: str) -> str:
    h = hashlib.sha256()
    for name in sorted(os.listdir(data_dir)):
        with open(os.path.join(data_dir, name), "rb") as f:
            h.update(name.encode())
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def oracle_digests(data_dir: str, queries: list[str], cache_dir: str) -> dict[str, dict]:
    """DuckDB oracle digest per query, from the cache when present."""
    from aurora_mito_etl_spark.plans.queries import ORACLES

    os.makedirs(cache_dir, exist_ok=True)
    data_key = content_hash(data_dir)
    out, con = {}, None
    for q in queries:
        sql = ORACLES[q]
        key = hashlib.sha256(f"{data_key}\n{sql}".encode()).hexdigest()[:24]
        path = os.path.join(cache_dir, f"{q}-{key}.json")
        if os.path.exists(path):
            with open(path) as f:
                out[q] = json.load(f)
            continue
        if con is None:
            con = _verify_local().connect_views(data_dir)
        res = con.execute(sql)
        out[q] = digest(res.fetchall(), [d[0] for d in res.description])
        tmp = f"{path}.{os.getpid()}.tmp"
        with open(tmp, "w") as f:
            json.dump(out[q], f)
        os.replace(tmp, path)
    if con is not None:
        con.close()
    return out
