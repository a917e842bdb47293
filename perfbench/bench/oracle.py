"""Correctness gates, run after the timed phase.

Query workloads: every result is compared with the DuckDB oracle SQL the
program ships (`SparkEntry.oracleSql`), canonicalised the way the repo's
checker canonicalises (columns sorted by name, rows sorted by every column,
timestamps in microseconds).

etl_upsert: each destination table is compared with the state the feed
generator derives on its own (schema, row count, key set, content hash).
"""
import glob
import hashlib
import importlib.util
import json
import os

import duckdb
import pandas as pd
import pyarrow.compute as pc
import pyarrow.parquet as pq

from . import feed as feedmod


def _repo_checker():
    """The repo's own checker, tools/check.py, whose `canon` both sides use."""
    path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "..", "tools", "check.py")
    spec = importlib.util.spec_from_file_location("repo_check", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def frame_hash(df: pd.DataFrame) -> str:
    h = hashlib.sha256()
    h.update(",".join(df.columns).encode())
    h.update(df.astype(str).to_csv(index=False).encode())
    return h.hexdigest()[:16]


def read_result(path: str) -> pd.DataFrame:
    files = glob.glob(os.path.join(path, "*.parquet"))
    if not files:
        raise ValueError(f"no result under {path}")
    return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)


def check_queries(data_dir: str, out_dir: str, oracle_file: str, names) -> dict:
    """{query: (ok, rows, detail)}."""
    canon = _repo_checker().canon
    con = duckdb.connect()
    con.sql("SET threads=4")
    for p in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        con.sql(f"CREATE VIEW {os.path.basename(p)[:-8]} AS SELECT * FROM '{p}'")
    with open(oracle_file) as fh:
        oracle = json.load(fh)
    out = {}
    for q in names:
        try:
            got = read_result(os.path.join(out_dir, q))
            g, w = canon(got), canon(con.sql(oracle[q]).df())
            ok = list(g.columns) == list(w.columns) and len(g) == len(w) and g.equals(w)
            detail = f"spark={frame_hash(g)} oracle={frame_hash(w)}"
            out[q] = (bool(ok) and len(got) > 0, len(got), detail)
        except Exception as e:  # a failed read or oracle counts as a failed query
            out[q] = (False, 0, f"{type(e).__name__}: {e}")
    return out


def current_version(table_root: str) -> str:
    """The committed version directory of a commit-marker table."""
    marks = [f for f in os.listdir(table_root) if f.startswith("_commit_")]
    v = max(int(f[len("_commit_"):]) for f in marks)
    return os.path.join(table_root, f"v{v:08d}")


def _type_name(t) -> str:
    return str(t).replace("timestamp[ns]", "timestamp").replace("timestamp[us]", "timestamp")


EXPECTED_TYPES = {
    "adult": "bool", "backdrop_path": "string", "genre_ids": "list<element: int32>",
    "id": "int64", "original_language": "string", "original_title": "string",
    "overview": "string", "popularity": "double", "poster_path": "string",
    "release_date": "string", "title": "string", "video": "bool", "vote_average": "double",
    "vote_count": "int64", "record_loaded_at": "timestamp", "revenue": "int64",
    "vote_count_double": "double"}


def check_table(table_root: str, feed: feedmod.Feed, endpoint: str) -> tuple:
    """(ok, rows, detail) for one destination table."""
    t = pq.read_table(current_version(table_root))
    t = t.take(pc.sort_indices(t, [("id", "ascending")]))
    want = feed.expected(endpoint)
    cols = list(want)
    problems = []
    if t.column_names != cols:
        problems.append(f"columns {t.column_names} != {cols}")
    types = {f.name: _type_name(f.type).replace("list<item: int32>", "list<element: int32>")
             for f in t.schema}
    bad = [c for c in cols if types.get(c) != EXPECTED_TYPES[c]]
    if bad:
        problems.append(f"types {[(c, types.get(c)) for c in bad]}")
    if t.num_rows != len(want["id"]):
        problems.append(f"rows {t.num_rows} != {len(want['id'])}")
    got = {}
    if not problems:
        for c in cols:
            col = t.column(c)
            if c == "record_loaded_at":
                col = pc.cast(col, "timestamp[us]").cast("int64")
            got[c] = col.to_pylist()
        if got["id"] != want["id"]:
            problems.append("key sets differ")
    gh = feedmod.content_hash(got) if got else "-"
    wh = feedmod.content_hash(want)
    if not problems and gh != wh:
        diff = [c for c in cols if got[c] != want[c]]
        problems.append(f"content differs in {diff}")
    return not problems, t.num_rows, f"hash={gh[:16]} expected={wh[:16]} " + "; ".join(problems)
