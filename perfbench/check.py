"""Output checks of one pass, run after the pass ends (outside the timed
region). Each mismatch counts as one failed operation.

- research: every registered call's parquet output is compared row by row,
  bit for bit after the query's own rounding, with its
  `SparkEntry.oracleSql` replayed in DuckDB on the same generated inputs —
  the comparison `scripts/check.py` makes. Oracle results depend only on
  the inputs, so they are cached beside them. `research_metrics` also
  derives ann_recall_at_10 (stored-index top-10 against the exact cosine
  top-10 of the same probes) and dedup_pair_recall (planted near-duplicate
  pairs that dedup_minhash reports).
- ingest: the final view must equal a DuckDB GROUP BY over the base events
  plus every landed batch; the current store must equal the base minus the
  forgotten symbols, and no current read may return a forgotten key; the
  index must hold exactly the vectors not deleted from it.
"""
import glob
import hashlib
import json
import os
import struct
from concurrent.futures import ThreadPoolExecutor

import duckdb
import numpy as np
import pyarrow as pa

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# the view's recompute; the same SQL the library's mv_incremental_refresh
# oracle states
VIEW_SQL = """SELECT event_type, CAST(ts AS DATE) AS date, COUNT(*) AS n_rows,
  CAST(CAST(SUM(CAST(value AS DECIMAL(25,10))) AS VARCHAR) AS DOUBLE) AS value_sum,
  CAST(ROUND(CAST(CAST(CAST(CAST(SUM(CAST(value AS DECIMAL(25,10))) AS VARCHAR) AS DOUBLE)
    / COUNT(value) AS VARCHAR) AS DECIMAL(38,20)), 4) + 0.0 AS DOUBLE) AS value_avg,
  MIN(value) AS value_min, MAX(value) AS value_max
FROM events GROUP BY 1, 2 ORDER BY 1, 2"""


def canon(v):
    """Bit-exact canonical form: -0.0 != 0.0 and NaN == NaN."""
    if isinstance(v, float):
        return struct.pack(">d", v)
    if isinstance(v, list):
        return [canon(x) for x in v]
    if isinstance(v, dict):
        return {k: canon(x) for k, x in v.items()}
    return v


def _con(input_dir):
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(input_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def _dump(con, d):
    files = sorted(glob.glob(os.path.join(d, "*.parquet")))
    if not files:
        return None
    return con.execute(f"SELECT * FROM read_parquet({files!r})").fetch_arrow_table()


def _oracle(input_dir, sql):
    cache = os.path.join(input_dir, "oracle")
    os.makedirs(cache, exist_ok=True)
    path = os.path.join(cache, hashlib.sha256(sql.encode()).hexdigest()[:24] + ".parquet")
    if not os.path.exists(path):
        con = _con(input_dir)
        tmp = path + f".{os.getpid()}.tmp"
        con.execute(f"COPY ({sql}) TO '{tmp}' (FORMAT parquet)")
        con.close()
        os.replace(tmp, path)
    return duckdb.connect().execute(f"SELECT * FROM read_parquet('{path}')").fetch_arrow_table()


def _column_equal(a, b):
    """Bit-exact column equality: floats compare by their bits (so -0.0 !=
    0.0 and NaN == NaN), everything else by value."""
    a, b = a.combine_chunks(), b.combine_chunks()
    if a.type != b.type and pa.types.is_integer(a.type) and pa.types.is_integer(b.type):
        b = b.cast(a.type)
    if pa.types.is_floating(a.type) and a.type == b.type:
        if not a.is_null().equals(b.is_null()):
            return False
        bits = lambda c: np.asarray(c.fill_null(0).to_numpy(zero_copy_only=False),  # noqa: E731
                                    dtype=np.float64).view(np.int64)
        return bool((bits(a) == bits(b)).all())
    if a.type == b.type and not pa.types.is_nested(a.type):
        return a.equals(b)
    return [canon(x) for x in a.to_pylist()] == [canon(x) for x in b.to_pylist()]


def _same(got, want):
    """None when equal, else a one-line reason."""
    if got is None:
        return "no output written"
    gc, wc = sorted(got.column_names), sorted(want.column_names)
    if gc != wc:
        return f"schema {gc} != {wc}"
    if got.num_rows != want.num_rows:
        return f"rows {got.num_rows} != {want.num_rows}"
    bad = [c for c in gc if not _column_equal(got.column(c), want.column(c))]
    return f"columns {bad} differ" if bad else None


def check_queries(input_dir, work):
    """Mismatches of every dumped registered call against its oracle."""
    with open(os.path.join(work, "oracle_sql.json")) as f:
        oracles = json.load(f)
    names = sorted(os.listdir(os.path.join(work, "out")))
    # the replays are independent; run them side by side (the pass is over)
    with ThreadPoolExecutor(4) as pool:
        want = dict(zip(names, pool.map(
            lambda n: _oracle(input_dir, oracles[n]) if n in oracles else None, names)))
    con = duckdb.connect()
    bad = {}
    for name in names:
        got = _dump(con, os.path.join(work, "out", name))
        if want[name] is None:
            if got is None or got.num_rows == 0:
                bad[name] = "no oracle and no rows"
            continue
        why = _same(got, want[name])
        if why:
            bad[name] = why
    return bad


def research_metrics(input_dir, work):
    con = duckdb.connect()
    emb = con.execute(f"SELECT vec_id, embedding FROM read_parquet('{input_dir}/embeddings.parquet') "
                      "ORDER BY vec_id").fetchall()
    ids = np.array([r[0] for r in emb])
    x = np.array([r[1] for r in emb], dtype=np.float64)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    got = _dump(con, os.path.join(work, "out", "ann_ivfpq"))
    out = {}
    if got is not None:
        stored = {}
        for r in got.to_pylist():
            stored.setdefault(r["query_id"], set()).add(r["vec_id"])
        hit = total = 0
        for q, found in stored.items():
            sims = x @ x[np.searchsorted(ids, q)]
            exact = set(ids[np.argsort(-sims, kind="stable")[:10]].tolist())
            hit += len(found & exact)
            total += 10
        out["ann_recall_at_10"] = hit / total
    with open(os.path.join(input_dir, "meta.json")) as f:
        planted = {tuple(sorted(p)) for p in json.load(f)["planted_pairs"]}
    pairs = _dump(con, os.path.join(work, "out", "dedup_minhash"))
    if pairs is not None and planted:
        found = {(r["doc_a"], r["doc_b"]) for r in pairs.to_pylist()}
        out["dedup_pair_recall"] = len(planted & found) / len(planted)
    return out


def check_ingest(input_dir, work):
    """Mismatches of the ingest pass's final state."""
    c = os.path.join(work, "checks")
    batches = sorted(glob.glob(os.path.join(input_dir, "batches", "events_*.parquet")))
    vec_batches = sorted(glob.glob(os.path.join(input_dir, "batches", "vecs_*.parquet")))
    con = duckdb.connect()
    files = [os.path.join(input_dir, "events.parquet")] + batches
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet({files!r})")
    bad = {}
    why = _same(_dump(con, os.path.join(c, "view")),
                con.execute(VIEW_SQL).fetch_arrow_table())
    if why:
        bad["view"] = why
    gone = [r[0] for r in con.execute(
        f"SELECT user_id FROM read_parquet('{c}/forgotten/*.parquet')").fetchall()]
    keep = "TRUE" if not gone else f"user_id NOT IN ({','.join(map(str, gone))})"
    base = os.path.join(input_dir, "events.parquet")
    want = con.execute(f"SELECT event_id, user_id, event_type, value FROM read_parquet('{base}') "
                       f"WHERE {keep} ORDER BY event_id").fetchall()
    got = con.execute(f"SELECT event_id, user_id, event_type, value FROM read_parquet('{c}/store/*.parquet') "
                      "ORDER BY event_id").fetchall()
    if [canon(list(r)) for r in got] != [canon(list(r)) for r in want]:
        bad["store"] = f"current store has {len(got)} rows, expected {len(want)}"
    vec_files = [os.path.join(input_dir, "embeddings.parquet")] + vec_batches
    want = con.execute(f"SELECT vec_id FROM read_parquet({vec_files!r}) EXCEPT "
                       f"SELECT vec_id FROM read_parquet('{c}/deleted/*.parquet') ORDER BY 1").fetchall()
    got = con.execute(f"SELECT vec_id FROM read_parquet('{c}/index_ids/*.parquet') ORDER BY 1").fetchall()
    if got != want:
        bad["index"] = f"index holds {len(got)} ids, expected {len(want)}"
    return bad
