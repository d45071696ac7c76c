"""Reference computations the benchmark checks the program against.

They share no code with the program:

- `topk`: brute-force cosine top-k, ordered by score descending then id
  ascending. The dot product and norms are folded in index order in double
  precision (`np.cumsum`), the order the engine's scorers use, so scores
  compare bit for bit.
- `compare_tables`: a query result against DuckDB running the query's
  oracle SQL over the same parquet files, after sorting both by all columns.
"""
import glob
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def read_vectors(path):
    """(ids, float32 matrix) from the little-endian dump the JVM writes."""
    raw = np.fromfile(path, dtype="<i8", count=2)
    n, dim = int(raw[0]), int(raw[1])
    ids = np.fromfile(path, dtype="<i8", count=n, offset=16)
    vecs = np.fromfile(path, dtype="<f4", count=n * dim, offset=16 + 8 * n).reshape(n, dim)
    return ids, vecs


def squared_norms(vecs):
    x = vecs.astype(np.float64)
    return np.cumsum(x * x, axis=1)[:, -1]


def scores(vecs, q, na=None):
    """Cosine of each row with q, every sum folded in index order. `na`
    (the rows' `squared_norms`) may be passed when querying one matrix
    many times."""
    x = np.asarray(vecs, dtype=np.float64)
    y = np.asarray(q, dtype=np.float32).astype(np.float64)
    dot = np.cumsum(x * y, axis=1)[:, -1]
    na = squared_norms(vecs) if na is None else na
    nb = np.cumsum(y * y)[-1]
    return dot / (np.sqrt(na) * np.sqrt(nb))


def topk(ids, vecs, q, k, na=None):
    """[(id, score)] of the k best rows, by score descending then id."""
    if len(ids) == 0 or k <= 0:
        return []
    s = scores(vecs, q, na)
    order = np.lexsort((ids, -s))[:k]
    return [(int(ids[i]), float(s[i])) for i in order]


def canon(t):
    t = t.select(sorted(t.column_names)).combine_chunks()
    try:
        t = t.sort_by([(c, "ascending") for c in t.column_names])
    except (pa.ArrowNotImplementedError, pa.ArrowInvalid):
        pass  # list columns do not sort; compare in row order
    return t


def compare_tables(got, exp):
    """None if the two arrow tables hold the same typed rows, else why not."""
    g, e = canon(got), canon(exp)
    if g.num_rows != e.num_rows:
        return f"rows {g.num_rows} vs oracle {e.num_rows}"
    gt = {f.name: f.type for f in g.schema}
    et = {f.name: f.type for f in e.schema}
    if gt != et:
        return f"schema {gt} vs oracle {et}"
    for c in g.column_names:
        for i, (x, y) in enumerate(zip(g[c].to_pylist(), e[c].to_pylist())):
            if not (x == y or (x is None and y is None)
                    or (isinstance(x, float) and isinstance(y, float) and x != x and y != y)):
                return f"column {c} row {i}: {x!r} vs oracle {y!r}"
    return None


def oracle_table(data_dir, sql):
    import duckdb
    con = duckdb.connect()
    for p in glob.glob(os.path.join(data_dir, "*.parquet")):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")
    return con.execute(sql).fetch_arrow_table()


def check_cache(work, res, inputs):
    problems = []
    c = res["checks"]
    ids, vecs = read_vectors(os.path.join(work, "vectors.bin"))
    want_size = len(inputs["docs"]["doc_id"]) + inputs["cache_size"]
    if c["live_size"] != want_size or len(ids) != want_size:
        problems.append(f"live corpus {c['live_size']} rows, expected {want_size}")
    x, na = vecs.astype(np.float64), squared_norms(vecs)
    for s in c["topk"]:
        want = topk(ids, x, s["query_vector"], len(s["ids"]), na)
        if [i for i, _ in want] != s["ids"] or [x for _, x in want] != s["scores"]:
            problems.append(f"sampled {s['kind']} request: top-k differs from brute force")
    fr = c["fold_resend"]
    if not (fr["top"] == fr["written"] and fr["rewritten"] == -1 and fr["score"] > 0.70):
        problems.append(f"re-sent text after a fold did not hit its own entry: {fr}")
    for key in ("mix_mismatches", "resend_wrong_top", "spark_jobs_in_run"):
        if c[key]:
            problems.append(f"{key} = {c[key]}")
    return problems


def check_batch(work, res):
    problems = []
    for q in res["checks"]["batch"]:
        if not q["written"]:
            continue  # counted in `failed` by the timed passes
        got = pq.read_table(q["path"])
        why = compare_tables(got, oracle_table(os.path.join(work, "data"), q["oracle"]))
        if why:
            problems.append(f"{q['query']}: {why}")
    return problems


def verify(workload, work, res, inputs):
    """Every problem found with the run's outputs; empty when correct."""
    if workload == "cache_loop":
        return check_cache(work, res, inputs)
    return check_batch(work, res)
