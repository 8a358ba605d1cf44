"""Untimed output checks, run once per benchmark run in DuckDB.

Each check returns a list of failure messages (empty = pass).
"""
import math

import duckdb
import pyarrow as pa

TABLES = ["region", "nation", "customer", "orders", "lineitem", "events", "documents"]


def _dfy(tbl, cols):
    # DuckDB's pandas mapping renders DECIMAL as float64 and BIGINT as
    # int64; comparing str() of cells after that mapping catches a
    # HUGEINT-vs-long output that plain value equality accepts.
    t = tbl.select(cols)
    p = t.to_pandas()
    for c, f in zip(cols, t.schema):
        if pa.types.is_decimal(f.type):
            p[c] = p[c].astype("float64")
    return p.sort_values(cols, key=lambda s: s.map(str)).reset_index(drop=True)


def same_rows(exp, got):
    """Exact, column-name-sorted, row-sorted comparison of two arrow
    tables, value equality then rendering. Returns None or a reason."""
    ecols, gcols = sorted(exp.column_names), sorted(got.column_names)
    if ecols != gcols:
        return f"schema: oracle={ecols} program={gcols}"
    key = lambda r: tuple(str(r[c]) for c in ecols)
    e = sorted(exp.select(ecols).to_pylist(), key=key)
    g = sorted(got.select(gcols).to_pylist(), key=key)
    if len(e) != len(g):
        return f"rows: oracle={len(e)} program={len(g)}"
    for i, (re_, rg) in enumerate(zip(e, g)):
        for c in ecols:
            a, b = re_[c], rg[c]
            if a != b and not (isinstance(a, float) and isinstance(b, float)
                               and math.isnan(a) and math.isnan(b)):
                return f"value row {i} col {c}: oracle={a!r} program={b!r}"
    ep, gp = _dfy(exp, ecols), _dfy(got, gcols)
    for c in ecols:
        ev, gv = ep[c].map(str).tolist(), gp[c].map(str).tolist()
        if ev != gv:
            i = next(i for i in range(len(ev)) if ev[i] != gv[i])
            return f"render row {i} col {c}: oracle={ev[i]!r} program={gv[i]!r}"
    return None


def batch_queries(raw, input_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{input_dir}/{t}.parquet')")
    fails = []
    for name, sql in sorted(raw["oracle"].items()):
        try:
            exp = con.execute(sql).fetch_arrow_table()
            got = con.execute(
                f"SELECT * FROM read_parquet('{raw['results']}/{name}/*.parquet')").fetch_arrow_table()
            why = same_rows(exp, got)
        except Exception as e:  # a broken oracle or output is a failed check
            why = f"error: {e}"
        if why:
            fails.append(f"{name}: {why}")
    return fails


def crawl_tick(raw, input_dir):
    return []  # checked inside the JVM (fingerprints are the program's own hash)


CHECKS = {"batch_queries": batch_queries, "crawl_tick": crawl_tick}
