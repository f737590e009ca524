"""DuckDB oracle check for the queries the migrate workload serves.

For each query the harness dumped (one parquet directory per query plus
`oracle_sql.json`), run its oracle SQL in DuckDB over the same input
tables and compare: columns by name, rows after a full sort, values by
their repr, so a type or rounding drift is a mismatch.
"""
import glob
import json
import math
import os

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

import gen


def _canon(rows):
    return sorted(tuple("NaN" if isinstance(v, float) and math.isnan(v)
                        else repr(v) for v in r) for r in rows)


def _table_rows(tbl, cols):
    d = tbl.to_pydict()
    return list(zip(*[d[c] for c in cols])) if cols else []


def check(results_dir, data_dir):
    """Map of query name -> reason, for every query whose dumped result
    differs from its oracle. Queries without an oracle are not listed."""
    with open(os.path.join(results_dir, "oracle_sql.json")) as f:
        sqls = json.load(f)
    con = duckdb.connect()
    for t in gen.TABLES:
        p = os.path.join(data_dir, t + ".parquet")
        if os.path.isdir(p):  # a table the program wrote: a part-file dir
            p = os.path.join(p, "*.parquet")
        if os.path.exists(p) or "*" in p:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    bad = {}
    for name, sql in sorted(sqls.items()):
        files = sorted(glob.glob(os.path.join(results_dir, name, "*.parquet")))
        if not files:
            bad[name] = "no result dumped"
            continue
        try:
            exp = con.execute(sql).arrow()
        except Exception as e:  # the oracle itself failing is a mismatch
            bad[name] = f"oracle error {str(e)[:200]}"
            continue
        got = pa.concat_tables([pq.read_table(f) for f in files])
        ecols, gcols = sorted(exp.column_names), sorted(got.column_names)
        if ecols != gcols:
            bad[name] = f"columns {gcols} != oracle {ecols}"
            continue
        e, g = _canon(_table_rows(exp, ecols)), _canon(_table_rows(got, ecols))
        if len(e) != len(g):
            bad[name] = f"{len(g)} rows != oracle {len(e)}"
        elif e != g:
            i = next(i for i, (x, y) in enumerate(zip(e, g)) if x != y)
            bad[name] = f"row {i}: {g[i]} != oracle {e[i]}"
    return bad
