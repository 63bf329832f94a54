"""catalog_mix correctness: each query's result, as written by the warm-up
pass, against its DuckDB oracle (graft's `SparkEntry.oracleSql`) over the
same parquet inputs. Same comparison as graft's dev/check_oracle.py: column
names sorted, row count, then the multiset of rows with floats to 10
significant digits. A query with no oracle passes if it ran.
"""

import json
import math
import os
import sys

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def _norm(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v:.10g}"
    return str(v)


def compare(con, name, qdir, sql):
    """None if the query's output matches its oracle, else the reason."""
    ours = con.execute(f"SELECT * FROM '{qdir}/*.parquet'").df()
    if sql is None:
        return None
    ref = con.execute(sql).df()
    ours = ours.reindex(sorted(ours.columns), axis=1)
    ref = ref.reindex(sorted(ref.columns), axis=1)
    if list(ours.columns) != list(ref.columns):
        return f"columns {list(ours.columns)} != {list(ref.columns)}"
    if len(ours) != len(ref):
        return f"rows {len(ours)} != {len(ref)}"
    a = sorted(tuple(_norm(v) for v in r) for r in ours.itertuples(index=False))
    b = sorted(tuple(_norm(v) for v in r) for r in ref.itertuples(index=False))
    if a != b:
        i = next(i for i, (x, y) in enumerate(zip(a, b)) if x != y)
        return f"row {i}: {a[i]} != {b[i]}"
    return None


def check(raw, data_dir, results_dir):
    """Mark every timed run of a query whose output mismatches as failed.
    Queries that threw in the warm-up pass are skipped: the harness has
    already counted their runs as failed."""
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    with open(os.path.join(results_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    broken = set(filter(None, raw["info"]["catalog_broken"].split(",")))
    bad = []
    for name in raw["info"]["catalog_queries"].split(","):
        if name in broken:
            continue
        try:
            why = compare(con, name, os.path.join(results_dir, name), oracle.get(name))
        except Exception as e:  # an oracle that cannot run is a failed check
            why = f"check failed: {e}"
        if why is not None:
            bad.append(name)
            raw["failed"] += int(raw["values"].get(f"runs.{name}", 0))
            print(f"[catalog_mix] {name} does not match its oracle: {why}", file=sys.stderr)
    raw["info"]["oracle_mismatches"] = ",".join(bad) or "none"
