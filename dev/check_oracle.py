#!/usr/bin/env python3
"""Dev-only local mirror of the driver's correctness gate: for each query
dumped by graft.Verify, run its oracle SQL in DuckDB over the same parquet
tables and compare (column names, integer-vs-float kind per column, row
count, values sorted by column name).
Not part of the shipped library.

Usage: python3 dev/check_oracle.py <sfDir> <verifyOutDir>
"""
import sys, json, glob, math
import duckdb

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.10g}"
    return str(v)

def kind(col):
    """'int' or 'float' for a numeric pandas column, else None. DuckDB hands
    pandas an integer column with NULLs, or a HUGEINT one, as float64."""
    k = col.dtype.kind
    return "int" if k in "iu" else "float" if k == "f" else None

def main(sf_dir, out_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    results = {}
    for qdir in sorted(glob.glob(f"{out_dir}/*/")):
        name = qdir.rstrip("/").split("/")[-1]
        try:
            ours = con.execute(f"SELECT * FROM '{qdir}*.parquet'").df()
        except Exception as e:
            results[name] = f"READ_FAIL {e}"
            continue
        if name not in oracle:
            results[name] = f"rows_only rows={len(ours)}" + (" EMPTY!" if len(ours) == 0 else "")
            continue
        try:
            ref = con.execute(oracle[name]).df()
        except Exception as e:
            results[name] = f"ORACLE_SQL_FAIL {str(e)[:200]}"
            continue
        ours = ours.reindex(sorted(ours.columns), axis=1)
        ref = ref.reindex(sorted(ref.columns), axis=1)
        if list(ours.columns) != list(ref.columns):
            results[name] = f"SCHEMA_MISMATCH ours={list(ours.columns)} ref={list(ref.columns)}"
            continue
        # integer vs float per column, before norm() formats 742.0 as "742":
        # a hash over the raw cells tells the two apart
        kinds = [(c, kind(ours[c]), kind(ref[c])) for c in ours.columns]
        bad_kind = [f"{c}: ours={a} ref={b}" for c, a, b in kinds if a and b and a != b]
        if bad_kind:
            results[name] = f"TYPE_MISMATCH {'; '.join(bad_kind)}"
            continue
        if len(ours) != len(ref):
            results[name] = f"ROWCOUNT_MISMATCH ours={len(ours)} ref={len(ref)}"
            continue
        ours_cells = [[norm(v) for v in row] for row in ours.itertuples(index=False)]
        ref_cells = [[norm(v) for v in row] for row in ref.itertuples(index=False)]
        # order-insensitive compare (driver sorts before hashing)
        if sorted(map(tuple, ours_cells)) != sorted(map(tuple, ref_cells)):
            bad = next((i, a, b) for i, (a, b) in enumerate(
                zip(sorted(map(tuple, ours_cells)), sorted(map(tuple, ref_cells)))) if a != b)
            results[name] = f"VALUE_MISMATCH first_diff_row={bad[0]} ours={bad[1]} ref={bad[2]}"
            continue
        results[name] = f"OK rows={len(ours)}"
    n_ok = sum(1 for v in results.values() if v.startswith(("OK", "rows_only")))
    for k, v in results.items():
        flag = "  " if v.startswith(("OK", "rows_only")) else "✗ "
        print(f"{flag}{k}: {v}")
    print(f"\n{n_ok}/{len(results)} pass")
    return 0 if n_ok == len(results) else 1

if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
