"""Output checks that run outside the JVM, after the timed window.

`compare` runs each operator entry's oracle SQL (SparkEntry.oracleSql)
in DuckDB over the generated tables and compares it with the Spark
output the harness wrote, the way the repository's oracle gate does:
columns sorted by name, rows sorted, floats compared exactly.

`recorded_hashes` compares dashboard report hashes with the ones
recorded for the seed in expected_hashes.json, when the seed is there.
"""
import json
import os

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
HERE = os.path.dirname(os.path.abspath(__file__))


def _norm(df):
    import pandas as pd
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
        elif df[c].dtype == object:
            df[c] = df[c].map(lambda v: str(v) if v is not None else None)
    if len(df):
        df = df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def _diff(got, want):
    import pandas as pd
    a, b = _norm(got), _norm(want)
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} != {list(b.columns)}"
    if len(a) != len(b):
        return f"rows {len(a)} != {len(b)}"
    for c in a.columns:
        av, bv = a[c], b[c]
        if pd.api.types.is_float_dtype(av) or pd.api.types.is_float_dtype(bv):
            ok = ((av.isna() & bv.isna()) | (av == bv)).all()
        else:
            ok = (av.astype(str).where(~av.isna(), "<NA>") ==
                  bv.astype(str).where(~bv.isna(), "<NA>")).all()
        if not ok:
            return f"values differ in column {c}"
    return ""


def compare(out_dir, tables_dir):
    """(ok, detail) over every entry listed in out_dir/oracle_sql.json."""
    import duckdb
    with open(os.path.join(out_dir, "oracle_sql.json"), encoding="utf-8") as f:
        oracle = json.load(f)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(tables_dir, t)}.parquet'")
    bad = []
    for name, sql in sorted(oracle.items()):
        try:
            got = con.sql(f"SELECT * FROM '{os.path.join(out_dir, name)}/*.parquet'").df()
            want = con.sql(sql).df()
            d = _diff(got, want)
        except Exception as e:  # a missing output or a failing oracle is a mismatch
            d = f"{type(e).__name__}: {str(e).splitlines()[0][:120]}"
        if d:
            bad.append(f"{name}: {d}")
    con.close()
    return (not bad, f"{len(oracle) - len(bad)}/{len(oracle)} entries match"
            + ("; " + "; ".join(bad[:5]) if bad else ""))


def recorded_hashes(seed, hashes):
    path = os.path.join(HERE, "expected_hashes.json")
    recorded = {}
    if os.path.exists(path):
        with open(path, encoding="utf-8") as f:
            recorded = json.load(f).get(str(seed), {})
    if not recorded:
        return {"name": "report hashes == hashes recorded for the seed", "ok": True,
                "detail": f"no hashes recorded for seed {seed}; self-consistency only"}
    bad = sorted(v for v, h in recorded.items() if hashes.get(v) != h)
    return {"name": "report hashes == hashes recorded for the seed", "ok": not bad,
            "detail": f"{len(recorded) - len(bad)}/{len(recorded)} verbs match"
                      + (f"; differ: {','.join(bad)}" if bad else "")}
