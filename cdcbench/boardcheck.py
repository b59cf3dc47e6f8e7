"""Untimed output check of the board: each query's result (written by the
set-up pass) against its `SparkEntry.oracleSql` run in DuckDB over the same
generated tables. Comparison rules: columns sorted by name, equal row
counts, no int-vs-float column kind divergence, exact values in the order
produced (both sides order by a unique key)."""
import decimal

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _kind(s):
    k = s.dtype.kind

    def int_like(v):
        if isinstance(v, bool):
            return False
        if isinstance(v, int):
            return True
        return isinstance(v, decimal.Decimal) and v == v.to_integral_value()

    if k == "O" and len(s) and all(pd.isna(v) or int_like(v) for v in s):
        return "i"
    return k


def compare(got, exp):
    """None when equal, else a one-line reason."""
    got = got[sorted(got.columns)]
    exp = exp[sorted(exp.columns)]
    if list(got.columns) != list(exp.columns):
        return f"columns {list(got.columns)} vs {list(exp.columns)}"
    if len(got) != len(exp):
        return f"rows {len(got)} vs {len(exp)}"
    for c in got.columns:
        gk, ek = _kind(got[c]), _kind(exp[c])
        if {gk, ek} == {"i", "f"} or ({gk, ek} <= {"i", "u", "f"} and gk != ek and "f" in {gk, ek}):
            return f"dtype kind col={c} spark={gk} oracle={ek}"
    for c in got.columns:
        for i, (a, b) in enumerate(zip(got[c].tolist(), exp[c].tolist())):
            ana, bna = pd.isna(a), pd.isna(b)
            if ana and bna:
                continue
            if ana != bna or a != b:
                return f"col={c} row={i} spark={a!r} oracle={b!r}"
    return None


def check(data_dir, out_dir, oracle_sql, errors):
    """{query: None or failure reason} for every query in `oracle_sql`."""
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    res = {}
    for name, sql in sorted(oracle_sql.items()):
        if name in errors:
            res[name] = f"spark error: {errors[name]}"
            continue
        if not sql:
            res[name] = "no oracle SQL"
            continue
        try:
            got = pd.read_parquet(f"{out_dir}/{name}")
        except Exception as e:  # noqa: BLE001 - any read failure is a failed check
            res[name] = f"no spark output ({str(e)[:120]})"
            continue
        try:
            exp = con.sql(sql).df()
        except Exception as e:  # noqa: BLE001
            res[name] = f"oracle error {str(e)[:120]}"
            continue
        res[name] = compare(got, exp)
    con.close()
    return res
