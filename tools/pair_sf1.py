#!/usr/bin/env python3
"""DuckDB pairing for the sf1 (10x) full-board run: times every oracle SQL
over the SAME replica parquet dir `graft.Dev scale` ran against, with a hard
per-query timeout (recursive-CTE oracles that take 40-100 s at sf0.1 can
take hours at sf1 — a timeout is recorded as a LOWER BOUND and excluded
from the ratio, listed explicitly in the artifact). Merges the pairing
into the SF1_BOARD.json `graft.Dev scale` wrote into the replica dir, in
place; copy that file to the repo root for graft.Bench to embed.
Dev/driver-side tool only.

Usage: pair_sf1.py [REPLICA_DIR] [ORACLE_JSON] [BOARD_JSON] [TIMEOUT_S]
"""
import json, sys, time, datetime, multiprocessing as mp

REP_DIR = sys.argv[1] if len(sys.argv) > 1 else "/tmp/graft-sf1-10x"
ORACLE = sys.argv[2] if len(sys.argv) > 2 else "/tmp/oracle_sql.json"
BOARD = sys.argv[3] if len(sys.argv) > 3 else f"{REP_DIR}/SF1_BOARD.json"
TIMEOUT = float(sys.argv[4]) if len(sys.argv) > 4 else 300.0
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def run_one(sql, q):
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{REP_DIR}/{t}.parquet'")
    t0 = time.time()
    con.sql(sql).fetchall()
    q.put(time.time() - t0)


def timed(sql):
    """(seconds, status) — status in ok|timeout|error. A fresh process per
    query so a timeout is killable (DuckDB has no statement timeout)."""
    q = mp.Queue()
    p = mp.Process(target=run_one, args=(sql, q))
    p.start()
    p.join(TIMEOUT)
    if p.is_alive():
        p.terminate(); p.join()
        return TIMEOUT, "timeout"
    if p.exitcode != 0:
        return -1.0, "error"
    try:
        return q.get_nowait(), "ok"
    except Exception:
        return -1.0, "error"


oracle = json.load(open(ORACLE))
duck, timeouts, errors = {}, [], []
for name, sql in sorted(oracle.items()):
    s, st = timed(sql)
    if st == "ok":
        duck[name] = round(s, 3)
    elif st == "timeout":
        timeouts.append(name)
    else:
        errors.append(name)
    print(f"{name}: {st} {s:.1f}s", flush=True)

board = json.load(open(BOARD))
spark = board.get("queries", {})
paired = sorted(k for k in duck if spark.get(k, -1) >= 0)
spark_sum = sum(spark[k] for k in paired) + board.get("cores_s", 0.0)
duck_sum = sum(duck[k] for k in paired)
over2 = {k: round(spark[k] / duck[k], 2) for k in paired
         if duck[k] > 0 and spark[k] > 2.0 * duck[k]}
heavy = [k for k in paired if duck[k] >= 0.5]
heavy_spark = sum(spark[k] for k in heavy)
heavy_duck = sum(duck[k] for k in heavy)
board["duck_pairing"] = {
    "generated_utc": datetime.datetime.utcnow().isoformat(timespec="seconds"),
    "timeout_s": TIMEOUT,
    "n_paired": len(paired),
    "spark_total_s": round(spark_sum, 1),
    "duck_total_s": round(duck_sum, 1),
    "ratio": round(spark_sum / duck_sum, 3) if duck_sum else None,
    "heavy": {"min_duck_s": 0.5, "n": len(heavy),
              "spark_s": round(heavy_spark, 1), "duck_s": round(heavy_duck, 1),
              "ratio": round(heavy_spark / heavy_duck, 3) if heavy_duck else None},
    "n_over_2x": len(over2),
    "over_2x": dict(sorted(over2.items(), key=lambda kv: -kv[1])),
    "duck_timeouts": sorted(timeouts),
    "duck_errors": sorted(errors),
    "duck_s": duck,
}
with open(BOARD, "w") as f:
    json.dump(board, f, sort_keys=True)
    f.write("\n")
print(f"\npaired {len(paired)}; spark {spark_sum:.0f}s vs duck {duck_sum:.0f}s "
      f"(ratio {spark_sum/duck_sum:.3f}); over2x {len(over2)}; "
      f"timeouts {len(timeouts)}; errors {len(errors)}")
