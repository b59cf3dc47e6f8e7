#!/usr/bin/env python3
"""Times every oracle SQL in DuckDB on the same parquet/SF and writes
DUCK_PAIRING.json at the repo root. graft.Bench embeds the file into its
artifact as `duck_pairing`, computing the spark/duck ratio against its OWN
fresh spark times — so the driver's per-round BENCH_r{N}.json carries a
same-VM, same-round pairing instead of a carried-forward one (round-6
VERDICT #1). Dev/driver-side tool only — the engine itself is pure
Scala/Spark.

Usage: pair_duckdb.py [SF_DIR] [ORACLE_JSON]
  SF_DIR       parquet dir (default /root/testdata/sf0.1)
  ORACLE_JSON  oracle_sql.json from a graft.Verify run, or from
               `graft.Dev oracle`, which runs no query (default
               /tmp/verify_pair/oracle_sql.json)
Timing: 1 warm-up + 2 measured reps per query, min of the measured reps
(same robust-estimator reasoning as Bench's min-of-reps)."""
import json, sys, time, datetime
import duckdb

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
ORACLE = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_pair/oracle_sql.json"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

con = duckdb.connect()
for t in TABLES:
    con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")

oracle = json.load(open(ORACLE))
duck = {}
errs = {}
for name, sql in sorted(oracle.items()):
    try:
        con.sql(sql).fetchall()  # warm-up (I/O + plan cache)
        times = []
        for _ in range(2):
            t0 = time.time()
            con.sql(sql).fetchall()
            times.append(time.time() - t0)
        duck[name] = round(min(times), 4)
        print(f"{name}: {duck[name]:.3f}s")
    except Exception as e:
        errs[name] = str(e)[:200]
        print(f"ERR {name}: {errs[name]}")

out = {
    "sf_dir": SF_DIR,
    "generated_utc": datetime.datetime.utcnow().isoformat(timespec="seconds"),
    "n_queries": len(duck),
    "duck_total_s": round(sum(duck.values()), 2),
    "errors": errs,
    "duck_s": duck,
}
with open("DUCK_PAIRING.json", "w") as f:
    json.dump(out, f, indent=1, sort_keys=True)
print(f"\nwrote DUCK_PAIRING.json: {len(duck)} queries, "
      f"duck_total={out['duck_total_s']}s, {len(errs)} errors")
