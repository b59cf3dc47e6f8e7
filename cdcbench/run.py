#!/usr/bin/env python3
"""Run one benchmark workload once and report its metrics.

    python3 cdcbench/run.py --workload cdc-live --seed 1 --seconds 12 --trace 0

Run from the repository root. Builds the program if its sources changed
(see build.py), starts the JVM harness (cdcbench/src), runs the untimed
output checks, prints every metric by name with its unit and sample count,
and ends with one JSON line: {"correct", "attempted", "failed", "metrics"}.
`--trace 0` reports the end-to-end metrics; `--trace 1` switches every
collector on and reports the per-layer metrics, writing them and the spans
to the run's directory. See README.md for the workloads and metrics.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("cdc-live", "cdc-backfill", "board")
# Board tables are generated at this scale factor (lineitem = 6M x sf).
BOARD_SF = 0.005
# A CDC run takes about a minute; the board, with its checked set-up pass,
# about a minute and a half.
JVM_TIMEOUT_S = {"board": 900}
STRATA = ("live", "backfill", "light", "heavy")
EXEC = ("jobs", "stages", "tasks", "sched_delay_ms", "deser_ms", "run_ms", "cpu_ms",
        "shuffle_write_bytes", "fetch_wait_ms", "spill_bytes", "partition_skew")
SELF_SPANS = ("stream.foreach_batch", "sink.merge", "read.lookup", "stream.batch",
              "backfill.drain", "board.query.light", "board.query.heavy", "exec.job")

E2E_UNITS = {"setup_s": "s", "mem_peak_mb": "MB", "visible_p50_ms": "ms", "visible_tail_ms": "ms"}


def jvm_args(cp, out):
    opens = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
    tmp = out / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    # C1 only and a fixed young generation: on a few cores C2 compilation
    # takes 100+ s of CPU inside a one-minute run and swings its timings
    args = ["java", "-Xms3g", "-Xmx3g", "-Xmn512m", "-XX:TieredStopAtLevel=1",
            "-XX:ReservedCodeCacheSize=512m", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Dderby.system.home=" + str(out)]
    for o in opens:
        args += ["--add-opens", f"{o}=ALL-UNNAMED"]
    return args + ["-cp", cp, "cdcbench.Main"]


def p50(xs):
    return stats.percentile(xs, 50.0) if xs else 0.0


def weighted(pairs):
    """Expand [size, value, size, value, ...] into a sample list."""
    out = []
    for i in range(0, len(pairs) - 1, 2):
        out += [pairs[i + 1]] * int(pairs[i])
    return out


def end_to_end(workload, raw):
    """Every end-to-end metric as {name: (value, n, note)}, and the
    workload's own named figures as {name: (value, n, unit)}."""
    v, s = raw["values"], raw["samples"]
    m = {"setup_s": (v["setup_s"], 1, ""), "mem_peak_mb": (v["mem_peak_mb"], 1, "peak RSS")}
    named = {}
    if workload == "cdc-live":
        vis = s.get("visible_ms", [])
        sm = stats.summarize(vis)
        m["visible_p50_ms"] = (sm["p50"], sm["n"], "event due -> manifest flip")
        m["visible_tail_ms"] = (sm["tail"], sm["n"], f"p{sm['tail_pct']:g}")
        lk = stats.summarize(s.get("lookup_ms", [0.0]))
        named["lookup_p50_ms"] = (lk["p50"], lk["n"], "ms")
        named[f"lookup_p{lk['tail_pct']:g}_ms"] = (lk["tail"], lk["n"], "ms")
        named[f"visible_p{sm['tail_pct']:g}_ms"] = (sm["tail"], sm["n"], "ms")
        # lines per second of micro-batch time: the rate the path would
        # sustain with batches back to back
        named["capacity_per_s"] = (v["capacity_lines"] / v["capacity_busy_s"], sm["n"], "lines/s")
    elif workload == "cdc-backfill":
        drains = sorted(k for k in s if k.startswith("visible_batches."))
        per = [stats.summarize(weighted(s[k])) for k in drains]
        m["visible_p50_ms"] = (stats.median([p["p50"] for p in per]), len(per),
                               f"median over drains of the per-drain p50 (n={per[0]['n']} each)")
        m["visible_tail_ms"] = (stats.median([p["tail"] for p in per]), len(per),
                                f"p{per[0]['tail_pct']:g}, median over drains")
        rates = [v["events"] / d for d in s["drain_s"]]
        named["drain_eps"] = (stats.median(rates), len(rates), "events/s")
    else:
        strata = v["strata"]
        per_q = {k[len("query_s."):]: stats.median(x) for k, x in s.items() if k.startswith("query_s.")}
        lat = [x * 1000.0 for x in per_q.values()]
        sm = stats.summarize(lat)
        m["visible_p50_ms"] = (sm["p50"], sm["n"], "per-query median over passes, query issue -> result")
        m["visible_tail_ms"] = (sm["tail"], sm["n"], f"p{sm['tail_pct']:g} over queries")
        light = [x for k, xs in s.items() if k.startswith("query_s.") and strata.get(k[8:]) == "light" for x in xs]
        heavy = [t for q, t in per_q.items() if strata.get(q) == "heavy"]
        named["light_query_p50_s"] = (p50(light), len(light), "s")
        named["heavy_total_s"] = (sum(heavy), len(heavy), "s (sum of per-query medians)")
        named["queries_per_s"] = (len(per_q) / sum(per_q.values()), len(per_q), "1/s")
    return m, named


def per_layer(workload, raw, spans):
    v, s = raw["values"], raw["samples"]
    L = {}
    for k in ("batch", "plan", "offset", "add_batch", "wal", "commit"):
        L[f"stream.{k}_ms_p50"] = p50(s.get(f"stream.{k}_ms", []))
    L["stream.batches"] = v.get("stream.batches", 0)
    L["stream.rows_per_batch_p50"] = p50(s.get("stream.rows_per_batch", []))
    L["stream.backlog_rows_end"] = (s.get("backlog.rows") or [0.0])[-1]
    rin, rout = sum(s.get("decode.rows_in", [])), sum(s.get("decode.rows_out", []))
    L["decode.rows_in"], L["decode.rows_out"] = rin, rout
    L["decode.kept_ratio"] = rout / rin if rin else 0.0
    L["decode.solo_eps"] = v.get("decode.solo_eps", 0.0)
    for k in ("ok_full", "ok_enrich", "noop_stale", "dup_dropped", "useful_ratio", "fold_1t_eps"):
        L[f"ladder.{k}"] = v.get(f"ladder.{k}", 0)
    for k in ("rows_end", "bytes_end", "rocksdb_sst_bytes_end"):
        L[f"state.{k}"] = v.get(f"state.{k}", 0)
    for k in ("commit_ms", "rows_updated", "rocksdb_flush_ms"):
        L[f"state.{k}_sum"] = sum(s.get(f"state.{k}", []))
    L["sink.merge_ms_p50"] = p50(s.get("sink.merge_ms", []))
    L["sink.buckets_touched_p50"] = p50(s.get("sink.buckets_touched", []))
    L["sink.rows_written_per_event"] = sum(s.get("sink.rows_written", [])) / rin if rin else 0.0
    L["sink.bytes_written_per_event"] = sum(s.get("sink.bytes_written", [])) / rin if rin else 0.0
    L["sink.files_end"] = v.get("sink.files_end", 0)
    L["sink.bytes_per_view_row_end"] = v.get("sink.bytes_per_view_row_end", 0.0)
    lk = s.get("lookup_ms", [])
    L["read.lookup_p50_ms"] = p50(lk)
    L["read.lookup_tail_ms"] = stats.summarize(lk)["tail"] if lk else 0.0
    # catalyst: phase spans (root spans from QueryExecution.tracker)
    # attributed to the benchmark span whose interval contains them
    for st, container in (("live", "stream.foreach_batch"), ("backfill", "backfill.drain"),
                          ("light", "board.query.light"), ("heavy", "board.query.heavy")):
        boxes = [(x["start_us"], x["end_us"]) for x in spans if x["name"] == container]
        for phase, name in (("analysis", "analysis"), ("optimization", "optimizer"), ("planning", "planning")):
            ph = [(x["start_us"], x["end_us"]) for x in spans if x["name"] == f"catalyst.{phase}"]
            per = [sum(e - b for b, e in ph if a <= b and e <= z) / 1000.0 for a, z in boxes]
            L[f"catalyst.{name}_ms.{st}"] = p50(per)
    for st in ("light", "heavy"):
        builds = [(x["end_us"] - x["start_us"]) / 1000.0 for x in spans if x["name"] == f"catalyst.build.{st}"]
        L[f"catalyst.build_ms.{st}"] = p50(builds)
    for st in STRATA:
        for k in EXEC:
            L[f"exec.{k}.{st}"] = v.get(f"exec.{k}.{st}", 0)
    L["mat.cached_rdds_max"] = max(s.get("mat.cached_rdds", [0]))
    L["mat.cached_bytes_max"] = max(s.get("mat.cached_bytes", [0]))
    L["mat.core_build_s"] = sum(x for k, x in v.items() if k.startswith("mat.core_build_s."))
    L["jvm.gc_ms"], L["jvm.jit_ms"] = v.get("gc_ms", 0), v.get("jit_ms", 0)
    L["host.steal_pct"] = v.get("steal_pct", -1.0)
    late = s.get("gen.late_ms", [])
    L["gen.late_ms_tail"] = stats.summarize(late)["tail"] if late else 0.0
    selfs = stats.self_times(spans)
    for n in SELF_SPANS:
        L[f"self_ms.{n}"] = selfs.get(n, 0) / 1000.0
    board = workload == "board"
    return {k: x for k, x in L.items() if board_only(k) == board or not (board_only(k) or cdc_only(k))}


def board_only(name):
    return name.endswith((".light", ".heavy")) or name.startswith("mat.")


def cdc_only(name):
    return name.endswith((".live", ".backfill"))


def unit_of(name):
    """Unit of a per-layer metric, from its name."""
    if name.startswith("self_ms.") or "_ms" in name:
        return "ms"
    for part, unit in (("bytes", "bytes"), ("_eps", "events/s"), ("ratio", "ratio"), ("skew", "ratio"),
                       ("pct", "%")):
        if part in name:
            return unit
    return "s" if name.endswith("_s") else "count"


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    cp = build.build()
    bdir = build.build_dir()
    out = bdir / "runs" / f"{a.workload}-s{a.seed}-t{a.trace}"
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    cmd = jvm_args(cp, out) + ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                               "--trace", str(a.trace), "--out", str(out), "--cpus", str(len(os.sched_getaffinity(0)))]
    data = None
    if a.workload == "board":
        data = bdir / "data" / f"board-sf{BOARD_SF}-s{a.seed}"
        import boardgen
        boardgen.generate(data, a.seed, BOARD_SF)
        cmd += ["--data", str(data)]
    with open(out / "jvm.log", "w") as log:
        try:
            proc = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT, timeout=JVM_TIMEOUT_S.get(a.workload, 165))
            code = proc.returncode
        except subprocess.TimeoutExpired:
            code = "timeout"
    res = out / "result.json"
    if code != 0 or not res.is_file():
        sys.stderr.write((out / "jvm.log").read_text()[-4000:])
        raise SystemExit(f"cdcbench: the JVM run failed ({code}); log in {out / 'jvm.log'}")
    raw = json.loads(res.read_text())
    attempted, failed, failures = raw["attempted"], raw["failed"], list(raw["failures"])
    growth = None
    if a.workload == "cdc-live":
        # a run over capacity is not a latency at this rate: it counts as
        # one failed operation, so the result reads correct: false
        growth = stats.backlog_growth(raw["samples"]["backlog.rows"], int(raw["values"]["backlog.period_steps"]))
        attempted += 1
        if growth > raw["values"]["rate"]:
            failed += 1
            failures.append(f"over capacity: the backlog grew by {growth:.1f} lines per trigger period")

    if a.workload == "board":
        import boardcheck
        errors = {k[len("check_error."):]: x for k, x in raw["values"].items() if k.startswith("check_error.")}
        checks = boardcheck.check(data, out / "board-out", raw["values"]["oracle_sql"], errors)
        attempted += len(checks)
        bad = {k: r for k, r in checks.items() if r}
        failed += len(bad)
        failures += [f"{k}: {r}" for k, r in sorted(bad.items())]
        shutil.rmtree(data, ignore_errors=True)

    e2e, named = end_to_end(a.workload, raw)
    v = raw["values"]
    print(f"workload {a.workload} seed {a.seed} seconds {a.seconds} trace {a.trace}")
    for k, (val, n, note) in e2e.items():
        print(f"  {k:<22} {val:>14.4f} {E2E_UNITS[k]:<5} n={n:<6} {note}")
    for k, (val, n, unit) in named.items():
        print(f"  {k:<22} {val:>14.4f} {unit:<5} n={n}")
    print(f"  {'ops_failed_frac':<22} {failed / max(attempted, 1):>14.4f} ratio n={attempted}")
    print(f"  env: nproc={v.get('nproc')} cpus={v.get('cpus')} steal_pct={v.get('steal_pct', -1):.2f} "
          f"gc_ms={v.get('gc_ms')} jit_ms={v.get('jit_ms')}")
    if a.workload == "cdc-live":
        late = raw["samples"].get("gen.late_ms", [0.0])
        lt = stats.summarize(late)
        backlog = (raw["samples"].get("backlog.rows") or [0.0])[-1]
        print(f"  open loop: gen.late_ms p{lt['tail_pct']:g}={lt['tail']:.2f} backlog_rows_end={backlog:.0f} "
              f"backlog growth per trigger period={growth:.2f} lines (over capacity above {v['rate']:g})")
    for f in failures:
        print(f"  FAILED: {f}")

    hist = bdir / "history" / f"{a.workload}.jsonl"
    if a.trace == 0:
        hist.parent.mkdir(parents=True, exist_ok=True)
        with open(hist, "a") as h:
            h.write(json.dumps({"build": build.stamp(), **{k: x[0] for k, x in e2e.items()}}) + "\n")
        metrics = {k: {"value": x[0], "unit": E2E_UNITS[k]} for k, x in e2e.items()}
    else:
        spans = json.loads((out / "spans.json").read_text()) if (out / "spans.json").is_file() else []
        layers = per_layer(a.workload, raw, spans)
        past = [json.loads(x) for x in hist.read_text().splitlines()] if hist.is_file() else []
        past = [p for p in past if p.get("build") == build.stamp()]
        overhead = {k: e2e[k][0] - stats.median([p[k] for p in past]) for k in e2e if past}
        for k, x in overhead.items():
            print(f"  trace overhead {k:<22} {x:+.4f} {E2E_UNITS[k]} (traced minus median of {len(past)} untraced)")
        if not past:
            print("  trace overhead: no untraced run of this workload and build in this build directory yet")
        (out / "layers.json").write_text(json.dumps(
            {"layers": layers, "self_ms": stats.self_times(spans), "trace_overhead": overhead}, indent=1))
        print(f"  per-layer metrics and spans written to {out}")
        metrics = {k: {"value": x, "unit": unit_of(k)} for k, x in layers.items()}
    for d in ("view", "spark-local", "board-out", "tmp", "warehouse"):
        shutil.rmtree(out / d, ignore_errors=True)
    for d in out.glob("*-ckpt*"):
        shutil.rmtree(d, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
