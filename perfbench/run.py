#!/usr/bin/env python3
"""corrie pipeline and curation-lane benchmark.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the harness (perfbench/build.py), makes the
workload's inputs from the seed, runs it in one JVM, checks the outputs and
prints the metrics. With --trace 0 the last stdout line holds every
end-to-end metric of BENCHMARK.json; with --trace 1 every per-layer metric.
See perfbench/README.md.
"""
import argparse
import glob
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import build  # noqa: E402
import gen_tables  # noqa: E402

WORKLOADS = ("trickle_jdbc", "lanes_curation")
# Table scale of the curation lanes.
LANES_SF = 0.001
# Per-layer metric families that a workload does not exercise report 0.
NOT_ON = {
    "trickle_jdbc": ("queries.",),
    "lanes_curation": ("microbatch.", "pipeline.", "sink.", "generator.", "diag."),
}
ADD_OPENS = [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar")
    for x in ("--add-opens", p + "=ALL-UNNAMED")]
DEADLINE_S = 170


def jvm(cp, work, args, log, deadline):
    """Run the harness; return its result JSON."""
    out = os.path.join(work, "result-%d.json" % len(glob.glob(os.path.join(work, "result-*"))))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + ADD_OPENS + [
        "-Xms3g", "-Xmx3g", "-XX:ReservedCodeCacheSize=1g", "-Djava.io.tmpdir=" + tmp,
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", cp, "perfbench.Main", "--work", work, "--out", out] + args)
    with open(log, "a") as fh:
        p = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit("harness timed out; log: " + log)
    if rc != 0 or not os.path.exists(out):
        with open(log) as fh:
            sys.stderr.write(fh.read()[-3000:])
        raise SystemExit(f"harness failed with code {rc}")
    with open(out) as fh:
        return json.load(fh)


def rows(df):
    """Rows of a frame as sorted tuples of reprs, columns sorted by name,
    the comparison scripts/check.py makes against the DuckDB oracle."""
    df = df.reindex(sorted(df.columns), axis=1)
    return list(df.columns), sorted(tuple(repr(v) for v in r) for r in df.itertuples(index=False))


def check_lanes(tables, out_dir, oracle, counts, wrong=False):
    """Number of lanes whose output or timed row count disagrees with the
    lane's DuckDB oracle. `wrong` drops one expected row of the first lane."""
    import duckdb
    con = duckdb.connect()
    for t in gen_tables.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables}/{t}.parquet')")
    bad = 0
    for lane, sql in oracle.items():
        files = glob.glob(os.path.join(out_dir, lane, "*.parquet"))
        got = rows(con.execute(
            f"SELECT * FROM read_parquet({files!r})").fetchdf()) if files else None
        want = rows(con.execute(sql).fetchdf())
        if wrong:
            want, wrong = (want[0], want[1][1:]), False
        if got != want or counts.get(lane) != len(want[1]):
            print(f"lane {lane}: output differs from the oracle "
                  f"({None if got is None else len(got[1])} vs {len(want[1])} rows, "
                  f"timed count {counts.get(lane)})")
            bad += 1
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # self-test of the output checks: expect a row nobody published
    ap.add_argument("--wrong-expectation", action="store_true")
    a = ap.parse_args()

    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    cp = build.build()
    # the first run of a checkout builds; the limit covers the run itself
    deadline = time.time() + DEADLINE_S
    work = os.path.abspath(os.path.join(".bench_work", f"{a.workload}-{os.getpid()}"))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    log = os.path.join(work, "harness.log")
    t0 = time.time()
    tables = None
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--wrong-expectation", str(int(a.wrong_expectation))]
    try:
        if a.workload == "lanes_curation":
            tables = os.path.join(work, "tables")
            gen_tables.generate(tables, a.seed, LANES_SF)
            args += ["--tables", tables]
        args += ["--setup-before-s", str(time.time() - t0)]
        res = jvm(cp, work, args, log, deadline)
        failed = res["failed"]
        if a.workload == "lanes_curation":
            t1 = time.time()
            failed += check_lanes(tables, os.path.join(work, "lanes_out"), res["oracle"],
                                  res["lanes"], a.wrong_expectation)
            res["notes"].append(f"oracle check: {time.time() - t1:.1f} s")
        m = dict(res["metrics"])
        if a.trace and a.workload == "trickle_jdbc":
            # catch-up throughput of the parquet path, on 4 cores and on 1:
            # a drain_parquet run of Main (see DrainParquet)
            for cores, name in ((4, "diag.drain_msgs_per_s"), (1, "diag.drain_1core_msgs_per_s")):
                d = jvm(cp, os.path.join(work, f"drain-{cores}"),
                        ["--workload", "drain_parquet", "--seed", str(a.seed), "--seconds", "0",
                         "--trace", "0", "--cores", str(cores)],
                        log, deadline)
                failed += d["failed"]
                res["attempted"] += d["attempted"]
                m[name] = d["metrics"]["throughput_per_s"]
    finally:
        if tables:
            # the program caches its message corpus under /tmp, keyed by the
            # table directory, which is unique to this run
            key = "".join(c if c.isalnum() or c == "." else "_" for c in tables)
            for p in glob.glob(f"/tmp/graft_scratch/corpus_*_{key}*"):
                shutil.rmtree(p, ignore_errors=True) if os.path.isdir(p) else os.remove(p)

    if a.trace:
        for k in ("throughput_per_s", "latency_p50_ms", "latency_p95_ms"):
            m["traced." + k] = m[k]
    wanted = spec["per_layer" if a.trace else "end_to_end"]
    metrics = {}
    for w in wanted:
        v = m.get(w["name"])
        if v is None and w["name"].startswith(NOT_ON[a.workload]):
            v = 0.0
        if v is None:
            raise SystemExit(f"metric {w['name']} was not produced")
        metrics[w["name"]] = {"value": v, "unit": w["unit"]}
    for n in res["notes"]:
        print(n)
    print(f"failed_frac: {failed / max(1, res['attempted']):.6f} ({failed} of {res['attempted']})")
    for k, v in metrics.items():
        print(f"{k}: {v['value']} {v['unit']}")
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": res["attempted"],
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
