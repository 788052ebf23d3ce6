#!/usr/bin/env python3
"""The repository benchmark: pcap convert and packet-table analysis.

    python3 perfbench/run.py --workload convert_ddos --seed 1 --seconds 18 --trace 0

Builds the program from source (perfbench/build.py), generates the
workload's seeded capture in one JVM, then measures in a second, fresh
JVM (perfbench/src/perfbench/Harness.scala), and finally checks the
outputs with DuckDB. The last line of stdout is the result:
{"correct", "attempted", "failed", "metrics"}; the line before it is
the environment record. --trace 0 gives the end-to-end metrics of
BENCHMARK.json, --trace 1 the per-layer ones. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # keep the checkout free of __pycache__
import build  # noqa: E402

WORKLOADS = ("convert_ddos", "convert_tcp")
# ddos frames every packet twice (stats pass + write), so both converts
# take about 1.3 s warm on 4 cores
PACKETS = {"convert_ddos": 500_000, "convert_tcp": 1_000_000}
DEADLINE_S = 170
# JavaModuleOptions.defaultModuleOptions(): what spark-submit would add
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
         "java.net", "java.nio", "java.util", "java.util.concurrent",
         "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
         "sun.security.action", "sun.util.calendar"]

# The analysis queries of traced runs in DuckDB SQL; each must return
# the same rows as its Spark twin in Harness.queries.
TABLE = "read_parquet('{dir}/*.parquet')"
WINDOW = ("select count(*), sum(frame_len), count(distinct ip_src) from t "
          "where epoch_us(frame_time) between {lo} and {hi}")
QUERIES = {
    "proto_mix": "select col_protocol, count(*), sum(frame_len) from t group by 1",
    "top_sources": "select ip_src, count(*) n, sum(frame_len) from t group by 1 "
                   "order by n desc, ip_src limit 10",
    "dns_amplifiers": "select dns_qry_name, udp_srcport, count(*) from t "
                      "where dns_qry_name is not null group by 1, 2",
    "ntp_reqcodes": "select ntp_priv_reqcode, count(*) from t "
                    "where ntp_priv_reqcode is not null group by 1",
    "per_second_rate": "select epoch_us(frame_time) // 1000000, count(*), "
                       "sum(frame_len) from t group by 1",
    "window_slice_pruned": WINDOW,
    "window_slice_full": WINDOW,
}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def mem_total_mb():
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    return 8192


def loadavg1():
    try:
        with open("/proc/loadavg") as f:
            return float(f.read().split()[0])
    except OSError:
        return -1.0


def calibration_s():
    """Median of 3 timings of a fixed pure-Python loop: a loaded or slow
    host reads high. For reading a run, never for a claim."""
    ts = []
    for _ in range(3):
        t0 = time.perf_counter()
        sum(i % 7 for i in range(1_000_000))
        ts.append(time.perf_counter() - t0)
    return statistics.median(ts)


def java(cp, work, heap_mb, main, args):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [a for p in OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    return (["java", f"-Xmx{heap_mb}m", f"-Xms{heap_mb}m", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData", *opens,
             f"-Djava.io.tmpdir={tmp}", f"-Dspark.hadoop.hadoop.tmp.dir={tmp}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             f"-Dspark.local.dir={os.path.join(work, 'spark-local')}",
             f"-Dderby.system.home={os.path.join(work, 'derby')}",
             "-cp", cp, main] + [str(a) for a in args])


def run_logged(cmd, logf, timeout):
    with open(logf, "ab") as f:
        return subprocess.run(cmd, stdout=f, stderr=f, timeout=timeout).returncode


def duck(sql):
    import duckdb
    con = duckdb.connect()
    try:
        return con.execute(sql).fetchall()
    finally:
        con.close()


def check_table(out_dir, truth):
    """The truth's aggregates over a convert output, read by DuckDB."""
    cols = sorted(truth["non_null"])
    protos = sorted(truth["protocols"])
    sel = ["count(*)"] + [f"count({c})" for c in cols] + \
          [f"count(*) filter (where col_protocol = '{p}')" for p in protos]
    got = list(duck(f"select {', '.join(sel)} from {TABLE.format(dir=out_dir)}")[0])
    want = [truth["packets"]] + [truth["non_null"][c] for c in cols] + \
           [truth["protocols"][p] for p in protos]
    return None if got == want else f"{out_dir}: {got} != truth {want}"


def canonical(rows):
    return "\n".join(sorted("|".join("NULL" if v is None else str(v) for v in r)
                            for r in rows))


def check_queries(work, table_dir, window):
    errs = []
    for name, sql in QUERIES.items():
        q = f"with t as (select * from {TABLE.format(dir=table_dir)}) " + \
            sql.format(lo=window[0], hi=window[1])
        want = canonical(duck(q))
        path = os.path.join(work, "results", f"{name}.txt")
        got = open(path).read() if os.path.exists(path) else None
        if got != want:
            errs.append(f"{name}: Spark result differs from DuckDB")
    return errs


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt", action="store_true",
                    help="self-test: delete a part file of every output before "
                         "its check, which must then fail")
    a = ap.parse_args()
    t_start = time.monotonic()

    def left():
        """Seconds left of the run's deadline; a step that would pass it
        times out and the run fails without a result."""
        return max(1.0, DEADLINE_S - (time.monotonic() - t_start))

    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    try:
        cp = build.build()
    except build.BuildError as e:
        sys.exit(f"perfbench: build failed: {e}")

    work = os.path.join(build.OUT, "work", a.workload)
    os.makedirs(work, exist_ok=True)
    for stale in ("harness.json", "results", "out", "harness.log", "spark-local", "tmp"):
        p = os.path.join(work, stale)
        shutil.rmtree(p, ignore_errors=True) if os.path.isdir(p) else \
            (os.path.exists(p) and os.remove(p))
    free_gb = shutil.disk_usage(work).free / 1e9
    if free_gb < 2:
        sys.exit(f"perfbench: {free_gb:.1f} GB free in the checkout, need 2")
    heap_mb = min(2048, mem_total_mb() // 2)
    logf = os.path.join(work, "harness.log")
    cal_start, load_start = calibration_s(), loadavg1()

    base = [a.workload, a.seed, work, PACKETS[a.workload]]
    if run_logged(java(cp, work, heap_mb, "perfbench.Harness", ["gen"] + base),
                  logf, left()) != 0:
        sys.exit(f"perfbench: corpus generation failed, see {logf}")
    rc = run_logged(java(cp, work, heap_mb, "perfbench.Harness",
                         ["run"] + base + [a.seconds, a.trace]
                         + (["corrupt"] if a.corrupt else [])),
                    logf, left())
    hj = os.path.join(work, "harness.json")
    if rc != 0 or not os.path.exists(hj):
        sys.exit(f"perfbench: harness exited {rc}, see {logf}")
    h = json.load(open(hj))
    truth, metrics = h["truth"], dict(h["metrics"])
    errors = list(h["errors"])
    failed, attempted = h["failed"], h["attempted"]

    # independent checks of the program's outputs
    out = os.path.join(work, "out")
    for d in ("table.parquet", "cli.parquet") if a.trace else ("table.parquet",):
        e = check_table(os.path.join(out, d), truth)
        if e:
            errors.append(e)
    if a.trace:
        errors += check_queries(work, os.path.join(out, "table.parquet"), h["window_us"])
        # a fresh CLI process on a 1k-packet capture: the fixed cost
        tiny_out = os.path.join(out, "tiny.parquet")
        t0 = time.monotonic()
        rc = run_logged(java(cp, work, heap_mb, "graft.spark.PcapConvert",
                             ["-f", os.path.join(work, "tiny.pcap"), "-o", tiny_out,
                              "--multi-file"]), logf, left())
        metrics["spark.cli_fixed_s"] = time.monotonic() - t0
        attempted += 1
        if rc != 0 or duck(f"select count(*) from {TABLE.format(dir=tiny_out)}")[0][0] != 1000:
            failed += 1
            errors.append("tiny CLI convert failed")

    if a.workload == "convert_ddos" and a.trace:
        diff = os.path.join(ROOT, "tools", "defrag_differential.py")
        r = subprocess.run([sys.executable, diff, os.path.join(out, "nodefrag.parquet"),
                            os.path.join(out, "cli.parquet")],
                           capture_output=True, text=True, timeout=left())
        if r.returncode != 0:
            errors.append("defrag differential: " + (r.stdout + r.stderr)[-300:])

    if errors and failed == 0:
        failed = 1
    for e in errors:
        log("CHECK FAILED: " + e)
    missing = [m["name"] for m in wanted if metrics.get(m["name"]) is None]
    if missing:
        sys.exit(f"perfbench: metrics not measured: {missing}; see {logf}")

    env = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
           "packets": PACKETS[a.workload], "cpus": h["cpus"],
           "heap_mb": h["max_heap_b"] // 2**20,
           "live_heap_mb": metrics.get("spark.live_heap_mb"),
           "git_commit": git_commit(), "source_sha256": source_sha(),
           "calibration_s": {"start": cal_start, "end": calibration_s()},
           "loadavg1": {"start": load_start, "end": loadavg1()},
           "ops": metrics.get("ops"), "phases": h["notes"],
           "wall_s": time.monotonic() - t_start}
    result = {"correct": not errors, "attempted": attempted, "failed": failed,
              "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]}
                          for m in wanted}}
    with open(os.path.join(build.OUT, "results.jsonl"), "a") as f:
        f.write(json.dumps({"env": env, "result": result}) + "\n")
    print(json.dumps({"env": env}))
    print(json.dumps(result), flush=True)


def git_commit():
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def source_sha():
    p = os.path.join(build.OUT, "build.stamp")
    return open(p).read().strip() if os.path.exists(p) else "unknown"


if __name__ == "__main__":
    try:
        main()
    except subprocess.TimeoutExpired as e:
        sys.exit(f"perfbench: {e.cmd[-1] if e.cmd else 'step'} passed the "
                 f"{DEADLINE_S} s deadline")
