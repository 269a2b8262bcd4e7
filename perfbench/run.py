#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. Builds the library and the benchmark
(perfbench/build.py) when the sources changed, generates the workload's
inputs from the seed, runs the workload in its own JVM and checks its
outputs. The last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"}; with --trace 0 the metrics
are the end-to-end metrics of BENCHMARK.json, with --trace 1 the per-layer
ones. The line before it is a detail record (host stamp, Spark conf,
workload figures). Every file the run writes lives under
.bench_run/ in the checkout and is removed before exit. The exit code is
non-zero when any output disagrees with its check.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import build  # noqa: E402

DEADLINE_S = 170
QUERY_SF = 0.002
GEN_REPS = 3
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]


def loadavg():
    return [float(x) for x in Path("/proc/loadavg").read_text().split()[:3]]


def cpu_ticks():
    """Host CPU time in clock ticks: (steal, total) from /proc/stat. Steal
    is time this machine's CPUs were ready but ran another guest."""
    ticks = [int(x) for x in Path("/proc/stat").read_text().split("\n")[0].split()[1:]]
    return ticks[7], sum(ticks)


def tree_bytes(p):
    return sum(f.stat().st_size for f in Path(p).rglob("*") if f.is_file())


def gen_query_data(run_root, seed):
    """Generate the query tables GEN_REPS times; keep the last copy and
    return it with the median generation time."""
    import querydata
    times = []
    for i in range(GEN_REPS):
        out = run_root / f"query-data-{i}"
        t0 = time.perf_counter()
        querydata.generate(out, QUERY_SF, seed)
        times.append(time.perf_counter() - t0)
        if i < GEN_REPS - 1:
            shutil.rmtree(out)
    return out, statistics.median(times)


def oracle_check(root, data_dir, result_dir):
    """Compare each query result with its DuckDB oracle on the same tables,
    with the row normalisation and the HUGEINT rule of the repo's own gate,
    scripts/check_oracle.py. Returns (checked, mismatches)."""
    import pyarrow.dataset as pds
    sys.path.insert(0, str(root / "scripts"))
    import check_oracle

    con = check_oracle.duckdb.connect()
    con.execute("SET threads=2")
    for t in check_oracle.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    oracle = json.loads(Path(result_dir, "oracle_sql.json").read_text())
    bad = []
    for name, sql in sorted(oracle.items()):
        try:
            spark_df = pds.dataset(str(Path(result_dir, name)), format="parquet").to_table().to_pandas()
            wide = [r[0] for r in con.execute(f"DESCRIBE ({sql})").fetchall()
                    if r[1] in ("HUGEINT", "UHUGEINT")]
            if wide:
                bad.append(f"{name}: oracle columns {wide} are HUGEINT")
            elif check_oracle.frame_rows(spark_df) != check_oracle.frame_rows(con.execute(sql).df()):
                bad.append(f"{name}: result differs from its oracle")
        except Exception as e:  # a missing or unreadable result is a mismatch
            bad.append(f"{name}: {e}")
    con.close()
    return len(oracle), bad


def run_jvm(classes, run_root, args, extra, deadline):
    out = run_root / "result.json"
    log = run_root / "jvm.log"
    jars = build.spark_jars()
    cmd = (["java"] + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-Xmx3g", "-XX:-UsePerfData", "-Duser.timezone=UTC", "-Dspark.ui.enabled=false",
            f"-Djava.io.tmpdir={run_root / 'tmp'}", f"-Dderby.system.home={run_root}",
            "-cp", f"{classes}:{jars}/*", "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--root", str(run_root / "work"), "--out", str(out)] + extra)
    (run_root / "tmp").mkdir(parents=True, exist_ok=True)
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, cwd=run_root, stdout=lf, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            code = proc.wait(timeout=max(5, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            code = None
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if code != 0 or not out.exists():
        tail = log.read_text(errors="replace")[-3000:]
        raise SystemExit(f"workload JVM {'timed out' if code is None else f'exited {code}'}:\n{tail}")
    return json.loads(out.read_text())


def main():
    # a terminated run still stops its JVM and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    start = time.monotonic()
    root = Path.cwd()
    spec = json.loads((root / "BENCHMARK.json").read_text())
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        raise SystemExit(f"unknown workload {args.workload}")
    wanted = spec["per_layer" if args.trace else "end_to_end"]
    load0 = loadavg()
    cpu0 = cpu_ticks()
    pre_build_s = time.monotonic() - start
    classes = build.ensure(root)
    deadline = time.monotonic() + DEADLINE_S - pre_build_s
    run_root = root / ".bench_run" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(run_root, ignore_errors=True)
    run_root.mkdir(parents=True)
    try:
        extra = []
        data_dir = None
        if args.workload == "query_surface":
            data_dir, gen_s = gen_query_data(run_root, args.seed)
            extra = ["--query-data", str(data_dir), "--gen-s", repr(gen_s)]
        res = run_jvm(classes, run_root, args, extra, deadline)
        attempted, failed, errors = res["attempted"], res["failed"], res["errors"]
        detail = res["detail"]
        if data_dir is not None:
            checked, bad = oracle_check(root, data_dir, detail["check_dir"])
            attempted += checked
            failed += len(bad)
            errors += bad
        # the JVM removes its state on exit; only the query results the
        # oracle check reads are expected to remain
        leftover = (tree_bytes(run_root / "work") + tree_bytes(run_root / "tmp")
                    - tree_bytes(run_root / "work" / "query-out"))
    finally:
        shutil.rmtree(run_root, ignore_errors=True)
        if (root / ".bench_run").exists() and not any((root / ".bench_run").iterdir()):
            (root / ".bench_run").rmdir()
    load1 = loadavg()
    cpu1 = cpu_ticks()
    nproc = len(os.sched_getaffinity(0))
    detail.update({
        "fail_ratio": failed / max(1, attempted), "errors": errors[:20],
        "loadavg_start": load0, "loadavg_end": load1,
        "cpu_steal_share": (cpu1[0] - cpu0[0]) / max(1, cpu1[1] - cpu0[1]),
        "loaded_host": max(load0[0], load1[0]) > nproc,
        "bytes_left_behind": leftover, "wall_s": time.monotonic() - start})
    for e in errors[:20]:
        print(f"[perfbench] check failed: {e}", file=sys.stderr)
    if detail["loaded_host"]:
        print(f"[perfbench] load average {max(load0[0], load1[0])} exceeds nproc {nproc}",
              file=sys.stderr)
    missing = [m["name"] for m in wanted if m["name"] not in res["metrics"]]
    if missing:
        raise SystemExit(f"workload did not report {missing}")
    print(json.dumps({"detail": detail}))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {m["name"]: {"value": res["metrics"][m["name"]], "unit": m["unit"]}
                    for m in wanted}}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
