#!/usr/bin/env python3
"""The repository's benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload energy_etl --seed 1 --seconds 5 --trace 0

Workloads (BENCHMARK.json lists them with why each was chosen):
  energy_etl       raw EIA-930 sheets + GHCN .dly + stations + polygon
                   + monthly targets -> dataset.csv (Pipelines §3.1-§3.3)
  forecast_search  blocked-CV ARIMAX, BO over recursive GBT, DTW k-means and
                   seasonal decomposition on a seeded daily table
  query_mix        one closed-loop client issuing a frozen query list in
                   seeded order over seeded testdata-shaped tables

The run builds the program from source (perfbench/build.py), runs the
workload in one JVM on local[N] with N = the usable CPU count, checks its
outputs, and prints a human-readable report followed, as the last line, by
one JSON object: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones. Every run's full record (inputs, host noise, all samples)
is kept in .bench_build/results/. Exits non-zero when an output check fails.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
import build  # noqa: E402

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
WORKLOADS = ("energy_etl", "forecast_search", "query_mix")
TIMEOUT_S = 170

# Each workload's own names for the shared end-to-end metrics, printed in
# the report next to them.
ALIASES = {
    "energy_etl": {"batch_s": "etl_pass_s", "work_per_s": "etl_mb_per_s"},
    "forecast_search": {"batch_s": "search_s", "work_per_s": "fits_per_s"},
    "query_mix": {"batch_s": "query_list_pass_s", "work_per_s": "queries_per_s"},
}


def cores() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    args = ap.parse_args()

    try:
        classes = build.build()
    except build.BuildError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    t_start = time.monotonic()  # the run's time limit excludes a first build

    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = build.BUILD_DIR / "runs" / f"{tag}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    try:
        return run(args, classes, work, tag, t_start)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, classes: Path, work: Path, tag: str, t_start: float) -> int:
    n = cores()
    jvm_args = ["--workload", args.workload, "--seed", str(args.seed),
                "--seconds", str(args.seconds), "--trace", args.trace,
                "--cores", str(n), "--work-dir", str(work), "--out", str(work / "result.json")]
    if args.workload == "query_mix":
        import qmix
        data = work / "tables"
        qmix.generate(data, args.seed)
        jvm_args += ["--data-dir", str(data), "--queries", str(BENCH_DIR / "queries.txt")]

    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    # A fixed heap: letting G1 grow it made same-code runs differ by GC timing.
    cmd = [build.java(), "-Xms2g", "-Xmx2g", "-XX:+UseG1GC", *build.ADD_OPENS,
           f"-Djava.io.tmpdir={work / 'tmp'}", "-Dspark.ui.enabled=false",
           "-cp", build.classpath(classes), "perfbench.Main", *jvm_args]
    log = work / "jvm.log"
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, env=env,
                                cwd=str(work))
        try:
            rc = proc.wait(timeout=max(10.0, TIMEOUT_S - (time.monotonic() - t_start)))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            print(f"perfbench: {tag} timed out", file=sys.stderr)
            return 3
    if rc != 0 or not (work / "result.json").exists():
        print(f"perfbench: JVM exited with {rc}; log tail:\n" +
              log.read_text(errors="replace")[-3000:], file=sys.stderr)
        return 4
    res = json.loads((work / "result.json").read_text())

    if args.workload == "query_mix":
        import qmix
        mismatches = qmix.check(work / "tables", work / "query-check")
        res["oracle_mismatches"] = mismatches
        for name, why in mismatches.items():
            res["failed"] += max(1, res["ops_by_label"].get(name, 0))
            res["problems"].append(f"{name}: {why}")

    results = build.BUILD_DIR / "results"
    results.mkdir(parents=True, exist_ok=True)
    if res.get("spans_file"):
        shutil.copy(res["spans_file"], results / f"{tag}.spans.json")
        res["spans_file"] = str(results / f"{tag}.spans.json")
    (results / f"{tag}.json").write_text(json.dumps(res, indent=1) + "\n")

    correct = res["failed"] == 0
    report(res, args.workload)
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": res["metrics"]}))
    return 0 if correct else 1


def report(res: dict, workload: str) -> None:
    rep, host = res["report"], res["host"]
    print(f"workload {workload}  seed {res['seed']}  trace {int(res['trace'])}  "
          f"local[{res['cores']}]  batches {res['batches']}  window {res['window_s']:.1f} s")
    print(f"  host: nproc {host['nproc']}  load1 {host['load1_before']:.2f} -> "
          f"{host['load1_after']:.2f}  cpu_probe {host['cpu_probe_ms']:.1f} ms")
    print(f"  inputs: {json.dumps(res['inputs'])}")
    print(f"  set-up: session {res['setup_s']['session']:.3f} s + warm-up batches "
          f"{res['setup_s']['warm_up_batches']:.3f} s")
    if not res["trace"]:
        p90 = rep["op_p90_ms"]
        print(f"  operations {rep['op_samples']} in {rep['batches']} batch(es): p50 "
              f"{rep['op_p50_ms']:.2f} ms, p90 " +
              (f"{p90:.2f} ms" if p90 is not None else "n/a (< 100 samples)") +
              f"; {rep['work_per_s']:.4f} {rep['work_unit']}/s; peak RSS {rep['peak_rss_mb']:.0f} MB")
    print(f"  failed_ratio {rep['failed_ratio']:.4f}  ({res['failed']}/{res['attempted']})")
    for p in res["problems"][:10]:
        print(f"  PROBLEM {p}")
    for name, m in res["metrics"].items():
        if m["value"] != 0 or not res["trace"]:
            alias = ALIASES[workload].get(name)
            print(f"  {name} = {m['value']:.6g} {m['unit']}" + (f"  ({alias})" if alias else ""))


if __name__ == "__main__":
    sys.exit(main())
