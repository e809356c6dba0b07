#!/usr/bin/env python3
"""The repository benchmark: one command, one workload per run.

    python3 perfbench/run.py --workload catalog_mix --seed 1 --seconds 2 --trace 0

Run from the repository root. It builds the program from source (once;
see build.py), generates the workload's inputs from the seed in a fresh
work directory, runs `perfbench.Main` in one JVM on
`local[N]` with N = the CPUs this process may use, checks the answers,
and prints as its LAST stdout line one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics
with `--trace 0`, the per-layer metrics with `--trace 1`. The line
before it carries the run's metadata. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("catalog_mix", "cdc_loop", "serve_mix")
JVM_TIMEOUT_S = 160
CDC_CYCLES = 6          # snapshots generated: 2 warm-up + at most 4 timed
SERVE_REQUESTS = 400    # request paths generated; clients cycle through
CDC_WARM = 2            # perfbench.Cdc.WarmCycles


def host_state() -> dict:
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    mem = None
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                mem = round(int(line.split()[1]) / 1048576, 2)
    return {"loadavg": load, "mem_available_gb": mem}


def declared(kind: str) -> dict:
    """{name: unit} of the `kind` ("end_to_end" or "per_layer") metrics
    BENCHMARK.json declares."""
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(here, "..", "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    build.build()
    cpus = len(os.sched_getaffinity(0))
    work = os.path.abspath(os.path.join(
        ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}"))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        before = host_state()
        t0 = time.monotonic()
        expected = gen.write_all(args.seed, args.workload, work,
                                 CDC_CYCLES, SERVE_REQUESTS)
        gen_s = time.monotonic() - t0
        raw_path = os.path.join(work, "raw.json")
        cmd = build.jvm() + [
            "perfbench.Main", "--workload", args.workload, "--work", work,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--cpus", str(cpus), "--out", raw_path]
        t1 = time.monotonic()
        with open(os.path.join(work, "jvm.log"), "w") as log:
            proc = subprocess.Popen(cmd, stdout=log, stderr=log)
            try:
                proc.wait(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        if proc.returncode != 0 or not os.path.exists(raw_path):
            with open(os.path.join(work, "jvm.log")) as log:
                sys.stderr.write(log.read()[-4000:])
            print(f"perfbench: perfbench.Main exited with {proc.returncode}",
                  file=sys.stderr)
            return 1
        jvm_s = time.monotonic() - t1
        with open(raw_path) as f:
            raw = json.load(f)

        problems = list(raw["errors"])
        attempted, failed = raw["attempted"], raw["failed"]
        if args.workload == "catalog_mix":
            # one message per wrong query; Main counted each check
            wrong = checks.catalog(work)
            failed += len(wrong)
        elif args.workload == "cdc_loop":
            # the end state is one check, however many counts differ
            wrong = checks.cdc(raw["observed"], expected["cdc"], CDC_WARM)
            attempted += 1
            failed += int(bool(wrong))
        else:
            wrong = []
        problems += wrong
        check_s = time.monotonic() - t1 - jvm_s

        e2e = stats.end_to_end(raw)
        rows = None
        if args.workload == "cdc_loop":
            timed = expected["cdc"][CDC_WARM:raw["observed"]["cycles"]]
            rows = sum(c["cycle_rows"] for c in timed) / max(1, len(timed))
        meta = {
            "workload": args.workload, "seed": args.seed, "cpus": cpus,
            "seconds": args.seconds, "trace": args.trace,
            "xmx": build.HEAP, "spark_conf": raw["conf"],
            "host_before": before, "host_after": host_state(),
            "gen_s": round(gen_s, 3), "jvm_s": round(jvm_s, 3),
            "check_s": round(check_s, 3),
            "session_start_s": raw["session_start_s"],
            "cold_setup_s": raw["setup_s"], "window_s": raw["window_s"],
            "phases_s": raw["phases"], "peak_rss_mb": raw["peak_rss_mb"],
            "observed": {k: v for k, v in raw["observed"].items()
                         if k not in ("requests", "dq_warm")},
            "ops": [[o["kind"], round(o["seconds"], 4)] for o in raw["ops"]],
            # every end-to-end number under the workload's own name, with its unit
            "workload_metrics": {n: {"value": v, "unit": u} for n, (v, u) in {
                "setup_s": e2e["setup_s"],
                "failed_frac": (failed / attempted, "ratio"),
                "peak_rss_mb": (raw["peak_rss_mb"], "MB"),
                **stats.workload_view(args.workload, raw, rows)}.items()},
            "problems": problems[:20],
        }
        if args.trace:
            layers = dict(raw["layers"],
                          **{"process.peak_rss_mb": raw["peak_rss_mb"]})
            metrics = {n: {"value": layers.get(n, 0.0), "unit": u}
                       for n, u in declared("per_layer").items()}
            with open(os.path.join(".bench_work", f"trace-{args.workload}-"
                                   f"{args.seed}.json"), "w") as f:
                json.dump({"meta": meta, "layers": layers,
                           "spans": raw.get("spans", [])}, f)
        else:
            metrics = {n: {"value": v, "unit": u} for n, (v, u) in e2e.items()}
            want = declared("end_to_end")
            got = {n: m["unit"] for n, m in metrics.items()}
            if got != want:
                print(f"perfbench: end-to-end metrics {got} do not match "
                      f"BENCHMARK.json's {want}", file=sys.stderr)
                return 1
        print(json.dumps({"perfbench_meta": meta}))
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
