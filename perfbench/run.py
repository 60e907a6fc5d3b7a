#!/usr/bin/env python3
"""Run one workload of the benchmark and print its metrics.

    python3 perfbench/run.py --workload spray --seed 1 --seconds 14 --trace 0

Builds the engine and the table data on first use (`build.py`), makes the
seeded inputs (`gen.py`), then starts one JVM with one closed-loop client
(`harness/Harness.scala`). It prints one line per metric, then as its last
line a JSON object with `correct`, `attempted`, `failed` and `metrics`:
the end-to-end metrics with `--trace 0`, the per-layer metrics with
`--trace 1`.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402
import workloads  # noqa: E402

RUN_LIMIT_S = 165        # one run, after the build
MAX_PASSES = 64          # more passes than any run reaches
PLAN_STRING_CAP = 100000  # spark.sql.maxPlanStringLength in GraftSession


def parse_args():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args()


def load_records(path):
    out = {k: [] for k in ("setup", "pass", "req", "span", "counts", "stage",
                           "loop", "rss")}
    with open(path) as f:
        for line in f:
            r = json.loads(line)
            out.setdefault(r["kind"], []).append(r)
    return out


def write_inputs(run_dir, seed):
    """The spray ETL job's seeded inputs and its expected outputs."""
    optout = gen.optout_csv(seed)
    addresses = gen.address_csv(seed)
    paths = {"etl.optout": os.path.join(run_dir, "optout.csv"),
             "etl.addresses": os.path.join(run_dir, "addresses.csv")}
    for key, text in (("etl.optout", optout), ("etl.addresses", addresses)):
        with open(paths[key], "w", newline="") as f:
            f.write(text)
    rows = optout.count("\n") - 1 + addresses.count("\n") - 1
    nbytes = len(optout.encode()) + len(addresses.encode())
    return paths, gen.expected_etl(optout, addresses), rows, nbytes


def fmt(v):
    return f"{v:.6g}" if isinstance(v, float) else str(v)


def main():
    a = parse_args()
    t_start = time.time()
    os.makedirs(build.OUT, exist_ok=True)
    with open(os.path.join(build.OUT, "build.log"), "a") as log:
        try:
            build.ensure(log)
        except (build.BuildError, subprocess.TimeoutExpired) as e:
            sys.exit(f"perfbench: build failed: {e} (see .bench_build/build.log)")
    with open(os.path.join(HERE, "reference.json")) as f:
        reference = json.load(f)
    refs = reference["queries"]
    cores = build.cores()
    spec = workloads.WORKLOADS[a.workload]
    reqs = spec["requests"]

    run_dir = os.path.join(build.OUT, "runs", f"{a.workload}-{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    plan = {"mode": "run", "workload": a.workload, "data": build.data_dir(),
            "cpus": cores, "seconds": a.seconds, "trace": a.trace,
            "setups": workloads.SETUPS,
            "warmup_passes": spec["warmup_passes"],
            # a traced run measures passes untraced, traced, traced,
            # untraced, so a warming trend cancels out of the overhead
            "min_passes": workloads.MIN_PASSES * (2 if a.trace else 1),
            "work": os.path.join(run_dir, "etl"),
            "out": os.path.join(run_dir, "records.jsonl"),
            "artifacts": ",".join(spec["artifacts"])}
    expected, etl_rows, etl_bytes = None, 0, 0
    if workloads.ETL_JOB in reqs:
        paths, expected, etl_rows, etl_bytes = write_inputs(run_dir, a.seed)
        plan.update(paths)
    for i, order in enumerate(gen.orders(a.seed, a.workload, reqs, MAX_PASSES)):
        plan[f"order.{i}"] = ",".join(order)
    plan_path = os.path.join(run_dir, "plan.txt")
    with open(plan_path, "w") as f:
        f.writelines(f"{k}={v}\n" for k, v in plan.items())

    props = [f"-Dspark.local.dir={run_dir}/spark-local",
             f"-Djava.io.tmpdir={run_dir}/tmp",
             f"-Dspark.sql.warehouse.dir={run_dir}/warehouse"]
    jvm_log = os.path.join(run_dir, "jvm.log")
    with open(jvm_log, "w") as log:
        try:
            r = subprocess.run(
                build.java("graft.perfbench.Harness", [plan_path], props=props),
                stdout=log, stderr=log, cwd=run_dir, timeout=RUN_LIMIT_S)
        except subprocess.TimeoutExpired:
            sys.exit(f"perfbench: run exceeded {RUN_LIMIT_S}s (see {jvm_log})")
    if r.returncode != 0:
        with open(jvm_log) as f:
            tail = f.readlines()[-20:]
        sys.stderr.writelines(tail)
        sys.exit(f"perfbench: harness exited with {r.returncode}")

    rec = load_records(plan["out"])
    for r in rec["req"]:
        r["warmup"] = r["pass"] < spec["warmup_passes"]
    requests = metrics.judge(rec["req"], refs, expected)
    failed = [r for r in requests if not r["ok"]]
    print(f"perfbench workload={a.workload} seed={a.seed} trace={a.trace} "
          f"scale=sf{build.SCALE} cores={cores} "
          f"passes={rec['loop'][0]['passes']} requests={len(requests)} "
          f"wall={time.time() - t_start:.1f}s")
    for r in failed:
        print(f"FAILED {r['req']} {r['name']} (pass {r['pass']}): {r['why']}")
    result = {"correct": not failed, "attempted": len(requests),
              "failed": len(failed), "metrics": {}}
    if a.trace == 0:
        e2e, q = metrics.end_to_end(requests, rec["setup"],
                                    rec["rss"][0]["peak_mb"], etl_rows)
        units = dict(workloads.END_TO_END + workloads.REPORTED)
        for name, (value, n) in e2e.items():
            note = f" (p{q:.3g})" if name == "query_p90_s" else ""
            print(f"{name:<16} {fmt(value):>12} {units[name]:<6} n={n}{note}")
        for name, unit in workloads.END_TO_END:
            result["metrics"][name] = {"value": e2e[name][0], "unit": unit}
    else:
        layer = metrics.per_layer(
            rec, workloads.MODULES, workloads.ARTIFACT_METRICS,
            cores, etl_rows, etl_bytes, PLAN_STRING_CAP)
        for name, (unit, _, _) in workloads.PER_LAYER.items():
            print(f"{name:<32} {fmt(layer[name]):>12} {unit}")
            result["metrics"][name] = {"value": layer[name], "unit": unit}
        with open(os.path.join(run_dir, "self_times.json"), "w") as f:
            json.dump(metrics.self_time_by_name(rec["span"]), f, indent=1)
    # a failed request's +inf latency has no JSON form; it reads as a
    # sentinel larger than any real figure, so a failure never looks faster
    for m in result["metrics"].values():
        if m["value"] == metrics.INF:
            m["value"] = metrics.FAILED_SENTINEL
    print(json.dumps(result))


if __name__ == "__main__":
    main()
