#!/usr/bin/env python3
"""Record and validate the benchmark's reference fingerprints.

    python3 perfbench/reference.py record     # rewrite reference.json
    python3 perfbench/reference.py validate   # tie it to the DuckDB oracle

`record` runs every registered query once on the benchmark's tables and
stores its fingerprint. `validate` dumps every query result with
`graft.Verify`, checks the oracle-covered ones against DuckDB with the
repo's `tools/check.py`, fingerprints the dumps and compares them with
`reference.json`. A query passes when the oracle check says ok (or it has
no oracle, in which case it is pinned to the recorded output) and its dump
fingerprint matches. The verdicts are written into `reference.json`.
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import metrics  # noqa: E402

REF = os.path.join(HERE, "reference.json")


def harness(mode, work, **plan):
    os.makedirs(work, exist_ok=True)
    out = os.path.join(work, f"{mode}.jsonl")
    plan_path = os.path.join(work, f"{mode}.plan")
    with open(plan_path, "w") as f:
        f.write(f"mode={mode}\nout={out}\ncpus={build.cores()}\n")
        f.writelines(f"{k}={v}\n" for k, v in plan.items())
    props = [f"-Dspark.local.dir={work}/spark-local",
             f"-Djava.io.tmpdir={work}", f"-Dspark.sql.warehouse.dir={work}/wh"]
    subprocess.run(build.java("graft.perfbench.Harness", [plan_path], props=props),
                   check=True, cwd=work, stderr=subprocess.DEVNULL)
    with open(out) as f:
        return [json.loads(line) for line in f]


def record(work):
    recs = harness("record", work, data=build.data_dir())
    ref = {"scale": f"sf{build.SCALE}",
           "queries": {r["name"]: {"module": r["module"], "oracle": r["oracle"],
                                   "fp": r["fp"]} for r in recs}}
    with open(REF, "w") as f:
        json.dump(ref, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"recorded {len(recs)} fingerprints")


def validate(work):
    with open(REF) as f:
        ref = json.load(f)
    dumps = os.path.join(work, "verify_out")
    shutil.rmtree(dumps, ignore_errors=True)
    props = [f"-Dspark.local.dir={work}/spark-local", f"-Djava.io.tmpdir={work}"]
    subprocess.run(build.java("graft.Verify", [build.data_dir(), dumps], props=props),
                   check=True, cwd=work, stderr=subprocess.DEVNULL)
    verdicts_path = os.path.join(work, "oracle.json")
    subprocess.run([sys.executable, os.path.join(build.ROOT, "tools", "check.py"),
                    build.data_dir(), dumps, "--json", verdicts_path],
                   cwd=work, stdout=subprocess.DEVNULL)
    with open(verdicts_path) as f:
        oracle = json.load(f)["queries"]
    got = {r["name"]: r["fp"] for r in harness("dumps", work, dir=dumps)}
    bad = []
    for name, q in sorted(ref["queries"].items()):
        same = metrics.fp_matches(got.get(name), q["fp"])
        if q["oracle"]:
            status = oracle.get(name, {}).get("status", "missing")
            q["validated"] = "oracle" if status.startswith("ok") and same else "FAIL"
        else:
            q["validated"] = "pinned" if same else "FAIL"
        if q["validated"] == "FAIL":
            bad.append(name)
    with open(REF, "w") as f:
        json.dump(ref, f, indent=1, sort_keys=True)
        f.write("\n")
    n_oracle = sum(q["validated"] == "oracle" for q in ref["queries"].values())
    n_pinned = sum(q["validated"] == "pinned" for q in ref["queries"].values())
    print(f"{n_oracle} oracle-checked, {n_pinned} pinned (no oracle), "
          f"{len(bad)} failed: {bad}")
    return not bad


if __name__ == "__main__":
    if len(sys.argv) != 2 or sys.argv[1] not in ("record", "validate"):
        sys.exit(__doc__)
    build.ensure()
    work = os.path.join(build.OUT, "reference")
    if sys.argv[1] == "record":
        record(work)
    elif not validate(work):
        sys.exit(1)
