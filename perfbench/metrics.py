"""From the harness's records to the benchmark's metrics.

Fail-loud accounting: a request that threw or returned a wrong output
counts as failed and its latency is +inf. It therefore misses every
latency limit, sorts above every successful request in the percentiles,
and makes the pass it belongs to infinitely long. A failure can raise a
figure, never lower it; nothing is retried.
"""
import math
import statistics

INF = float("inf")
# a float leaf may differ from the reference by rtol·|v| + atol, the
# tolerance of the repo's DuckDB oracle check (tools/check.py)
RTOL, ATOL = 1e-9, 1e-12
MB = 1024.0 * 1024.0
FAILED_SENTINEL = 1e12


def median(xs):
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def percentile(xs, q):
    """Percentile (0 <= q <= 100) of a non-empty list, interpolated
    linearly between order statistics. Raising any sample never lowers it."""
    s = sorted(xs)
    pos = q / 100.0 * (len(s) - 1)
    lo = int(math.floor(pos))
    hi = min(lo + 1, len(s) - 1)
    frac = pos - lo
    if frac == 0 or s[lo] == s[hi]:
        return s[lo]
    return s[lo] + frac * (s[hi] - s[lo])


def tail_percentile(n, want=90.0, beyond=10):
    """The highest percentile <= `want` with at least `beyond` of the `n`
    samples above it (50 at least)."""
    if n <= 0:
        return want
    return max(50.0, min(want, 100.0 * (1.0 - beyond / n)))


def fp_matches(got, ref):
    """Compare two fingerprints (see harness/Fingerprint.scala): row count
    and exact-leaf hash must be equal, each column's weighted float sum
    must agree within the tolerance its element-wise bound implies."""
    if got is None or ref is None:
        return False
    if (got["rows"], got["hash"], got["nf"]) != (ref["rows"], ref["hash"],
                                                 ref["nf"]):
        return False
    for s, a, rs, ra, n in zip(got["fsum"], got["fabs"], ref["fsum"],
                               ref["fabs"], ref["nf"]):
        if abs(s - rs) > RTOL * max(a, ra) + 2 * ATOL * n:
            return False
    return True


def judge(requests, references, etl_expected):
    """Mark each request ok/failed against its reference fingerprint."""
    for r in requests:
        if r.get("err"):
            r["ok"], r["why"] = False, r["err"]
        elif r["name"] == "etl_job":
            r["ok"] = r["fp"] == etl_expected
            r["why"] = None if r["ok"] else f"etl output {r['fp']} != {etl_expected}"
        elif r["name"] not in references:
            r["ok"], r["why"] = False, "no reference fingerprint"
        else:
            r["ok"] = fp_matches(r["fp"], references[r["name"]]["fp"])
            r["why"] = None if r["ok"] else "fingerprint differs from reference"
    return requests


def latency(r):
    return r["lat_s"] if r["ok"] else INF


def median_pass(requests):
    """The time of a typical pass: the sum over the pass's requests of each
    request's median latency over the given passes. A request that failed
    in any of them counts +inf, so a failure never drops out of the sum."""
    by_name = {}
    for r in requests:
        by_name.setdefault(r["name"], []).append(latency(r))
    return sum(INF if INF in v else median(v) for v in by_name.values())


def end_to_end(requests, setups, peak_rss_mb, etl_rows):
    """End-to-end metrics of an untraced run. Timings cover the measured
    passes; failures count in the warm-up passes too. Values are
    (value, samples) pairs."""
    timed = [r for r in requests if not r["warmup"]]
    passes = {r["pass"] for r in timed}
    lats = [latency(r) for r in timed]
    q = tail_percentile(len(lats))
    etl = [latency(r) for r in timed if r["name"] == "etl_job"]
    failed = sum(1 for r in requests if not r["ok"])
    out = {
        "setup_s": (median(s["total_s"] for s in setups), len(setups)),
        "pass_s": (median_pass(timed), len(passes)),
        "query_p50_s": (percentile(lats, 50), len(lats)),
        "query_p90_s": (percentile(lats, q), len(lats)),
        "peak_rss_mb": (peak_rss_mb, 1),
        "failed_frac": (failed / len(requests) if requests else 1.0,
                        len(requests)),
    }
    if etl:
        job = median(etl)
        out["etl_job_s"] = (job, len(etl))
        out["etl_rows_per_s"] = (etl_rows / job if job > 0 else 0.0, len(etl))
    return out, q


def self_times(spans):
    """Self time of each span: its duration minus its direct children's."""
    child = {}
    for s in spans:
        if s["parent"] >= 0:
            child[s["parent"]] = child.get(s["parent"], 0) + (s["t1_ns"] - s["t0_ns"])
    return {s["id"]: (s["t1_ns"] - s["t0_ns"] - child.get(s["id"], 0)) / 1e9
            for s in spans}


def self_time_by_name(spans):
    """Total self time and count per span name, slowest first."""
    selfs = self_times(spans)
    out = {}
    for s in spans:
        t, n = out.get(s["name"], (0.0, 0))
        out[s["name"]] = (t + selfs[s["id"]], n + 1)
    return dict(sorted(out.items(), key=lambda kv: -kv[1][0]))


def per_layer(records, modules, artifacts, cores, etl_rows, etl_bytes, cap):
    """Per-layer metrics of a traced run (see workloads.PER_LAYER)."""
    setups = records["setup"]
    reqs = records["req"]
    traced = [r for r in reqs if r["traced"]]
    untraced = [r for r in reqs if not r["traced"] and not r["warmup"]]
    tpasses = sorted({r["pass"] for r in traced})
    counts = records["counts"]
    req_of = {r["req"]: r for r in reqs}

    def per_pass(value):
        """Median over traced passes of a per-pass total."""
        return median(sum(value(r) for r in traced if r["pass"] == p)
                      for p in tpasses)

    def cnt_median(phase_pred, field, req_pred=lambda r: True):
        """Median over traced passes of a listener count's per-pass sum."""
        def in_pass(c, p):
            r = req_of.get(c["req"])
            return (r is not None and r["traced"] and r["pass"] == p
                    and req_pred(r) and phase_pred(c["phase"]))
        return median(sum(c[field] for c in counts if in_pass(c, p))
                      for p in tpasses)

    def setup_phase(name):
        return median(s["phases"].get(name, 0.0) for s in setups)

    m = {"session.build_s": setup_phase("session.build"),
         "sources.warm_s": setup_phase("sources.warm"),
         "sources.bucketed_s": setup_phase("sources.bucketed")}
    is_exec = lambda ph: ph == "exec"
    is_query = lambda ph: ph in ("exec", "builder")
    m["sources.input_mb"] = cnt_median(is_query, "input_bytes") / MB
    stages = [s for s in records["stage"] if s["req"] in req_of
              and req_of[s["req"]]["traced"] and s["phase"] == "exec"]
    scans = [s["tasks"] for s in stages if s["input_bytes"] > 0]
    m["sources.scan_tasks_per_stage"] = median(scans)
    for a in artifacts:
        m[f"artifacts.{a}.build_s"] = setup_phase(f"artifacts.{a}")
    m["artifacts.stored_mb"] = (setups[-1]["stored_bytes"] / MB) if setups else 0.0
    for mod in modules:
        m[f"ops.{mod}.builder_s"] = per_pass(
            lambda r, mod=mod: r.get("builder_s", 0.0) if r["module"] == mod else 0.0)
        m[f"ops.{mod}.builder_jobs"] = cnt_median(
            lambda ph: ph == "builder", "jobs",
            lambda r, mod=mod: r["module"] == mod)
    for ph, key in (("analysis", "analysis_s"), ("optimization", "optimization_s"),
                    ("planning", "planning_s")):
        m[f"catalyst.{key}"] = per_pass(
            lambda r, ph=ph: r.get("tracker_ms", {}).get(ph, 0) / 1000.0)
    chars = [r["plan_chars"] for r in traced if "plan_chars" in r]
    m["catalyst.plan_chars_p90"] = percentile(chars, 90) if chars else 0
    # a capped explain string ends a few characters short of the cap
    m["catalyst.plans_at_cap"] = per_pass(
        lambda r: 1 if r.get("plan_chars", 0) >= 0.999 * cap else 0)
    exec_s = per_pass(lambda r: r.get("exec_s", 0.0))
    m["exec.run_s"] = exec_s
    for f in ("jobs", "stages", "tasks", "task_failures"):
        m[f"exec.{f}"] = cnt_median(is_exec, f)
    done = cnt_median(is_exec, "stages")
    skipped = cnt_median(is_exec, "stages_skipped")
    m["exec.stages_skipped_ratio"] = skipped / (done + skipped) if done + skipped else 0.0
    m["exec.tasks_per_stage_p50"] = median(s["tasks"] for s in stages)
    skews = [s["max_ms"] / s["median_ms"] for s in stages
             if s["tasks"] > 1 and s["median_ms"] > 0]
    m["exec.task_skew_p90"] = percentile(skews, 90) if skews else 1.0
    cpu = cnt_median(is_exec, "cpu_ns") / 1e9
    m["exec.cpu_util"] = cpu / (exec_s * cores) if exec_s > 0 else 0.0
    m["exec.shuffle_write_mb"] = cnt_median(is_exec, "shuffle_write") / MB
    m["exec.shuffle_read_mb"] = cnt_median(is_exec, "shuffle_read") / MB
    m["exec.spill_mb"] = cnt_median(is_exec, "spill_disk") / MB
    m["exec.peak_exec_mem_mb"] = max(
        [c["peak_exec_mem"] for c in counts if c["phase"] == "exec"] or [0]) / MB
    etl = [r for r in traced if r["name"] == "etl_job"]
    job = median(latency(r) for r in etl)
    m["etl.job_s"] = job
    m["etl.rows_per_s"] = etl_rows / job if job else 0.0
    m["etl.load_s"] = median(r.get("etl.load_s", 0.0) for r in etl)
    m["etl.final_analysis_s"] = median(r.get("etl.final_analysis_s", 0.0) for r in etl)
    m["etl.report_s"] = median(r.get("etl.report_s", 0.0) + r.get("etl.write_s", 0.0)
                               for r in etl)
    written = median(r.get("bytes_written", 0) for r in etl)
    m["etl.bytes_written_mb"] = written / MB
    m["etl.write_amp"] = written / etl_bytes if etl_bytes else 0.0

    m["trace.overhead_s"] = median_pass(traced) - median_pass(untraced)
    selfs = self_times(records["span"])
    roots = [s for s in records["span"] if s["name"] == "request"]
    m["trace.unattributed_s"] = median(
        sum(selfs[s["id"]] for s in roots if req_of[s["req"]]["pass"] == p)
        for p in tpasses)
    return m
