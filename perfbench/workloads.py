"""Workloads and metric declarations of the benchmark.

A workload is a fixed set of requests (query names from
`SparkEntry.queries`, plus `etl_job` for the paper's ETL pipeline) and the
memo artifacts its set-up builds. The request *order* of each pass comes
from the seed (`gen.orders`). NOTES.md says why the sets are this small.
"""

ETL_JOB = "etl_job"

# Every run sets up SETUPS times (setup_s is the median), runs the
# workload's "warmup_passes" untimed passes, then at least MIN_PASSES
# measured ones. Passes keep getting faster while the JIT warms up, for
# about 40 s of the JVM's life; the warm-up passes fill what the two
# set-ups leave of that. pass_s takes each request's median over the
# measured passes, so one slow pass of a request does not move it.
SETUPS = 2
MIN_PASSES = 3

WORKLOADS = {
    "spray": {
        "why": "the paper's pipeline: an ETL job that writes, plus erase and "
               "spatial-join queries with heavy builder-eager work",
        "requests": [ETL_JOB, "wnv_erase_concave_sub_rings",
                     "wnv_target_report", "wnv_zones"],
        "artifacts": [],
        "warmup_passes": 2,
    },
    "session": {
        "why": "an interactive session of curation and analytics queries "
               "that read memoized dedup and events artifacts",
        "requests": [
            # curation: dedup, text, curation, multimodal, similarity
            "dedup_minhash_lsh", "dedup_clusters", "text_cooc_lift",
            "curate_gate", "mm_decode_image", "sim_topk_bruteforce",
            # analytics: relational, events (AsOfJoin), streams, sql
            "q1_agg", "events_sessions", "events_asof_join",
            "stream_tumbling_batch", "sql_cte_window", "agg_minmax_by"],
        "artifacts": ["codec", "dedup", "events_session"],
        # the dedup artifacts make set-up twice as long as spray's
        "warmup_passes": 1,
    },
}


# ---- metric declarations ---------------------------------------------
# End-to-end metrics of the untraced run: the result object carries these.
END_TO_END = [("setup_s", "s"), ("pass_s", "s"), ("peak_rss_mb", "MB")]
# Printed with the untraced run but not part of the result object: the
# percentiles of 10-24 samples per run spread too much between runs to gate
# on, failed_frac is 0 on a healthy run, and the etl figures exist on spray
# only.
REPORTED = [("query_p50_s", "s"), ("query_p90_s", "s"),
            ("failed_frac", "ratio"), ("etl_job_s", "s"),
            ("etl_rows_per_s", "1/s")]

MODULES = ["Wnv", "Relational", "Analytics", "Text", "Curation", "Events",
           "Dedup", "Similarity", "Multimodal", "Sql", "Streams"]
ARTIFACT_METRICS = ["dedup", "relational", "similarity", "events_session"]

# Per-layer metrics (traced run): name -> (unit, the end-to-end metrics
# it should move, the workloads it should move them on).
ALL = ["spray", "session"]
_SOURCES = ("setup_s", "query_p90_s")
_EXEC = ("query_p90_s", "pass_s")
_ETL = ("etl_job_s", "etl_rows_per_s", "pass_s")
PER_LAYER = {
    "session.build_s": ("s", ["setup_s"], ALL),
    "sources.warm_s": ("s", ["setup_s"], ["session"]),
    "sources.bucketed_s": ("s", ["setup_s"], ["session"]),
    "sources.input_mb": ("MB", list(_SOURCES), ["session"]),
    "sources.scan_tasks_per_stage": ("count", ["query_p90_s"], ["session"]),
    **{f"artifacts.{a}.build_s": ("s", ["setup_s", "peak_rss_mb"],
                                  ["session"])
       for a in ARTIFACT_METRICS},
    "artifacts.stored_mb": ("MB", ["setup_s", "peak_rss_mb"], ["session"]),
    **{f"ops.{m}.builder_s": ("s", ["query_p50_s", "pass_s"], ["spray"])
       for m in MODULES},
    # on session, builder jobs after set-up mark a memo miss
    **{f"ops.{m}.builder_jobs": ("count", ["query_p50_s", "pass_s"],
                                 ["spray", "session"])
       for m in MODULES},
    "catalyst.analysis_s": ("s", ["query_p50_s"], ["session", "spray"]),
    "catalyst.optimization_s": ("s", ["query_p50_s"], ["session", "spray"]),
    "catalyst.planning_s": ("s", ["query_p50_s"], ["session", "spray"]),
    "catalyst.plan_chars_p90": ("chars", ["query_p50_s"], ["session", "spray"]),
    "catalyst.plans_at_cap": ("count", ["query_p50_s"], ["spray"]),
    **{f"exec.{m}": (u, list(_EXEC), ["session"]) for m, u in [
        ("run_s", "s"), ("jobs", "count"), ("stages", "count"),
        ("stages_skipped_ratio", "ratio"), ("tasks", "count"),
        ("tasks_per_stage_p50", "count"), ("task_skew_p90", "ratio"),
        ("cpu_util", "ratio"), ("shuffle_write_mb", "MB"),
        ("shuffle_read_mb", "MB"), ("spill_mb", "MB"),
        ("peak_exec_mem_mb", "MB"), ("task_failures", "count")]},
    **{f"etl.{m}": (u, list(_ETL), ["spray"]) for m, u in [
        ("job_s", "s"), ("rows_per_s", "1/s"), ("load_s", "s"),
        ("final_analysis_s", "s"), ("report_s", "s"),
        ("bytes_written_mb", "MB"), ("write_amp", "ratio")]},
    # the cost of tracing itself: traced pass_s minus untraced pass_s
    "trace.overhead_s": ("s", ["pass_s"], ALL),
    # request time outside every child span (harness glue), from self times
    "trace.unattributed_s": ("s", ["pass_s"], ALL),
}
