"""Self-tests of the benchmark (no JVM needed).

    python3 -m unittest discover -s perfbench/tests
"""
import copy
import json
import os
import re
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)
import gen  # noqa: E402
import metrics  # noqa: E402
import workloads  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


def _req(i, name, pass_no, lat, ok=True):
    return {"req": f"r{i}", "name": name, "pass": pass_no, "lat_s": lat,
            "ok": ok, "traced": False, "warmup": pass_no == 0}


def _run(fail_index=None, fail_lat=0.001):
    """Three passes of four requests; optionally one request fails fast."""
    reqs = []
    for p in range(3):
        for j, name in enumerate(["etl_job", "a", "b", "c"]):
            i = 4 * p + j
            if i == fail_index:
                reqs.append(_req(i, name, p, fail_lat, ok=False))
            else:
                reqs.append(_req(i, name, p, 0.1 * (j + 1) + 0.01 * p))
    setups = [{"total_s": t} for t in (9.0, 4.0, 4.2)]
    return metrics.end_to_end(reqs, setups, 1500.0, etl_rows=1000)[0]


class MetricDeclarations(unittest.TestCase):

    def test_names(self):
        names = ([n for n, _ in workloads.END_TO_END + workloads.REPORTED]
                 + list(workloads.PER_LAYER))
        for n in names:
            self.assertRegex(n, r"^[A-Za-z0-9_.-]+$")
            self.assertTrue(NAME.fullmatch(n), n)
        self.assertEqual(len(names), len(set(names)))

    def test_per_layer_declares_what_it_moves(self):
        e2e = {n for n, _ in workloads.END_TO_END + workloads.REPORTED}
        for name, (unit, moves, on) in workloads.PER_LAYER.items():
            self.assertTrue(unit, name)
            self.assertTrue(moves, f"{name} declares no end-to-end metric")
            self.assertTrue(set(moves) <= e2e, f"{name}: {moves}")
            self.assertTrue(on, f"{name} declares no workload")
            self.assertTrue(set(on) <= set(workloads.WORKLOADS), f"{name}: {on}")

    def test_benchmark_json_matches_declarations(self):
        with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual([(m["name"], m["unit"]) for m in spec["end_to_end"]],
                         workloads.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in spec["per_layer"]],
                         [(n, u) for n, (u, _, _) in workloads.PER_LAYER.items()])
        self.assertEqual([w["name"] for w in spec["workloads"]],
                         list(workloads.WORKLOADS))


class FailLoud(unittest.TestCase):

    def test_failure_raises_failed_frac_and_lowers_nothing(self):
        base = _run()
        self.assertEqual(base["failed_frac"][0], 0.0)
        for i in range(12):
            bad = _run(fail_index=i)
            self.assertGreater(bad["failed_frac"][0], 0.0)
            for m in ("pass_s", "query_p50_s", "query_p90_s"):
                self.assertGreaterEqual(bad[m][0], base[m][0], (i, m))
            if i >= 4:  # a measured pass: no per-request median hides it
                self.assertEqual(bad["pass_s"][0], metrics.INF, i)
            if "etl_job_s" in bad:
                self.assertGreaterEqual(bad["etl_job_s"][0], base["etl_job_s"][0])
                self.assertLessEqual(bad["etl_rows_per_s"][0],
                                     base["etl_rows_per_s"][0])

    def test_wrong_output_is_a_failure(self):
        ref = {"rows": 2, "hash": "ab", "nf": [1], "fsum": [1.5], "fabs": [1.5]}
        reqs = [{"name": "q", "err": None, "fp": dict(ref, hash="ac")},
                {"name": "q", "err": "boom", "fp": None},
                {"name": "q", "err": None, "fp": ref},
                {"name": "etl_job", "err": None, "fp": {"loaded": 1}}]
        metrics.judge(reqs, {"q": {"fp": ref}}, {"loaded": 2})
        self.assertEqual([r["ok"] for r in reqs], [False, False, True, False])


class Fingerprints(unittest.TestCase):
    ref = {"rows": 3, "hash": "ff", "nf": [3, 0], "fsum": [10.0, 0.0],
           "fabs": [12.0, 0.0]}

    def test_float_tolerance(self):
        near = copy.deepcopy(self.ref)
        near["fsum"][0] += 12.0 * 0.5e-9
        self.assertTrue(metrics.fp_matches(near, self.ref))
        far = copy.deepcopy(self.ref)
        far["fsum"][0] += 12.0 * 5e-9
        self.assertFalse(metrics.fp_matches(far, self.ref))

    def test_exact_part(self):
        for key, value in (("rows", 4), ("hash", "fe"), ("nf", [2, 1])):
            self.assertFalse(metrics.fp_matches(dict(self.ref, **{key: value}),
                                                self.ref))


class SeededInputs(unittest.TestCase):

    def test_same_seed_same_bytes(self):
        for seed in (0, 7, 123456):
            self.assertEqual(gen.optout_csv(seed).encode(),
                             gen.optout_csv(seed).encode())
            self.assertEqual(gen.address_csv(seed).encode(),
                             gen.address_csv(seed).encode())
            for w, spec in workloads.WORKLOADS.items():
                self.assertEqual(gen.orders(seed, w, spec["requests"], 5),
                                 gen.orders(seed, w, spec["requests"], 5))

    def test_seeds_differ(self):
        self.assertNotEqual(gen.optout_csv(1), gen.optout_csv(2))
        self.assertNotEqual(gen.address_csv(1), gen.address_csv(2))
        reqs = workloads.WORKLOADS["session"]["requests"]
        self.assertNotEqual(gen.orders(1, "session", reqs, 3),
                            gen.orders(2, "session", reqs, 3))

    def test_orders_are_permutations(self):
        for w, spec in workloads.WORKLOADS.items():
            for order in gen.orders(3, w, spec["requests"], 4):
                self.assertEqual(sorted(order), sorted(spec["requests"]))

    def test_expected_etl_shape(self):
        exp = gen.expected_etl(gen.optout_csv(5), gen.address_csv(5))
        # the mock geocoder misses about 1 address in 20
        self.assertGreater(exp["loaded"], 0.9 * gen.OPTOUT_ROWS)
        self.assertLess(exp["loaded"], gen.OPTOUT_ROWS)
        self.assertGreater(exp["report_rows"], 0)
        self.assertLess(exp["report_rows"], gen.ADDRESS_ROWS)


if __name__ == "__main__":
    unittest.main()
