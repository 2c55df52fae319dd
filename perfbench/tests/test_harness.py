"""End-to-end checks of the JVM harness: oracle coverage, sink versus
count(), failure accounting and the trace self-check. Builds the engine
on first use and takes a few minutes."""
import json
import os
import re
import shutil
import subprocess
import sys
import tempfile
import unittest

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen  # noqa: E402
import run  # noqa: E402

SEED = 7
JOB_SLACK_S = 0.005  # listener event times have millisecond resolution


def bench(workload, seconds=0, trace=0, inject=None, seed=SEED):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload",
           workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace)] + (["--inject", inject] if inject else [])
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                       timeout=900)
    result = json.loads(p.stdout.strip().splitlines()[-1])
    return p, result


def printed_metric(stdout, name):
    m = re.search(rf"^metric {re.escape(name)} = (\S+)", stdout, re.M)
    return float(m.group(1))


class HarnessTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        # one short traced serving run feeds the oracle and trace tests
        cls.traced, cls.traced_result = bench("serve_mix", trace=1)
        with open(os.path.join(run.WORK, "traces",
                               f"serve_mix-seed{SEED}.json")) as fh:
            cls.trace = json.load(fh)

    def assert_clean(self, p, result):
        self.assertEqual(p.returncode, 0, p.stdout[-3000:] + p.stderr[-3000:])
        self.assertTrue(result["correct"])
        self.assertEqual(result["failed"], 0)
        self.assertEqual(printed_metric(p.stdout, "fail_frac"), 0.0)

    def test_every_workload_query_passes_the_oracle(self):
        self.assert_clean(self.traced, self.traced_result)
        for workload in ("dag_daily", "retrieval_serve"):
            p, result = bench(workload)
            self.assert_clean(p, result)
            self.assertIn("0 mismatched", p.stdout)

    @unittest.expectedFailure
    def test_open_defect_w1_half_cent_rounding(self):
        """Open engine defect, seed 1006: w1_top_suppliers_per_nation rounds
        an exact DECIMAL revenue through DOUBLE, and Spark and DuckDB round
        a half-cent tie differently (34539140.17 vs .18). Remove the marker
        once the query and its oracle agree."""
        p, result = bench("analyst_mix", seed=1006)
        self.assert_clean(p, result)

    def test_injected_exception_fails_the_run(self):
        p, result = bench("analyst_mix", inject="fail:a4_daily_value_trend")
        self.assertNotEqual(p.returncode, 0)
        self.assertGreater(result["failed"], 0)
        self.assertFalse(result["correct"])
        self.assertGreater(printed_metric(p.stdout, "fail_frac"), 0.0)
        self.assertRegex(p.stdout, r"FAIL op-\d+ a4_daily_value_trend")

    def test_injected_mismatch_fails_the_run(self):
        p, result = bench("analyst_mix", inject="wrong:a5_daily_share_pct")
        self.assertNotEqual(p.returncode, 0)
        self.assertGreater(result["failed"], 0)
        self.assertGreater(printed_metric(p.stdout, "fail_frac"), 0.0)
        self.assertRegex(p.stdout, r"\[check\] FAIL a5_daily_share_pct")

    def test_sink_reads_more_executor_cpu_than_count(self):
        cp = run.build()
        os.makedirs(run.WORK, exist_ok=True)
        tmp = tempfile.mkdtemp(prefix="test-sink-", dir=run.WORK)
        try:
            inp = gen.generate(os.path.join(tmp, "in"), SEED, 0.001, 1000, 100)
            p = subprocess.run(
                run.java_cmd(cp, ["--sinkcheck", inp, "--out",
                                  os.path.join(tmp, "out")]),
                cwd=tmp, capture_output=True, text=True, timeout=600)
            self.assertEqual(p.returncode, 0, p.stderr[-3000:])
            cpu = json.loads(p.stdout.strip().splitlines()[-1])
        finally:
            shutil.rmtree(tmp)
        for q in ("u3_vader_sentiment", "pipeline_prep_docs"):
            self.assertGreater(cpu[q]["sink_cpu_s"], cpu[q]["count_cpu_s"], q)

    def test_trace_self_times_sum_to_wall_and_jobs_have_one_op(self):
        spans = [s for s in self.trace["spans"] if s["kind"] != "check"]
        ops = {s["id"]: s for s in spans if s["kind"] == "op"}
        self.assertTrue(ops)

        # layer self times add up to the op's wall time
        self_sum = {oid: 0.0 for oid in ops}
        for s in spans:
            self_sum[s["op"]] += s["self_s"]
        for oid, op in ops.items():
            wall = op["end_s"] - op["start_s"]
            self.assertAlmostEqual(self_sum[oid], wall, delta=1e-6, msg=oid)

        # the raw, unclipped spans: call and exec spans tile their op
        # without overlapping, in the order the stages ran
        for oid, op in ops.items():
            parts = sorted((s["start_s"], s["end_s"]) for s in spans
                           if s["op"] == oid and s["kind"] in ("call", "exec"))
            self.assertTrue(parts, oid)
            self.assertGreaterEqual(parts[0][0], op["start_s"], oid)
            self.assertLessEqual(parts[-1][1], op["end_s"], oid)
            for (_, b), (a, _) in zip(parts, parts[1:]):
                self.assertLessEqual(b, a, oid)

        # every job lies inside its op and carries that op's id in its
        # local properties, set by the runner independently of the listener
        jobs = [s for s in spans if s["kind"] == "job"]
        self.assertTrue(jobs)
        for j in jobs:
            op = ops[j["op"]]
            self.assertEqual(j["prop_op"], op["id"], j["name"])
            self.assertGreaterEqual(j["start_s"], op["start_s"] - JOB_SLACK_S)
            self.assertLessEqual(j["end_s"], op["end_s"] + JOB_SLACK_S)
        names = [j["name"] for j in jobs]
        self.assertEqual(len(names), len(set(names)))

    def test_traced_run_publishes_every_per_layer_metric(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            names = [m["name"] for m in json.load(fh)["per_layer"]]
        self.assertEqual(sorted(self.traced_result["metrics"]), sorted(names))
        for name in run.PER_LAYER_UNITS:
            self.assertRegex(self.traced.stdout,
                             rf"layer workload {re.escape(name)} = ")
        self.assertRegex(self.traced.stdout,
                         r"layer \S+ SimilarityOps\.ann_ivfpq_topk\.call_s = ")


if __name__ == "__main__":
    unittest.main()
