"""Tests of the benchmark's own invariants. From the repository root:

    python3 -m unittest discover -s perfbench -p 'test_*.py'

A traced ml_stream run with two injected rows (one that throws, one whose
output goes wrong after its first run) and an untraced sql_analytics run
supply the result files most checks read (about three minutes on 4 cores);
two more runs check the refusals.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

sys.dont_write_bytecode = True
import build  # noqa: E402
import run as bench  # noqa: E402

RUN = os.path.join(build.HERE, "run.py")
WORK = os.path.join(build.OUT, "tests")
THROW = "perfbench_injected_throw"
STALE = "perfbench_injected_stale"


def run(workload, out, *extra):
    cmd = [sys.executable, RUN, "--workload", workload, "--seed", "7", "--seconds", "1",
           "--out", out, *extra]
    return subprocess.run(cmd, cwd=build.ROOT, capture_output=True, text=True)


def rows_of(result):
    return result["header"]["rows"] + result["header"]["injected"]


class Runs(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        os.makedirs(WORK, exist_ok=True)
        cls.results = {}
        for w, extra in (("ml_stream", ["--trace", "1", "--inject"]),
                         ("sql_analytics", ["--trace", "0"])):
            out = os.path.join(WORK, f"{w}.json")
            p = run(w, out, *extra)
            assert p.returncode == 0, p.stderr[-3000:]
            with open(out) as f:
                cls.results[w] = (json.loads(p.stdout.strip().splitlines()[-1]), json.load(f))
        cls.traced = cls.results["ml_stream"]

    def test_every_row_once_per_pass(self):
        for w, (_, r) in self.results.items():
            passes = {}
            for s in r["samples"]:
                passes.setdefault((s["pass"], s["pass_no"]), []).append(s["row"])
            # cold + 3 untraced, or cold + 2 untraced + 2 traced
            self.assertGreaterEqual(len(passes), 4, w)
            for key, rows in passes.items():
                self.assertEqual(sorted(rows), sorted(rows_of(r)), (w, key))

    def test_injected_failure_counts(self):
        summary, r = self.traced
        passes = {(s["pass"], s["pass_no"]) for s in r["samples"]}
        self.assertFalse(summary["correct"])
        # the throwing row fails in every pass, the stale one in the checked warm pass
        self.assertEqual(summary["failed"], len(passes) + 1)
        self.assertEqual(summary["attempted"], len(r["samples"]))
        self.assertAlmostEqual(r["fail_ratio"], summary["failed"] / summary["attempted"])
        bad = [s for s in r["samples"] if not s["ok"]]
        self.assertTrue(all(s["row"] == THROW or (s["row"] == STALE and s["checked"])
                            for s in bad), bad)
        cold_ok = sum(s["total_s"] for s in r["samples"] if s["pass"] == "cold" and s["ok"])
        self.assertAlmostEqual(r["detail"]["cold_pass_s"], cold_ok, places=9)

    def test_outputs_checked(self):
        summary, r = self.results["sql_analytics"]
        self.assertTrue(summary["correct"])
        self.assertEqual(summary["failed"], 0)
        _, t = self.traced
        self.assertTrue(all(s["ok"] for s in t["samples"] if s["row"] in t["header"]["rows"]))

    def test_outputs_checked_on_cold_and_last_untraced_warm_pass(self):
        for w, (_, r) in self.results.items():
            checked = {}
            for s in r["samples"]:
                checked.setdefault((s["pass"], s["pass_no"], s["traced"]), set()).add(s["checked"])
            self.assertTrue(all(len(v) == 1 for v in checked.values()), (w, checked))
            warm = sorted(k[1] for k in checked if k[0] == "warm" and not k[2])
            want = {k for k in checked if k[0] == "cold"} | {("warm", warm[-1], False)}
            self.assertEqual({k for k, v in checked.items() if v == {True}}, want, w)

    def test_output_wrong_only_when_warm_is_failed(self):
        _, r = self.traced
        stale = [s for s in r["samples"] if s["row"] == STALE]
        cold = [s for s in stale if s["pass"] == "cold"]
        warm_checked = [s for s in stale if s["pass"] == "warm" and s["checked"]]
        self.assertTrue(cold and all(s["ok"] for s in cold), cold)
        self.assertEqual(len(warm_checked), 1)
        self.assertFalse(warm_checked[0]["ok"])
        self.assertIn("output digest", warm_checked[0]["error"])
        warm_ok = [s["total_s"] for s in r["samples"] if s["pass"] == "warm" and s["ok"]
                   and not s["traced"]]
        self.assertEqual(r["detail"]["row_samples"], len(warm_ok))

    def test_task_cpu_within_run_time(self):
        # Run time is whole milliseconds per task, CPU time nanoseconds:
        # allow each task the millisecond lost to truncation.
        _, r = self.traced
        layer = r["per_layer"]
        self.assertLessEqual(layer["exec.task_cpu_s"],
                             layer["exec.task_run_s"] + layer["exec.tasks"] / 1e3)
        for row in r["rows_traced"]:
            e = row["exec"]
            self.assertLessEqual(e["task_cpu_s"], e["task_run_s"] + e["tasks"] / 1e3, row["row"])

    def test_cpus_match_master(self):
        for w, (_, r) in self.results.items():
            h = r["header"]
            self.assertEqual(h["cpus"], h["default_parallelism"])
            self.assertEqual(h["master"], f"local[{h['cpus']}]")
            self.assertEqual(h["shuffle_partitions"], str(h["cpus"]))

    def test_span_self_times(self):
        _, r = self.traced
        traced = [row for row in r["rows_traced"] if row["row"] in r["header"]["rows"]]
        passes = {(row["pass"], row["pass_no"]) for row in traced}
        self.assertEqual(len(traced), len(passes) * len(r["header"]["rows"]))
        for row in traced:
            spans = row["spans"]
            self.assertTrue(all(s["self_ms"] >= 0 for s in spans), row["row"])
            self.assertAlmostEqual(sum(s["self_ms"] for s in spans), row["wall_s"] * 1e3,
                                   delta=1e-6, msg=row["row"])
            self.assertEqual([s["parent"] for s in spans].count(-1), 1)
        names = {s["name"] for row in traced for s in row["spans"]}
        self.assertTrue({"row", "Registry.build", "exec.job", "stream.batch"} <= names, names)
        self.assertTrue(any(n.startswith("catalyst.plan.") for n in names), names)

    def test_metric_names_match_benchmark_json(self):
        with open(os.path.join(build.ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        for (summary, _), kind in ((self.traced, "per_layer"),
                                   (self.results["sql_analytics"], "end_to_end")):
            self.assertEqual(sorted(summary["metrics"]), sorted(m["name"] for m in spec[kind]))
            for m in spec[kind]:
                self.assertEqual(summary["metrics"][m["name"]]["unit"], m["unit"])
        self.assertEqual(sorted(w["name"] for w in spec["workloads"]), sorted(self.results))


class Refusals(unittest.TestCase):
    def test_refuses_when_cpus_differ_from_master(self):
        classes, digest = build.ensure()
        args = bench.harness_args("sql_analytics", 1, 1, "0",
                                  os.path.join(WORK, "refused.json"), digest)
        cmd = bench.java_cmd(classes, "perfbench.Harness", args)
        cmd.insert(1, "-Dspark.default.parallelism=1")
        p = subprocess.run(cmd, cwd=bench.WORK, capture_output=True, text=True, timeout=170)
        self.assertNotEqual(p.returncode, 0)
        self.assertEqual(p.stdout.strip(), "")
        self.assertIn("refusing to run", p.stderr)

    def test_fails_without_program_sources(self):
        with tempfile.TemporaryDirectory(dir=build.OUT) as d:
            shutil.copy(os.path.join(build.ROOT, "BENCHMARK.json"), d)
            shutil.copytree(build.HERE, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("__pycache__"))
            p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "sql_analytics",
                                "--seed", "1", "--seconds", "1", "--trace", "0"],
                               cwd=d, capture_output=True, text=True, timeout=170)
            self.assertNotEqual(p.returncode, 0)
            self.assertEqual(p.stdout.strip(), "")


if __name__ == "__main__":
    unittest.main()
