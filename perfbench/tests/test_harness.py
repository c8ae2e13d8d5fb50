"""JVM-backed checks of the benchmark's own harness.

Run from the repository root (the first run builds the harness with sbt
and needs the sf0.1 fixtures, see perfbench/run.py):

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import run  # noqa: E402


class HarnessTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.doc = run.load_json(os.path.join(run.HERE, "workloads.json"))
        try:
            cls.fixtures = run.fixtures_dir()
        except SystemExit:
            raise unittest.SkipTest("no sf0.1 fixtures")
        run.build(cls.fixtures, cls.doc)

    def test_planted_wrong_fingerprint_counts_as_failed(self):
        expected = run.load_json(os.path.join(run.BUILD, "expected_query_suite.json"))
        expected["q57_datetime_funcs"] = {"fp": "5000:0000000000000000"}
        path = os.path.join(run.BUILD, "planted_expected.json")
        run.write_json(path, expected)
        keys = ["q57_datetime_funcs", "x69_markup_extract"]
        res = run.run_harness("query_suite", 0, 0, self.fixtures,
                              lambda work: {"keys": keys}, expect=path)
        self.assertEqual(res["attempted"], 2)
        self.assertEqual(res["failed"], 1)
        self.assertTrue(res["failures"][0].startswith("q57_datetime_funcs: check:"),
                        res["failures"])

    def test_planted_wrong_readback_counts_as_failed(self):
        wdoc = dict(self.doc["workloads"]["backup_spine"])
        wdoc["input"] = dict(wdoc["input"], rows=20_000)
        wdoc["readbacks_per_round"] = 6

        planted_at = []

        def planted(work):
            spec = run.backup_spec(wdoc, 3, 1, work)
            rbs = spec["timed"]["readbacks"]
            i = next(i for i, rb in enumerate(rbs) if rb["kind"] == "extract")
            rbs[i]["expect"] = "0:0:0:0:0:0"
            planted_at.append(i)
            return spec

        res = run.run_harness("backup_spine", 3, 0, self.fixtures, planted)
        self.assertEqual(res["attempted"], 9)  # backup, 6 read-backs, fsck, restore
        self.assertEqual(res["failed"], 1, res["failures"])
        self.assertTrue(res["failures"][0].startswith(f"extract{planted_at[0]:03d}: check:"),
                        res["failures"])

    def test_timed_action_keeps_what_count_drops(self):
        work = os.path.join(run.BUILD, "plancheck")
        os.makedirs(work, exist_ok=True)
        out = os.path.join(work, "plancheck.json")
        code = run.java("plancheck", {
            "cpus": run.CPUS, "local_dir": os.path.join(work, "tmp"),
            "fixtures": self.fixtures, "out": out,
            "keys": "x69_markup_extract,q57_datetime_funcs"}, work)
        self.assertEqual(code, 0)
        res = run.load_json(out)
        for key in ("x69_markup_extract", "q57_datetime_funcs"):
            self.assertTrue(res[key]["dropped_by_count"], key)
            self.assertEqual(res[key]["missing_from_timed"], [], key)
        kernels = [c for c in res["x69_markup_extract"]["dropped_by_count"]
                   if c.startswith("graft.functions.")]
        self.assertTrue(kernels, res["x69_markup_extract"])


if __name__ == "__main__":
    unittest.main()
