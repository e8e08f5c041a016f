"""Self-tests of the benchmark's own logic (no Spark needed):

    python3 -m unittest discover -s perfbench/tests
"""

import copy
import os
import sys
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(
    __file__))))

import datagen  # noqa: E402
import metrics as M  # noqa: E402
import northwind  # noqa: E402


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        a, ea = northwind.generate(7)
        b, eb = northwind.generate(7)
        self.assertEqual(a, b)
        self.assertEqual(ea, eb)
        c, _ = northwind.generate(8)
        self.assertNotEqual(a["sales.csv"], c["sales.csv"])

    def test_planted_dirt_is_in_the_files(self):
        files, exp = northwind.generate(3)
        sales = files["sales.csv"]
        header = sales.splitlines()[0].split(",")
        self.assertEqual(header.count("OrderID"), 2)
        self.assertIn("22vv.98", sales)
        self.assertIn('"8.5,l3"', sales)  # the comma cell is quoted
        self.assertIn("Germani#", files["customers.csv"])
        self.assertEqual(exp["rows"]["sales"], northwind.REF_SALES_ROWS)
        self.assertEqual(len(sales.splitlines()) - 1, exp["rows"]["sales"])
        self.assertGreater(exp["exchange_gaps"], 0)
        self.assertLess(exp["fact_rows"], exp["rows"]["sales"])

    def test_stream_is_seeded_and_flags_follow_arrival(self):
        b1, e1 = datagen.stream(5, 4, 30, 0.2, 0.1)
        b2, e2 = datagen.stream(5, 4, 30, 0.2, 0.1)
        self.assertEqual(b1, b2)
        self.assertEqual(e1, e2)
        # the first batch has nothing earlier to duplicate
        self.assertTrue(all(e1["flags"][d["doc_id"]] == 0 for d in b1[0]))
        self.assertGreater(sum(e1["flags"].values()), 0)
        self.assertEqual(len(e1["flags"]), 120)


class PercentileRuleTest(unittest.TestCase):
    def test_p95_needs_ten_samples_beyond(self):
        self.assertIsNone(M.percentile_with_tail(list(range(199)), 95))
        self.assertEqual(M.percentile_with_tail(list(range(200)), 95), 189)
        self.assertIsNone(M.percentile_with_tail([], 95))


def span(i, parent, name, start, end):
    return {"id": i, "parent": parent, "name": name, "op": 1,
            "start": start, "end": end, "a": {}}


class SelfTimeTest(unittest.TestCase):
    def test_layer_self_time_is_wall_time(self):
        spans = [span(1, 0, "bench.pass", 0, 100),
                 span(2, 1, "bench.op", 0, 100),
                 span(3, 2, "sources.x", 10, 60),
                 span(4, 3, "spark.job", 15, 55),
                 span(5, 4, "spark.stage", 15, 55),
                 # two tasks of one stage, running at the same time
                 span(6, 5, "spark.task", 20, 50),
                 span(7, 5, "spark.task", 25, 45),
                 span(8, 2, "pipeline.run", 70, 90),
                 span(9, 8, "spark.planning", 72, 74)]
        st = M.layer_self_times(spans)
        self.assertEqual(st["spark"], 40 + 2)  # [15, 55] and [72, 74]
        self.assertEqual(st["sources"], 50 - 40)
        self.assertEqual(st["pipeline"], 20 - 2)
        self.assertEqual(st["bench"], 100 - 50 - 20)
        self.assertEqual(sum(st.values()), 100)

    def test_parallel_tasks_never_exceed_the_wall(self):
        spans = [span(1, 0, "bench.pass", 0, 100),
                 span(2, 1, "spark.stage", 0, 100)] + [
                 span(3 + i, 2, "spark.task", 0, 100) for i in range(4)]
        st = M.layer_self_times(spans)
        self.assertEqual(st["spark"], 100)
        self.assertEqual(st["bench"], 0)

    def test_listener_spans_link_to_the_innermost_call(self):
        spans = [span(1, 0, "bench.pass", 0, 100),
                 span(2, 1, "bench.op", 0, 100),
                 span(3, 2, "sources.x", 10, 60),
                 span(4, 0, "spark.job", 9.5, 30),
                 span(5, 0, "spark.planning", 61.5, 62)]
        M.link(spans)
        # a start just before the call is the listener clock's granularity
        self.assertEqual(spans[3]["parent"], 3)
        # after the call ended it belongs to the enclosing op
        self.assertEqual(spans[4]["parent"], 2)
        self.assertEqual([s["id"] for s in M.descendants(spans, 3)], [4])


class OutputCheckTest(unittest.TestCase):
    def observed_from(self, exp):
        return {"audit": copy.deepcopy(exp["audit"]),
                "anomalies": dict(exp["anomalies"]),
                "warehouse_rows": dict(exp["warehouse_rows"])}

    def test_etl_check_accepts_the_planted_result_and_rejects_a_corrupt_one(
            self):
        _, exp = northwind.generate(11)
        obs = self.observed_from(exp)
        for src in obs["audit"].values():
            src.setdefault("duplicate_columns", {})
        self.assertEqual(M.check_etl(obs, exp), [])
        bad = copy.deepcopy(obs)
        bad["warehouse_rows"]["fact_sales"] -= 1
        self.assertTrue(M.check_etl(bad, exp))
        bad = copy.deepcopy(obs)
        bad["audit"]["sales"]["violations"]["Freight"] += 1
        self.assertTrue(M.check_etl(bad, exp))

    def test_fingerprint_check(self):
        pins = {"q": {"rows": 3, "sum": 10, "xor": 5}}
        self.assertEqual(M.check_fingerprint(
            "q", {"rows": 3, "sum": 10, "xor": 5}, pins), [])
        self.assertTrue(M.check_fingerprint(
            "q", {"rows": 3, "sum": 10, "xor": 6}, pins))
        self.assertTrue(M.check_fingerprint("other", {"rows": 1}, pins))

    def test_stream_check_rejects_a_missed_flag(self):
        _, exp = datagen.stream(9, 3, 20, 0.3, 0.1)
        flagged = sorted(int(d) for d, f in exp["flags"].items() if f)
        obs = {"flagged": flagged, "index_rows": {
            "dedup": exp["dedup_index_rows"], "spans": exp["span_index_rows"]}}
        self.assertEqual(M.check_stream(obs, exp), [])
        self.assertTrue(M.check_stream(dict(obs, flagged=flagged[1:]), exp))


if __name__ == "__main__":
    unittest.main()
