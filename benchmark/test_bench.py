"""Tests of the benchmark's own pieces: seeded generators, answer checks
and the metric list. Run: python3 -m unittest discover -s benchmark"""
import filecmp
import json
import os
import tempfile
import unittest

import pandas as pd

import checks
import gen
import report

BENCHMARK_JSON = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..",
                              "BENCHMARK.json")


def _files(root):
    return sorted(os.path.relpath(os.path.join(d, f), root)
                  for d, _, fs in os.walk(root) for f in fs)


class TempDirTest(unittest.TestCase):
    def tmp(self):
        t = tempfile.TemporaryDirectory()
        self.addCleanup(t.cleanup)
        return t.name


class GeneratorTest(TempDirTest):
    def _gen(self, workload, seed):
        d = self.tmp()
        gen.GENERATORS[workload](seed, d)
        return d

    def test_same_seed_gives_identical_bytes_and_another_seed_differs(self):
        for workload in gen.GENERATORS:
            with self.subTest(workload=workload):
                a, b, c = (self._gen(workload, s) for s in (3, 3, 4))
                names = _files(a)
                self.assertTrue(names)
                self.assertEqual(names, _files(b))
                for n in names:
                    self.assertTrue(filecmp.cmp(os.path.join(a, n), os.path.join(b, n),
                                                shallow=False), n)
                self.assertTrue(any(not filecmp.cmp(os.path.join(a, n), os.path.join(c, n),
                                                    shallow=False) for n in names))

    def test_statement_rounds_cover_every_template_once(self):
        for rnd in gen.statements(5, 4):
            self.assertEqual(sorted(s["template"] for s in rnd), sorted(gen.TEMPLATES))

    def test_ingest_tally_is_cumulative(self):
        d = self._gen("ingest", 2)
        with open(f"{d}/tally.json") as f:
            tally = json.load(f)
        batches = 2 * gen.INGEST_COMMITS_PER_ROUND
        self.assertEqual(len(tally), batches)
        self.assertEqual(tally[-1]["rows"], batches * gen.INGEST_BATCH_ROWS)
        self.assertEqual(tally[-1]["rows"], tally[-1]["distinct_ids"])


class PlantedWrongAnswerTest(TempDirTest):
    def test_interactive_twin_mismatch_is_a_failure(self):
        d = self.tmp()
        pd.DataFrame({"k": ["a", "b", "b"], "v": [1.0, 2.0, 0.5]}).to_parquet(f"{d}/events.parquet")
        for t in ("orders", "customer", "lineitem"):
            pd.DataFrame({"x": [1]}).to_parquet(f"{d}/{t}.parquet")
        twin = "SELECT k, sum(v) FROM events GROUP BY k"
        with open(f"{d}/statements.json", "w") as f:
            json.dump([[{"template": "t", "twin": twin}]], f)
        answers = [{"id": 1, "round": 0, "template": "t", "got": [["b", 2.5000000000001], ["a", 1]]},
                   {"id": 2, "round": 0, "template": "t", "got": [["a", 1.0], ["b", 2.6]]},
                   {"id": 3, "round": 0, "template": "t", "got": [["a", 1.0]]}]
        bad, msgs = checks.interactive({"checks": {"answers": answers}}, d)
        self.assertEqual(bad, {2, 3})
        self.assertEqual(len(msgs), 2)

    def test_numeric_group_keys_compare_as_numbers(self):
        self.assertTrue(checks.rows_equal([["5.0", 3.0]], [[5, 3]]))
        self.assertFalse(checks.rows_equal([["5.0", 3.0]], [["x", 3]]))

    def test_curate_checksum_and_oracle_mismatches_are_failures(self):
        d = self.tmp()
        docs = pd.DataFrame({"doc_id": [1, 2, 3], "lang": ["en", "en", "fr"]})
        docs.to_parquet(f"{d}/documents.parquet")
        sql = "SELECT lang, count(*) AS n FROM documents GROUP BY lang"
        pd.DataFrame({"lang": ["en", "fr"], "n": [2, 1]}).to_parquet(f"{d}/good")
        pd.DataFrame({"lang": ["en", "fr"], "n": [2, 2]}).to_parquet(f"{d}/planted")
        ref = {"good": {"h": 7, "n": 2}, "planted": {"h": 9, "n": 2}}
        result = {"checks": {"oracle_sql": {"good": sql, "planted": sql}, "reference": ref},
                  "ops": [{"id": 0, "name": "good", "got": {"h": 7, "n": 2}},
                          {"id": 1, "name": "good", "got": {"h": 8, "n": 2}},
                          {"id": 2, "name": "planted", "got": {"h": 9, "n": 2}}]}
        bad, _ = checks.curate(result, d, d)
        self.assertEqual(bad, {1, 2})

    def test_ingest_store_and_read_mismatches_are_failures(self):
        d = self.tmp()
        gen.ingest(9, d, rounds=1, rows=50)
        os.rename(f"{d}/batches", f"{d}/source")
        with open(f"{d}/tally.json") as f:
            tally = json.load(f)
        with open(f"{d}/reads.json") as f:
            reads = json.load(f)
        events = checks._committed(f"{d}/source", 2)

        def obs(op, t, rows_delta=0):
            return {"after": "commit", "op": op, "batches": 2, "rows": t["rows"] + rows_delta,
                    "distinct_ids": t["distinct_ids"], "sum_cents": t["sum_cents"]}

        good = checks.expected_read(reads[1][0], events)
        planted = [r[:3] + [r[3] + 0.01] + r[4:] for r in good]
        result = {"checks": {"observed": [obs(10, tally[1]), obs(11, tally[1], 1)]},
                  "ops": [{"id": 20, "kind": "query", "name": "recent", "batches": 2,
                           "read": 0, "got": good},
                          {"id": 21, "kind": "query", "name": "recent", "batches": 2,
                           "read": 0, "got": planted}]}
        bad, _ = checks.ingest(result, d, f"{d}/source")
        self.assertEqual(bad, {11, 21})


class MetricListTest(unittest.TestCase):
    def test_benchmark_json_lists_the_reported_metrics(self):
        with open(BENCHMARK_JSON) as f:
            b = json.load(f)
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in b["end_to_end"]],
                         report.E2E)
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in b["per_layer"]],
                         [(n, u, w) for n, u, w, *_ in report.LAYERS])
        self.assertLessEqual({w["name"] for w in b["workloads"]}, set(gen.GENERATORS))


if __name__ == "__main__":
    unittest.main()
