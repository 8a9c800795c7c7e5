"""Tests of the benchmark's own code: the structural DDL checker, the
statistics helpers and generator determinism.

Run from the repository root: python3 -m unittest perfbench/test_perfbench.py
"""
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import check  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402

GOLDENS = json.load(open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "goldens.json")))


class StatsTest(unittest.TestCase):
    def test_median(self):
        self.assertEqual(check.median([3, 1, 2]), 2)
        self.assertEqual(check.median([4, 1, 3, 2]), 2.5)
        with self.assertRaises(ValueError):
            check.median([])

    def test_tail_picks_highest_percentile_with_ten_beyond(self):
        xs = list(range(1, 101))             # 100 samples
        self.assertEqual(check.tail(xs), (90, 90))   # p95 has only 5 beyond
        self.assertEqual(check.tail(list(range(1, 1001))), (99, 990))
        self.assertEqual(check.tail(list(range(1, 41))), (75, 30))
        self.assertIsNone(check.tail(list(range(1, 15))))

    def test_geomean(self):
        self.assertAlmostEqual(check.geomean([1, 100]), 10.0)
        self.assertAlmostEqual(check.geomean([2, 2, 2]), 2.0)
        with self.assertRaises(ValueError):
            check.geomean([1, 0])


    def test_coverage_sums_parts_and_walls_per_entry(self):
        recs = [{"name": "a", "build_s": 0.1, "plan_s": 0.2, "exec_s": 0.6, "wall_s": 1.0},
                {"name": "a", "build_s": 0.0, "plan_s": 0.1, "exec_s": 0.9, "wall_s": 1.0},
                {"name": "b", "wall_s": 0.5, "error": "threw"}]
        cov = run.coverage(recs)
        self.assertEqual(list(cov), ["a"])
        self.assertAlmostEqual(cov["a"], 0.95)


    def test_unit_times_count_conversions_as_units(self):
        per_entry = {"q": {"cold_s": 2.0, "warm": [0.5, 0.7, 0.6]}}
        lib = [{"key": "a", "pass": 0, "traced": False, "ms": 300.0},
               {"key": "a", "pass": 1, "traced": False, "ms": 100.0},
               {"key": "a", "pass": 2, "traced": False, "ms": 120.0},
               {"key": "b", "pass": 0, "traced": False, "ms": 50.0},
               {"key": "b", "pass": 1, "traced": False, "ms": 40.0},
               {"key": "b", "pass": 2, "traced": True, "ms": 900.0}]
        cold, warm = run.unit_times(per_entry, lib)
        self.assertEqual(sorted(cold), [0.05, 0.3, 2.0])
        self.assertEqual(sorted(warm), [0.04, 0.11, 0.6])


class DdlCheckTest(unittest.TestCase):
    schema = gen.schema_to_json(gen.MAP_SCHEMA)
    golden = GOLDENS["ddl"]["map_fixture"]

    def test_golden_matches_its_schema(self):
        self.assertIsNone(check.check_ddl(self.golden, self.schema, "foo"))
        self.assertIsNone(check.check_ddl(GOLDENS["ddl"]["readme_fixture"],
                                          gen.schema_to_json(gen.README_SCHEMA), "id"))

    def test_rejects_mutations(self):
        mutations = {
            "renamed column": self.golden.replace("    , b Nullable", "    , x Nullable"),
            "dropped Nullable": self.golden.replace("a Nullable(Int32)", "a Int32"),
            "swapped order": self.golden.replace("    a Nullable(Int32)\n    , b Nullable(String)",
                                                 "    b Nullable(String)\n    , a Nullable(Int32)"),
            "tuple became nested": self.golden.replace("c Tuple(", "c Nested ("),
            "missing child": self.golden.replace("        , b Nullable(String)\n    )\n    , d",
                                                 "    )\n    , d"),
            "unbalanced": self.golden.replace("    )\n) engine", ") engine"),
        }
        for what, text in mutations.items():
            self.assertNotEqual(text, self.golden, what)
            self.assertIsNotNone(check.check_ddl(text, self.schema, "foo"), what)

    def test_extended_primitive_list_is_array(self):
        schema = [{"name": "id", "kind": "scalar", "children": []},
                  {"name": "v", "kind": "list",
                   "children": [{"name": "element", "kind": "scalar", "children": []}]}]
        ddl = ("drop table if exists t;\ncreate table t (\n    id Int64\n"
               "    , v Array(Nullable(Float32))\n) engine = MergeTree() primary key (id);\n")
        self.assertIsNone(check.check_ddl(ddl, schema, "id", "extended"))
        self.assertIsNotNone(check.check_ddl(ddl, schema, "id", "legacy"))


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        runs = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".bench_runs")
        os.makedirs(runs, exist_ok=True)
        with tempfile.TemporaryDirectory(dir=runs) as d:
            for sub in ("a", "b"):
                gen.write_tables(os.path.join(d, sub), 7, 0.001)
            self.assertEqual(gen.digest([os.path.join(d, "a")]), gen.digest([os.path.join(d, "b")]))
            gen.write_tables(os.path.join(d, "c"), 8, 0.001)
            self.assertNotEqual(gen.digest([os.path.join(d, "a")]), gen.digest([os.path.join(d, "c")]))
            # the DDL corpus: fixtures, synthetic schemas, extended files, parts64
            for sub, seed in (("ca", 7), ("cb", 7), ("cc", 8)):
                gen.write_ddl_corpus(os.path.join(d, sub), seed, os.path.join(d, "a"))
            self.assertEqual(gen.digest([os.path.join(d, "ca")]), gen.digest([os.path.join(d, "cb")]))
            self.assertNotEqual(gen.digest([os.path.join(d, "ca")]), gen.digest([os.path.join(d, "cc")]))

    def test_documents_keep_the_reference_shape(self):
        docs = gen.documents(3, 4000).to_pydict()
        texts = docs["text"]
        words = [t.split(" ") for t in texts]
        fresh = [w for w in words if "dup" not in w]
        self.assertTrue(all(10 <= len(w) <= 100 for w in fresh))
        self.assertTrue(set(x for w in fresh for x in w) <= set(gen.VOCAB))
        near = sum(1 for w in words if w[-1] == "dup") / len(texts)
        self.assertAlmostEqual(near, gen.NEAR_DUP_RATE, delta=0.015)
        self.assertEqual(docs["n_chars"], [len(t) for t in texts])
        self.assertAlmostEqual(docs["lang"].count("en") / len(texts), 0.41, delta=0.03)

    def test_synthetic_schema_has_requested_width_and_depth(self):
        def depth(node):
            return 0 if node["kind"] == "scalar" else 1 + max(
                depth(c) for c in node["children"] if node["kind"] != "map" or c["name"] == "value")
        s = gen.schema_to_json(gen.synthetic_schema(1, 64, 4))
        self.assertEqual(len(s), 64)
        self.assertEqual(max(depth(n) for n in s), 4)


if __name__ == "__main__":
    unittest.main()
