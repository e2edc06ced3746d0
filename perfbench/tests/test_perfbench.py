"""Self-tests of the benchmark; no Spark needed.

    python3 -m unittest discover -s perfbench/tests
"""

import json
import os
import re
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)
import compare  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
# Per-layer metrics run.py derives itself; the harness emits the rest.
FROM_PYTHON = {"engine.sink.files", "engine.qa.agreement",
               "engine.dictionary.kept_ratio", "engine.assemble.match_rate"}


def tree(root):
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


def correct_output(workload, exp):
    """What the program answers for a unit when it is right."""
    out = {"unit": "u", "seconds": 1.0, "rows": exp["rows"],
           "columns": list(exp["columns"])}
    if workload == "clean_states":
        out.update(fr_lunch=float(exp["fr_lunch"]),
                   fr_breakfast=float(exp["fr_breakfast"]),
                   qa_produced=exp["rows"], qa_expected=exp["rows"],
                   qa_common=exp["rows"], qa_ratio=1.0, sink_files=1)
    return out


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        for workload in gen.WORKLOADS:
            with tempfile.TemporaryDirectory() as d:
                a, b, c = (os.path.join(d, x) for x in "abc")
                gen.generate(workload, 7, a)
                gen.generate(workload, 7, b)
                gen.generate(workload, 8, c)
                self.assertEqual(tree(a), tree(b), workload)
                ta, tc = tree(a), tree(c)
                self.assertNotEqual(ta["expected.json"], tc["expected.json"])
                self.assertTrue(any(ta[k] != tc.get(k) for k in ta
                                    if k.endswith("NSLP.txt")), workload)

    def test_expectations_cover_the_planted_cases(self):
        with tempfile.TemporaryDirectory() as d:
            exp = gen.generate("clean_states", 3, d)
            self.assertEqual(len(exp), gen.STATES + gen.WARM_UNITS)
            sizes = sorted(e["lunch_rows"] for e in exp.values())
            self.assertGreater(sizes[-1], 5 * sizes[0])  # skewed states
            for e in exp.values():
                self.assertLess(e["rows"], e["lunch_rows"])  # unmatched, dups
                self.assertGreater(e["dropped"], 0)
                self.assertGreater(e["renamed"], 0)
            nslp = open(os.path.join(d, "inputs", "S00", "NSLP.txt")).read()
            self.assertIn("\t\t", nslp)  # null Free/Reduced splits


class CheckTest(unittest.TestCase):
    def test_corrupted_output_fails_each_workload(self):
        for workload in gen.WORKLOADS:
            with tempfile.TemporaryDirectory() as d:
                exp = next(iter(gen.generate(workload, 5, d).values()))
            good = correct_output(workload, exp)
            self.assertEqual(run.check_unit(workload, exp, good), [])
            corruptions = [("rows", exp["rows"] + 1),
                           ("columns", good["columns"][::-1]),
                           ("columns", good["columns"][:-1]),
                           ("error", "java.lang.RuntimeException: boom")]
            if workload == "clean_states":
                corruptions += [("fr_lunch", exp["fr_lunch"] + 1.0),
                                ("fr_breakfast", exp["fr_breakfast"] - 1.0),
                                ("qa_common", exp["rows"] - 1),
                                ("qa_ratio", 0.99)]
            for key, value in corruptions:
                bad = dict(good, **{key: value})
                self.assertNotEqual(run.check_unit(workload, exp, bad), [],
                                    f"{workload}: corrupted {key} passed")


class MetricNamesTest(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
            self.spec = json.load(f)

    def test_names_match_benchmark_json(self):
        for key, emitted in (("end_to_end", run.END_TO_END),
                             ("per_layer", run.PER_LAYER)):
            declared = {m["name"]: m["unit"] for m in self.spec[key]}
            self.assertEqual(declared, emitted, key)
            for name in declared:
                self.assertRegex(name, NAME)

    def test_harness_emits_every_layer_metric(self):
        src = ""
        for d, _, files in os.walk(os.path.join(BENCH, "src")):
            for f in files:
                src += open(os.path.join(d, f)).read()
        for name in set(run.PER_LAYER) - FROM_PYTHON:
            self.assertIn(f'"{name}"', src)

    def test_metrics_have_exactly_the_declared_names(self):
        with tempfile.TemporaryDirectory() as d:
            exp = gen.generate("wide_dictionary", 1, d)
        units = [dict(correct_output("wide_dictionary", e), unit=u)
                 for u, e in exp.items()]
        # A traced run makes three passes; the middle one is traced.
        result = {"passes": [{"seconds": 9.0, "units": units}] * 3,
                  "peak_rss_mb": 900.0,
                  "layers": {k: 1.0 for k in set(run.PER_LAYER) - FROM_PYTHON}}
        for trace, names in ((0, run.END_TO_END), (1, run.PER_LAYER)):
            got = run.metrics("wide_dictionary", exp, result, 12.0, trace)
            self.assertEqual(set(got), set(names))
            for m in got.values():
                self.assertIsInstance(m["value"], float)


class RecordTest(unittest.TestCase):
    def record(self, cpus=4, wall=10.0):
        return {"workload": "clean_states", "trace": 0, "cpus": cpus,
                "metrics": {"wall_s": {"value": wall, "unit": "s"},
                            "rows_per_s": {"value": 100.0 / wall,
                                           "unit": "1/s"}}}

    def test_compact_and_spaced_json_parse_the_same(self):
        rec = self.record()
        with tempfile.TemporaryDirectory() as d:
            paths = []
            for i, kw in enumerate(({"separators": (",", ":")},
                                    {"indent": 2}, {"indent": "\t"})):
                p = os.path.join(d, f"{i}.json")
                with open(p, "w") as f:
                    json.dump(rec, f, **kw)
                paths.append(p)
            self.assertTrue(all(compare.load(p) == rec for p in paths))

    def test_compare_flags_worse_and_refuses_other_core_counts(self):
        spec = {"end_to_end": [
            {"name": "wall_s", "better": "lower", "bound": 0.1},
            {"name": "rows_per_s", "better": "higher", "bound": 0.1}]}
        lines = compare.compare([self.record()], [self.record(wall=12.0)], spec)
        self.assertTrue(all(line.endswith("WORSE") for line in lines))
        lines = compare.compare([self.record()], [self.record(wall=10.5)], spec)
        self.assertTrue(all(line.endswith("ok") for line in lines))
        with self.assertRaises(ValueError):
            compare.compare([self.record()], [self.record(cpus=32)], spec)


if __name__ == "__main__":
    unittest.main()
