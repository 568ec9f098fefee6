"""Tests of the benchmark's own code: input generators, metric arithmetic,
span self times and the workload key lists.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), os.path.join(os.path.dirname(HERE), "gen")]

import fhir as fhirgen  # noqa: E402
import gate  # noqa: E402
import metrics  # noqa: E402
import star  # noqa: E402
import workloads  # noqa: E402
from run import digest  # noqa: E402


class GeneratorTest(unittest.TestCase):
    def test_fhir_same_seed_same_bytes(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b, \
                tempfile.TemporaryDirectory() as c:
            fhirgen.write(a, 11, 40)
            fhirgen.write(b, 11, 40)
            fhirgen.write(c, 12, 40)
            self.assertEqual(digest(a), digest(b))
            self.assertNotEqual(digest(a), digest(c))

    def test_star_same_seed_same_bytes(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b, \
                tempfile.TemporaryDirectory() as c:
            star.write(a, 5, 0.001)
            star.write(b, 5, 0.001)
            star.write(c, 6, 0.001)
            self.assertEqual(digest(a), digest(b))
            self.assertNotEqual(digest(a), digest(c))

    def test_fhir_shapes(self):
        with tempfile.TemporaryDirectory() as d:
            counts = fhirgen.write(d, 3, 60)
            rows = {}
            for r in counts:
                with open(os.path.join(d, f"{r}.ndjson")) as f:
                    text = f.read()
                rows[r] = [json.loads(line) for line in text.splitlines()]
                self.assertEqual(len(rows[r]), counts[r])
                # canonical form: keys sorted at every level, no spaces
                for line in text.splitlines():
                    json.loads(line, object_pairs_hook=self.assert_sorted)
                    self.assertNotIn('": ', line)
            obs = "\n".join(open(os.path.join(d, "Observation.ndjson")).read().splitlines())
            # decimals keep trailing zeros as bare JSON numbers
            self.assertRegex(obs, r'"value":\d+\.\d*0[,}]')
            ids = {p["id"] for p in rows["Patient"]}
            for o in rows["Observation"]:
                self.assertIn(o["subject"]["reference"].removeprefix("Patient/"), ids)
            self.assertTrue(any("multipleBirthInteger" in p for p in rows["Patient"]))
            self.assertTrue(any("multipleBirthBoolean" in p for p in rows["Patient"]))
            created = [e["created"] for e in rows["ExplanationOfBenefit"]]
            self.assertTrue(any(len(c) == 4 for c in created))
            self.assertTrue(any(c.endswith("+10:00") for c in created))

    def assert_sorted(self, pairs):
        keys = [k for k, _ in pairs]
        self.assertEqual(keys, sorted(keys))
        return dict(pairs)

    def test_dumps_sorted_and_raw_decimals(self):
        doc = {"b": [fhirgen.Dec("36.50"), 2, True], "a": {"d": "x\"y", "c": False}}
        self.assertEqual(fhirgen.dumps(doc), '{"a":{"c":false,"d":"x\\"y"},"b":[36.50,2,true]}')


def sample(key, pass_, wall, ok=True, rows=1):
    return {"key": key, "pass": pass_, "wall_s": wall, "ok": ok, "rows": rows}


class MetricTest(unittest.TestCase):
    def test_median(self):
        self.assertEqual(metrics.median([3.0, 1.0, 2.0]), 2.0)
        self.assertEqual(metrics.median([4.0, 1.0, 2.0, 3.0]), 2.5)

    def test_key_geomean_uses_per_key_medians(self):
        s = [sample("a", 0, 1.0), sample("a", 1, 9.0), sample("a", 2, 1.0),
             sample("b", 0, 4.0), sample("b", 1, 4.0), sample("b", 2, 100.0, ok=False)]
        self.assertEqual(metrics.key_medians(s), {"a": 1.0, "b": 4.0})
        self.assertAlmostEqual(metrics.key_geomean(s), 2.0)

    def test_tail_ratio(self):
        s = [sample("a", i, 1.0) for i in range(9)] + [sample("a", 9, 3.0)]
        self.assertAlmostEqual(metrics.tail_ratio(s), 1.2)

    def test_typical_pass_sums_per_key_medians(self):
        s = [sample("a", 0, 1.0), sample("a", 1, 5.0), sample("a", 2, 2.0),
             sample("b", 0, 3.0), sample("b", 1, 1.0), sample("b", 2, 1.0)]
        # pass totals are 4, 6, 3 (median 4); per-key medians are 2 and 1
        self.assertEqual(metrics.typical_pass_s(s), 3.0)

    def test_events_per_pass(self):
        passes = [{"pass": 0, "start_ms": 0, "end_ms": 1000},
                  {"pass": 1, "start_ms": 2000, "end_ms": 4000},
                  {"pass": 2, "start_ms": 5000, "end_ms": 6000}]
        prog = [{"ts_ms": 10, "input_rows": 100}, {"ts_ms": 900, "input_rows": 50},
                {"ts_ms": 1500, "input_rows": 999},  # between passes: warm-up residue
                {"ts_ms": 2500, "input_rows": 400},
                {"ts_ms": 5500, "input_rows": 160}]
        # per pass: 150, 400, 160 -> median 160
        self.assertEqual(metrics.events_per_pass(prog, passes), 160)

    def test_stored_ratio(self):
        self.assertEqual(metrics.stored_ratio(250, 1000), 0.25)


class SelfTimeTest(unittest.TestCase):
    def test_self_time_subtracts_union_of_children(self):
        s = 1_000_000_000
        spans = [
            {"id": 0, "parent": -1, "name": "pass", "start_ns": 0, "end_ns": 10 * s},
            {"id": 1, "parent": 0, "name": "key", "start_ns": 1 * s, "end_ns": 4 * s},
            {"id": 2, "parent": 0, "name": "key", "start_ns": 3 * s, "end_ns": 6 * s},
            {"id": 3, "parent": 1, "name": "build", "start_ns": 1 * s, "end_ns": 2 * s},
            {"id": 4, "parent": 1, "name": "exec", "start_ns": 2 * s, "end_ns": 4 * s},
        ]
        st = metrics.self_times(spans)
        self.assertAlmostEqual(st[0], 5.0)  # children cover [1, 6]
        self.assertAlmostEqual(st[1], 0.0)
        self.assertAlmostEqual(st[2], 3.0)
        self.assertAlmostEqual(st[4], 2.0)
        by = metrics.self_time_by_name(spans)
        self.assertAlmostEqual(by["key"], 3.0)
        self.assertAlmostEqual(by["pass"], 5.0)


class GateTest(unittest.TestCase):
    def test_fhir_oracle_keeps_boundary_date(self):
        # the opt_annotation_rewrite oracle on a birthDate exactly at its bound
        import duckdb
        sql = ("SELECT id, birthDate FROM read_parquet('/golden/Patient.parquet') "
               "WHERE CAST(birthDate AS TIMESTAMP) >= TIMESTAMP '1990-01-01' ORDER BY id")
        with tempfile.TemporaryDirectory() as d:
            os.makedirs(os.path.join(d, "fhir", "Patient.parquet"))
            os.makedirs(os.path.join(d, "results", "k"))
            con = duckdb.connect()
            con.execute("COPY (SELECT * FROM (VALUES ('a', '1989-12-31'), ('b', '1990-01-01'), "
                        "('c', '1990-01-22')) t(id, birthDate)) TO "
                        f"'{d}/fhir/Patient.parquet/part-0.parquet'")
            con.execute("COPY (SELECT * FROM (VALUES ('b', '1990-01-01'), ('c', '1990-01-22')) "
                        f"t(id, birthDate)) TO '{d}/results/k/part-0.parquet'")
            con.close()
            out = gate.check(os.path.join(d, "results"), {"k": sql}, ["k"],
                             golden_dir="/golden", fhir_dir=os.path.join(d, "fhir"))
        self.assertEqual(out, {"k": None})


class WorkloadTest(unittest.TestCase):
    def test_every_key_maps_to_exactly_one_module(self):
        for w in workloads.WORKLOADS:
            mods = workloads.module_of(w)
            self.assertEqual(len(mods), len(workloads.WORKLOADS[w][1]))
        owner = {}
        for w, (_, mk) in workloads.WORKLOADS.items():
            for m, k in mk:
                self.assertEqual(owner.setdefault(k, m), m, k)

    def test_excluded_keys_not_timed(self):
        timed = {k for _, mk in workloads.WORKLOADS.values() for _, k in mk}
        self.assertFalse(timed & set(workloads.EXCLUDED))


if __name__ == "__main__":
    unittest.main()
