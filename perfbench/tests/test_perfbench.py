"""Self-tests of the benchmark.

    python3 -m unittest discover -s perfbench/tests -v

The unit tests run on small hand-made driver records. The run tests read
the run records under `.bench_build/runs/` that earlier `run.py` runs
left (and skip a workload that has none); with PERFBENCH_E2E=1 they first
make a short traced run of each workload themselves.
"""
import copy
import glob
import json
import os
import re
import subprocess
import sys
import unittest

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import diff  # noqa: E402
import inputs  # noqa: E402
import layers  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def small_vocabulary(size):
    return inputs.vocabulary(np.random.default_rng(size), size)


def span(i, parent, name, query, start, end):
    return [i, parent, name, query, start, end]


def fake_record(kind="warm", query="q1", builds=None, traced=True):
    """One timed pass of one query: construct 1 s with one job (and 0.1 s
    of the collected DataFrame's analysis), write 2 s (0.5 s of it
    Catalyst, one job with two tasks), release 0.1 s."""
    t = 1_000_000.0
    spans = [
        span(0, -1, "setup", "", t - 5000, t - 100),
        span(1, 0, "setup.session", "", t - 5000, t - 4000),
        span(2, 0, "setup.prepass", "", t - 4000, t - 100),
        span(3, 2, "pass", "prepass", t - 4000, t - 100),
        span(4, -1, "pass", "timed", t, t + 3100),
        span(5, 4, "query", query, t, t + 3100),
        span(6, 5, "construct", query, t, t + 1000),
        span(7, 5, "write", query, t + 1000, t + 3000),
        span(8, 5, "release", query, t + 3000, t + 3100),
    ]
    group = "timed-0-%s" % query
    events = {
        "jobs": [
            {"id": 0, "group": group, "start": t + 100, "end": t + 600, "stages": [0]},
            {"id": 1, "group": group, "start": t + 1500, "end": t + 2900, "stages": [1, 2]},
        ],
        "task_fields": ["stage", "launch", "finish", "run_ms", "cpu_ns",
                        "gc_ms", "in_bytes", "sw_bytes", "sw_records",
                        "sr_bytes", "spill_bytes"],
        "tasks": [
            [0, t + 100, t + 600, 500, 4e8, 0, 10**6, 0, 0, 0, 0],
            [1, t + 1500, t + 2000, 500, 4e8, 10, 0, 2 * 10**6, 100, 0, 0],
            [2, t + 2000, t + 2900, 900, 8e8, 0, 0, 0, 0, 2 * 10**6, 0],
        ],
        "actions": [{"func": "collect", "ns": 19e8, "failed": False, "phases": [
            {"name": "analysis", "start": t + 800, "end": t + 900},
            {"name": "optimization", "start": t + 1000, "end": t + 1300},
            {"name": "planning", "start": t + 1300, "end": t + 1500}]}],
    }
    ops = [{"phase": "timed", "pass": 0, "traced": traced, "query": query,
            "span": 5, "wall_s": 3.1, "builds": builds or {}, "ok": True,
            "rows": 3, "hash": "h-" + query, "persists_left": 2}]
    return {"kind": kind, "setup_s": 4.9, "ops": ops, "spans": spans, "events": events if traced else None,
            "vmhwm_kb": 2048 * 1024, "products_root": ""}


class Names(unittest.TestCase):

    def test_metric_names_are_well_formed(self):
        b = declared()
        names = [m["name"] for m in b["end_to_end"] + b["per_layer"]]
        for n in names:
            self.assertRegex(n, NAME)
        self.assertEqual(len(names), len(set(names)))
        for m in b["end_to_end"] + b["per_layer"]:
            self.assertRegex(m["unit"], r"^[A-Za-z0-9_/%.-]{1,16}$")

    def test_declared_metrics_are_the_ones_computed(self):
        b = declared()
        self.assertEqual([w["name"] for w in b["workloads"]], list(run.WORKLOADS))
        e2e = layers.end_to_end(fake_record(), 1.0)
        self.assertEqual(sorted(m["name"] for m in b["end_to_end"]), sorted(e2e))
        per = layers.per_layer_names(run.WORKLOADS.values())
        self.assertEqual([m["name"] for m in b["per_layer"]], per)
        for m in b["end_to_end"] + b["per_layer"]:
            self.assertEqual(m["unit"], layers.unit(m["name"]), m["name"])


class Layers(unittest.TestCase):

    def test_layers_of_one_query(self):
        rec = fake_record()
        lay = layers.op_layers(layers.Trace(rec), rec["ops"][0])
        self.assertEqual(lay["construct.jobs"], 1)
        self.assertEqual(lay["exec.jobs"], 1)
        # The collected DataFrame's analysis ran in construct; it counts
        # as Catalyst, not construction.
        self.assertAlmostEqual(lay["construct.s"], 0.9)
        self.assertAlmostEqual(lay["construct.driver_s"], 0.4)
        self.assertAlmostEqual(lay["catalyst.s"], 0.6)
        self.assertAlmostEqual(lay["exec.s"], 1.5)
        self.assertAlmostEqual(lay["spark.task_s"], 1.9)
        self.assertEqual(lay["spark.stages"], 3)
        # Tasks ran 100-600 and 1500-2900 ms of the 3100 ms query.
        self.assertAlmostEqual(lay["spark.idle_s"], 1.2)
        total = (lay["construct.s"] + lay["catalyst.s"] + lay["exec.s"] +
                 lay["caching.release_s"])
        self.assertAlmostEqual(total, rec["ops"][0]["wall_s"])

    def test_every_declared_metric_for_every_workload(self):
        for w, wl in run.WORKLOADS.items():
            q = wl.get("queries", ["wordcount"])[0]
            rec = fake_record(kind=wl["kind"], query=q)
            untraced = copy.deepcopy(rec)
            untraced["ops"][0]["traced"] = False
            untraced["ops"][0]["pass"] = 1
            rec["ops"] += untraced["ops"]
            exp = {"tokens": 1000, "input_mb": 1.0}
            per = layers.per_layer(rec, exp, 4, 2, 0, 1.5, run.WORKLOADS.values())
            self.assertEqual(sorted(per), sorted(m["name"] for m in declared()["per_layer"]), w)
            e2e = layers.end_to_end(rec, 1.0)
            for m in declared()["end_to_end"]:
                self.assertGreater(e2e[m["name"]], 0, (w, m["name"]))

    def test_union(self):
        self.assertEqual(layers.union_ms([(0, 2), (1, 3), (5, 6)], 0, 10), 4)
        self.assertEqual(layers.union_ms([(0, 2), (1, 3), (5, 6)], 1.5, 5.5), 2)


class Checks(unittest.TestCase):

    def test_corrupted_expected_digest_fails(self):
        rec = fake_record(query="q1")
        good = {"q1": {"hash": "h-q1", "rows": 3}}
        self.assertEqual(layers.check(copy.deepcopy(rec), good)[:2], (1, 0))
        bad = {"q1": {"hash": "h-other", "rows": 3}}
        self.assertEqual(layers.check(copy.deepcopy(rec), bad)[:2], (1, 1))

    def test_query_without_expected_digest_fails(self):
        rec = fake_record(query="q1")
        oracle_failed = {"q1": {"error": "OutOfMemoryException: ..."}}
        self.assertEqual(layers.check(copy.deepcopy(rec), oracle_failed)[:2], (1, 1))
        self.assertEqual(layers.check(rec, {})[:2], (1, 1))

    def test_warm_pass_that_builds_a_product_fails(self):
        rec = fake_record(kind="warm", query="q1", builds={"knngraph-0123": 1.0})
        good = {"q1": {"hash": "h-q1", "rows": 3}}
        self.assertEqual(layers.check(rec, good)[:2], (1, 1))

    def test_corrupted_tally_fails(self):
        d = os.path.join(run.BUILD, "selftest-corpus")
        exp = inputs.make_corpus(d, 7, 20_000, 2, small_vocabulary(500))
        op = {"phase": "timed", "pass": 0, "query": "wordcount", "ok": True,
              "rows": exp["unique"], "topk": exp["topk"], "hash": exp["tsv_sha256"]}
        rec = {"kind": "wordcount", "ops": [op]}
        self.assertEqual(layers.check(copy.deepcopy(rec), exp)[:2], (1, 0))
        for key, bad in (("unique", exp["unique"] + 1), ("tsv_sha256", "0" * 64),
                         ("topk", exp["topk"].replace(",", ".", 1) + " ")):
            wrong = dict(exp, **{key: bad})
            self.assertEqual(layers.check(copy.deepcopy(rec), wrong)[:2], (1, 1), key)

    def test_generator_tally_matches_its_text(self):
        d = os.path.join(run.BUILD, "selftest-corpus2")
        exp = inputs.make_corpus(d, 3, 30_000, 2, small_vocabulary(800))
        counts = {}
        for f in sorted(os.listdir(exp["text_dir"])):
            with open(os.path.join(exp["text_dir"], f)) as fh:
                for w in re.findall(r"\b[a-z]+\b", fh.read().lower()):
                    counts[w] = counts.get(w, 0) + 1
        pairs = sorted(counts.items(), key=lambda p: (-p[1], p[0]))
        self.assertEqual(sum(counts.values()), exp["tokens"])
        self.assertEqual(len(pairs), exp["unique"])
        self.assertEqual(inputs.expected_topk(pairs), exp["topk"])

    def test_relabelling_is_a_bijection(self):
        ids = list(range(100))
        for seed in (0, 1, 2):
            out = inputs.relabel(ids, seed, 1)
            self.assertEqual(sorted(out.tolist()), ids)
        self.assertEqual(inputs.relabel(ids, 0, 1).tolist(), ids)
        self.assertNotEqual(inputs.relabel(ids, 1, 1).tolist(), ids)

    def test_row_digest_encoding(self):
        a = oracle.digest(["b", "a"], [(1, "x"), (2, None)])
        b = oracle.digest(["a", "b"], [(None, 2), ("x", 1)])
        self.assertEqual(a, b)
        self.assertEqual(oracle.value(-0.0), oracle.value(0.0))
        self.assertNotEqual(oracle.value(0.1), oracle.value(0.1 + 1e-17 + 1e-16))

    def test_materialized_ctes_give_the_same_rows(self):
        sql = ("WITH a AS (SELECT range AS x FROM range(5)), "
               "b AS (SELECT x, x * x AS y FROM a) "
               "SELECT b.x, b.y, c.y AS z FROM b JOIN b c ON b.x = c.x + 1")
        mat = oracle.materialized(sql)
        self.assertEqual(mat.count("AS MATERIALIZED ("), 2)
        plain = "SELECT CAST(1 AS BIGINT) AS one FROM (SELECT 2) AS t"
        self.assertEqual(oracle.materialized(plain), plain)
        import duckdb
        con = duckdb.connect()
        self.assertEqual(sorted(con.execute(sql).fetchall()),
                         sorted(con.execute(mat).fetchall()))


class Diff(unittest.TestCase):

    def test_ratios(self):
        base = {("walks_warm", 1): {"construct.s": 10.0, "exec.s": 1.0}}
        new = {("walks_warm", 1): {"construct.s": 5.0, "exec.s": 1.01}}
        rows = diff.rows(base, new)
        self.assertEqual([(r[2], r[5]) for r in rows], [("construct.s", 0.5)])
        self.assertEqual(len(diff.rows(base, new, show_all=True)), 2)


def run_records(workload):
    paths = sorted(glob.glob(os.path.join(run.BUILD, "runs", "%s-seed*-trace1.json" % workload)))
    if not paths and os.environ.get("PERFBENCH_E2E") == "1":
        subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), "--workload",
                        workload, "--seed", "0", "--seconds", "1", "--trace", "1"],
                       cwd=ROOT, check=True, stdout=subprocess.DEVNULL)
        return run_records(workload)
    out = []
    for p in paths:
        with open(p) as fh:
            out.append(json.load(fh))
    return out


class Runs(unittest.TestCase):
    """Properties of real traced runs."""

    def records(self, workload):
        recs = run_records(workload)
        if not recs:
            self.skipTest("no traced %s run under .bench_build/runs" % workload)
        return recs

    def test_layers_sum_to_query_wall(self):
        for w in run.WORKLOADS:
            for r in self.records(w):
                rec = r["record"]
                tr = layers.Trace(rec)
                for op in rec["ops"]:
                    if op["phase"] != "timed" or not op["traced"]:
                        continue
                    lay = layers.op_layers(tr, op)
                    total = (lay["construct.s"] + lay["catalyst.s"] +
                             lay["exec.s"] + lay["caching.release_s"])
                    self.assertAlmostEqual(total, op["wall_s"],
                                           delta=0.01 + 0.01 * op["wall_s"])

    def test_walks_warm_timed_passes_build_nothing(self):
        for r in self.records("walks_warm"):
            self.assertEqual(r["metrics"]["products.builds"], 0)
            for op in r["record"]["ops"]:
                if op["phase"] == "timed":
                    self.assertEqual(op["builds"], {})

    def test_runs_were_correct(self):
        for w in run.WORKLOADS:
            for r in self.records(w):
                self.assertEqual(r["failed"], 0, r["wrong"])


if __name__ == "__main__":
    unittest.main()
