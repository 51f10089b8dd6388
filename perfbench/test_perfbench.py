"""Tests of the benchmark's own parts: seeded inputs, gold answers against a
DuckDB oracle, and the output checks failing on a corrupted answer.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

They need numpy, pyarrow and duckdb, and no JVM.
"""
import copy
import math
import os
import shutil
import unittest

import duckdb

import checks
import datagen
import questions as qgen

HERE = os.path.dirname(os.path.abspath(__file__))
WORK = os.path.join(os.path.dirname(HERE), ".bench_build", "perfbench", "test")
SF = 0.01


def setUpModule():
    shutil.rmtree(WORK, ignore_errors=True)
    datagen.write(datagen.generate(SF, 11), os.path.join(WORK, "a"))


def tearDownModule():
    shutil.rmtree(WORK, ignore_errors=True)


def data_dir():
    return os.path.join(WORK, "a")


class SeededInputs(unittest.TestCase):
    def test_same_seed_gives_identical_tables(self):
        a, b = datagen.generate(SF, 3), datagen.generate(SF, 3)
        for name in datagen.TABLES:
            self.assertTrue(a[name].equals(b[name]), name)
        self.assertFalse(a["orders"].equals(datagen.generate(SF, 4)["orders"]))

    def test_same_seed_gives_identical_questions(self):
        tables = qgen.load_tables(data_dir())
        a = qgen.generate(tables, 25, 9)
        self.assertEqual(a, qgen.generate(tables, 25, 9))
        self.assertNotEqual(a, qgen.generate(tables, 25, 10))
        self.assertEqual(set(qgen.template_shares(a).values()), {0.2})

    def test_misspelled_mentions_match_no_name(self):
        names = {f"{a} {n}" for a in datagen.ADJECTIVES for n in datagen.NOUNS}
        self.assertFalse({qgen.misspell(n) for n in names} & names)


GOLD_SQL = {
    "order_parts": "SELECT DISTINCT {p} + l_partkey FROM lineitem WHERE l_orderkey = {o}",
    "customer_orders": "SELECT {ob} + o_orderkey FROM orders JOIN customer ON o_custkey = c_custkey "
                       "WHERE c_name = '{c}'",
    "nation_customers": "SELECT {cb} + c_custkey FROM customer JOIN nation ON c_nationkey = n_nationkey "
                        "WHERE n_name = '{n}'",
    "fuzzy_part": "SELECT DISTINCT {ob} + l_orderkey FROM lineitem JOIN part ON l_partkey = p_partkey "
                  "WHERE p_name = '{pn}'",
    "customer_part": "SELECT DISTINCT {ob} + o_orderkey FROM orders "
                     "JOIN customer ON o_custkey = c_custkey "
                     "JOIN lineitem ON l_orderkey = o_orderkey "
                     "JOIN part ON l_partkey = p_partkey WHERE c_name = '{c}' AND p_name = '{pn}'",
}


class GoldAgainstDuckDB(unittest.TestCase):
    def test_gold_sets_match_sql_over_the_same_tables(self):
        con = duckdb.connect()
        for t in datagen.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{os.path.join(data_dir(), t + '.parquet')}'")
        qs = qgen.generate(qgen.load_tables(data_dir()), 40, 5)
        for q in qs:
            names = {m["label"]: m["mention"] for m in q["mentions"]}
            part = q["fallback_name"].get(names.get("Part"), names.get("Part"))
            sql = GOLD_SQL[q["template"]].format(
                p=qgen.PART_BASE, ob=qgen.ORDER_BASE, cb=qgen.CUSTOMER_BASE,
                o=names.get("Order"), c=names.get("Customer"), n=names.get("Nation"), pn=part)
            want = sorted(r[0] for r in con.execute(sql).fetchall())
            self.assertEqual(q["gold"], want, q["question"])
            self.assertTrue(want, q["question"])


def qa_record(qs):
    """A qa_online run record whose every output is right."""
    def answer(q):
        rows = [{"nodeId": g, "rank": i + 1, "patterns": ["No pattern"]}
                for i, g in enumerate(q["gold"][:checks.MAX_NODES])]
        return {"ok": True, "ms": 1.0, "id": q["id"],
                "resolved": [q["fallback_name"].get(m["mention"], m["mention"])
                             for m in q["mentions"]],
                "mentions": len(q["mentions"]), "fallbacks": len(q["fallback"]),
                "candidates": 1, "top": [], "retrieved": rows,
                "answers": [str(r["nodeId"]) for r in rows]}
    return {"workload": "qa_online", "warmup": [answer(q) for q in qs[:1]],
            "requests": [answer(q) for q in qs[1:]]}


def trainset_request(qs):
    gated, retrieved = [], []
    for q in qs:
        gated.append([q["id"], len(q["gold"]), len(q["gold"]), "CONTAINS", "MATCH ..."])
        retrieved += [[q["id"], g, i + 1] for i, g in enumerate(q["gold"][:checks.MAX_NODES])]
    recall, mrr = checks.quality([q["gold"][:checks.MAX_NODES] for q in qs],
                                 [q["gold"] for q in qs])
    return {"ok": True, "ms": 1.0, "name": "trainset_batch", "questions": len(qs),
            "gated": gated, "retrieved": retrieved,
            "macro": {"n_questions": len(qs), "avg_recall": round(recall, 6),
                      "avg_mrr": round(mrr, 6)}}


class ChecksRejectCorruption(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.qs = qgen.generate(qgen.load_tables(data_dir()), 10, 2)

    def test_qa_outputs(self):
        good = qa_record(self.qs)
        self.assertEqual(checks.check_qa(good, self.qs), [])
        corruptions = {
            "wrong anchor": lambda r: r["requests"][0].update(resolved=["nobody"]),
            "fallback name": lambda r: r["warmup"][0].update(resolved=["red rod"]),
            "duplicate node": lambda r: r["requests"][1]["retrieved"].append(
                dict(r["requests"][1]["retrieved"][0], rank=99)),
            "rank order": lambda r: r["requests"][1]["retrieved"].reverse(),
            "failed question": lambda r: r["requests"][2].update(ok=False, error="boom"),
            "over budget": lambda r: r["requests"][3]["retrieved"].extend(
                {"nodeId": -i, "rank": 100 + i, "patterns": []} for i in range(25)),
        }
        for what, corrupt in corruptions.items():
            bad = copy.deepcopy(good)
            corrupt(bad)
            self.assertNotEqual(checks.check_qa(bad, self.qs), [], what)

    def test_trainset_outputs(self):
        qs = [q for q in self.qs if q["template"] != "fuzzy_part"]
        good = trainset_request(qs)
        self.assertEqual(checks.check_trainset(good, qs), [])
        op = next(q["id"] for q in qs if q["template"] == "order_parts")
        corruptions = {
            "gate hits": lambda r: next(g for g in r["gated"] if g[0] == op).__setitem__(1, 0),
            "missing row": lambda r: r["retrieved"].remove(
                next(x for x in r["retrieved"] if x[0] == op)),
            "macro recall": lambda r: r["macro"].update(avg_recall=0.5),
        }
        for what, corrupt in corruptions.items():
            bad = copy.deepcopy(good)
            corrupt(bad)
            self.assertNotEqual(checks.check_trainset(bad, qs), [], what)

    def test_failed_calls_fail_the_run(self):
        qs = [q for q in self.qs if q["template"] != "fuzzy_part"]
        record = {"workload": "offline_batch", "trainset": trainset_request(qs),
                  "requests": [{"ok": False, "name": "graph_fwbw", "error": "boom"}]}
        self.assertEqual(checks.check(record, qs, data_dir()), ["graph_fwbw failed: boom"])
        record["trainset"] = {"ok": False, "name": "trainset_batch", "error": "boom"}
        self.assertEqual(len(checks.check(record, qs, data_dir())), 2)

    def test_graph_digest_against_duckdb(self):
        sql = "SELECT n_regionkey AS r, count(*) AS n FROM nation GROUP BY n_regionkey"
        rows = [[r, 5] for r in range(5)]
        entry = {"name": "e", "columns": ["n", "r"], "rows": [[n, r] for r, n in rows],
                 "oracle_sql": sql}
        self.assertEqual(checks.check_graph(entry, data_dir()), [])
        entry["rows"][3] = [6, 3]
        self.assertNotEqual(checks.check_graph(entry, data_dir()), [])


class Metrics(unittest.TestCase):
    def test_tail_percentile(self):
        self.assertEqual(checks.tail([3.0, 1.0, 2.0]), (3.0, 100))
        xs = list(range(1, 41))
        self.assertEqual(checks.tail(xs), (30, 75))  # 10 samples above p75

    def test_quality(self):
        self.assertEqual(checks.quality([[5, 1, 2]], [[1, 2, 3, 4]]), (0.5, 0.5))

    def test_failed_question_gives_no_nan(self):
        qs = qgen.generate(qgen.load_tables(data_dir()), 6, 2)
        record = qa_record(qs)
        record.update(session_ms=1.0, load_ms=1.0, load_cached_bytes=1)
        for r in record["requests"]:
            r.update(ok=False, error="boom")
        e2e = checks.end_to_end(record, qs)
        self.assertFalse(any(math.isnan(v) for v in e2e.values()), e2e)
        self.assertEqual(e2e["request_p50_ms"], 0.0)

    def test_per_layer_names_fit(self):
        names = checks.per_layer_names()
        self.assertEqual(len(names), len(set(names)))
        self.assertLessEqual(len(names), 128)


if __name__ == "__main__":
    unittest.main()
