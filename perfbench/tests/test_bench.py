"""Tests of the benchmark's own code (no Spark needed).

    python3 -m unittest discover -s perfbench/tests
"""
import hashlib
import json
import os
import re
import shutil
import sys
import tempfile
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import checks  # noqa: E402
import corpus  # noqa: E402
import fixtures  # noqa: E402
import run  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def digest(d):
    h = hashlib.sha256()
    for f in sorted(os.listdir(d)):
        h.update(f.encode())
        with open(os.path.join(d, f), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


class TempDirCase(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.mkdtemp()

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def path(self, *p):
        return os.path.join(self.tmp, *p)


class GeneratorTest(TempDirCase):
    def test_corpus_is_a_function_of_seed(self):
        for tag, seed in (("a", 3), ("b", 3), ("c", 4)):
            corpus.generate(seed, self.path(tag))
        self.assertEqual(digest(self.path("a")), digest(self.path("b")))
        self.assertNotEqual(digest(self.path("a")), digest(self.path("c")))

    def test_fixtures_are_a_function_of_seed(self):
        for tag, seed in (("a", 3), ("b", 3), ("c", 4)):
            fixtures.generate(seed, self.path(tag), 60, 40)
        self.assertEqual(digest(self.path("a")), digest(self.path("b")))
        self.assertNotEqual(digest(self.path("a")), digest(self.path("c")))

    def test_corpus_has_deep_chains_and_a_mega_group(self):
        m = corpus.generate(1, self.path("c"))
        self.assertGreater(max(m.max_depth.values()), 40)
        biggest = max(list(m.ur.values()).count(u) for u in set(m.ur.values()))
        self.assertGreater(biggest, len(m.ur) / 3)


class NamesTest(unittest.TestCase):
    def test_emitted_names(self):
        names = ([n for n, _ in run.END_TO_END] + [n for n, _ in run.PER_LAYER]
                 + run.WORKLOADS)
        for n in names:
            self.assertRegex(n, NAME)
        self.assertEqual(len(names), len(set(names)))

    def test_benchmark_json_matches_the_runner(self):
        with open(os.path.join(os.path.dirname(os.path.dirname(HERE)),
                               "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual([(m["name"], m["unit"]) for m in spec["end_to_end"]],
                         run.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in spec["per_layer"]],
                         run.PER_LAYER)
        self.assertTrue(set(w["name"] for w in spec["workloads"]) <= set(run.WORKLOADS))


class ConvoyCheckTest(TempDirCase):
    """A convoy output written from the model passes; perturbed, it fails."""

    def write_outputs(self, model, out, ur_delta=0, desc_delta=0):
        ids = sorted(model.ur)
        errors = list(range(model.tweets - len(ids)))
        urs = [model.ur[t] for t in ids]
        urs[0] += ur_delta
        pq.write_table(pa.table({"tweet_id": ids + errors,
                                 "ur_conversation_id": urs + [None] * len(errors)}),
                       self.mk(out, "tweets_i"))
        desc = [model.descendants[t] for t in ids]
        desc[-1] += desc_delta
        pq.write_table(pa.table({"tweet_id": ids, "descendants": desc,
                                 "max_depth": [model.max_depth[t] for t in ids]}),
                       self.mk(out, "tweet_stats_i"))
        for name, n in (("users_a", model.users), ("_quarantine", model.quarantine)):
            pq.write_table(pa.table({"x": list(range(n))}), self.mk(out, name))
        with open(self.mk(out, "conversation_ids", "part-00000.txt"), "w") as f:
            f.write("".join("%d\n" % i for i in range(model.conversation_ids)))

    def mk(self, out, table, part="part-0.parquet"):
        os.makedirs(os.path.join(out, table), exist_ok=True)
        return os.path.join(out, table, part)

    def test_check(self):
        model = corpus.generate(2, self.path("pages"))
        self.write_outputs(model, self.path("good"))
        self.assertEqual(checks.check_convoy(self.path("good"), model), [])
        self.write_outputs(model, self.path("ur"), ur_delta=1)
        self.assertEqual(len(checks.check_convoy(self.path("ur"), model)), 1)
        self.write_outputs(model, self.path("desc"), desc_delta=1)
        self.assertEqual(len(checks.check_convoy(self.path("desc"), model)), 1)


class QueryCheckTest(TempDirCase):
    """A query output equal to its oracle passes; perturbed, it fails."""

    def test_check(self):
        fixtures.generate(1, self.path("fx"), 50, 20)
        sql = "SELECT lang, count(*) AS n FROM documents GROUP BY lang"
        docs = pq.read_table(self.path("fx", "documents.parquet")).to_pydict()
        counts = {}
        for lang in docs["lang"]:
            counts[lang] = counts.get(lang, 0) + 1
        for tag, bump in (("good", 0), ("bad", 1)):
            langs = sorted(counts)
            ns = [counts[k] for k in langs]
            ns[0] += bump
            os.makedirs(self.path("out", tag, "q"))
            pq.write_table(pa.table({"n": pa.array(ns, pa.int64()), "lang": langs}),
                           self.path("out", tag, "q", "part-0.parquet"))
        good = checks.check_queries(self.path("fx"), self.path("out", "good"), {"q": sql})
        bad = checks.check_queries(self.path("fx"), self.path("out", "bad"), {"q": sql})
        self.assertEqual(good, {"q": None})
        self.assertIsNotNone(bad["q"])


if __name__ == "__main__":
    unittest.main()
