"""Tests of the benchmark's own code.

    python3 -m unittest discover -s graftbench/tests -v

The ground-truth and digest tests build the harness and start a local
Spark JVM (about two minutes); they are skipped when `java` is absent.
"""

import json
import os
import shutil
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import corpus  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402
from xxh64 import spark_xxhash64, xxh64  # noqa: E402

HAVE_JAVA = shutil.which("java") is not None


def _files(d):
    out = {}
    for root, _, names in os.walk(d):
        for n in names:
            with open(os.path.join(root, n), "rb") as f:
                out[os.path.relpath(os.path.join(root, n), d)] = f.read()
    return out


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_inputs(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            _, ops_a = corpus.Session(5, n_binaries=6).ops(a)
            _, ops_b = corpus.Session(5, n_binaries=6).ops(b)
            strip = lambda ops: [{k: v for k, v in o.items() if k != "path"} for o in ops]
            self.assertEqual(strip(ops_a), strip(ops_b))
            self.assertEqual(_files(a), _files(b))

    def test_other_seed_other_inputs(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            corpus.Session(5, n_binaries=6).ops(a)
            corpus.Session(6, n_binaries=6).ops(b)
            self.assertNotEqual(_files(a), _files(b))

    def test_session_composition_is_fixed(self):
        with tempfile.TemporaryDirectory() as d:
            _, ops = corpus.Session(3, n_binaries=8).ops(d)
        kinds = [o["kind"] for o in ops[1:]]
        self.assertEqual(len(kinds), sum(corpus.KINDS.values()) + 1)
        for k, n in corpus.KINDS.items():
            self.assertEqual(kinds.count(k), n)
        self.assertEqual(kinds.count("merge"), 1)


class ModelTest(unittest.TestCase):
    def test_address_forms(self):
        self.assertEqual(corpus.normalize_address("0X00401000"), "0x401000")
        self.assertEqual(corpus.normalize_address("4198400"), "0x401000")
        self.assertEqual(corpus.normalize_address("401a00"), "0x401a00")
        self.assertIsNone(corpus.normalize_address("zz"))

    def test_calls_last_write_wins_and_import_priority(self):
        doc = {
            "binary_info": {"hashes": {"sha256": "h"}, "name": "x.exe", "file_path": "/x",
                            "file_size": 1, "file_type": {"type": "PE32", "architecture": "x86"}},
            "functions": [{"name": "f", "address": "0x10"}, {"name": "g", "address": "32"}],
            "imports": [{"name": "send", "library": "WS2_32.dll", "address": "0x20"}],
            "exports": [{"name": "exp_f", "address": "0x10"}],
            "strings": [{"value": "a b\u0000", "address": "0x1"}],
            "calls": [{"from_address": "0x10", "to_address": "0x20", "offset": "0x11"},
                      {"from_address": "16", "to_address": "0X20", "offset": "0x15",
                       "type": "tail"}],
        }
        g = corpus.build_graph([doc])
        # 0x20 is both g (decimal 32) and the import: the import wins
        self.assertEqual(g.calls, {("h:0x10", "imp:ws2_32.dll:send"): ("0x15", "Tail")})
        self.assertEqual(g.functions["h:0x10"][1:3], ("exp_f", "Export"))
        self.assertEqual(list(g.strings.values()), ["a b"])


class StatsTest(unittest.TestCase):
    def test_samples_beyond(self):
        self.assertEqual(stats.samples_beyond(20, 0.5), 10)
        self.assertEqual(stats.samples_beyond(100, 0.9), 10)
        self.assertEqual(stats.samples_beyond(40, 0.75), 10)

    def test_tail_percentile_needs_ten_beyond(self):
        self.assertEqual(stats.tail_percentile(100), 0.9)
        self.assertEqual(stats.tail_percentile(40), 0.75)
        self.assertEqual(stats.tail_percentile(20), 0.5)
        self.assertIsNone(stats.tail_percentile(19))
        for n in range(1, 300):
            p = stats.tail_percentile(n)
            if p is not None:
                self.assertGreaterEqual(stats.samples_beyond(n, p), 10)

    def test_percentile_and_quartiles(self):
        self.assertEqual(stats.percentile([3, 1, 2], 0.5), 2)
        self.assertEqual(stats.quartiles([1, 2, 3, 4, 5])[1], 3)


class CompareTest(unittest.TestCase):
    def test_rows_equal_ignores_order_not_content(self):
        a = [["u1", "v", 1.2345, 2], ["u2", None, 0.5, 1]]
        self.assertTrue(run._rows_equal(list(reversed(a)), a))
        self.assertTrue(run._rows_equal([["u1", "v", 1.2349, 2], a[1]], a))
        self.assertFalse(run._rows_equal([["u1", "v", 1.3, 2], a[1]], a))
        self.assertFalse(run._rows_equal(a[:1], a))
        self.assertFalse(run._rows_equal([["u1", "v", 1.2345, 3], a[1]], a))


class Xxh64Test(unittest.TestCase):
    def test_reference_vectors(self):
        self.assertEqual(xxh64(b"", 0), 0xEF46DB3751D8E999)
        self.assertEqual(xxh64(b"a", 0), 0xD24EC4F1A98C6E5B)
        self.assertEqual(spark_xxhash64(""), spark_xxhash64(""))


@unittest.skipUnless(HAVE_JAVA, "needs java")
class JvmTest(unittest.TestCase):
    """Runs the harness itself: the importer against the model, and the
    board digest."""

    @classmethod
    def setUpClass(cls):
        cls.classpath = run.build.build()
        os.makedirs(run.WORK, exist_ok=True)
        cls.tmp = tempfile.mkdtemp(prefix="test-", dir=run.WORK)

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(cls.tmp, ignore_errors=True)

    def test_ground_truth_matches_importer_and_engine(self):
        session = corpus.Session(7, n_binaries=4)
        _, ops = session.ops(os.path.join(self.tmp, "input"))
        ops_file = os.path.join(self.tmp, "ops.json")
        with open(ops_file, "w") as f:
            json.dump([{k: v for k, v in o.items() if k != "expect"} for o in ops], f)
        out = os.path.join(self.tmp, "record.json")
        rc = run.run_jvm(self.classpath, [
            "--workload", "analyst", "--ops", ops_file,
            "--store", os.path.join(self.tmp, "store"), "--trace", "1",
            "--cpus", "2", "--out", out], self.tmp, 600)
        self.assertEqual(rc, 0)
        with open(out) as f:
            rec = json.load(f)
        attempted, failures = run.analyst_check(rec, ops)
        self.assertEqual(attempted, len(ops))
        self.assertEqual(failures, [])
        metrics, _ = run.analyst_metrics(rec, trace=True)
        self.assertGreater(metrics["importer.jobs"], 0)
        self.assertGreater(metrics["spark.jobs"], 0)

    def test_digest_is_order_insensitive(self):
        out = os.path.join(self.tmp, "digest.json")
        rc = run.run_jvm(self.classpath, ["--workload", "selftest", "--cpus", "2",
                                          "--out", out], self.tmp, 300)
        self.assertEqual(rc, 0)
        with open(out) as f:
            d = json.load(f)
        self.assertEqual(d["base"], d["shuffled"])
        self.assertEqual(d["base"][0], 4)
        for other in ("value_changed", "row_dropped"):
            self.assertNotEqual(d["base"], d[other])
        self.assertNotEqual(d["null_moved"], d["null_moved_other"])


if __name__ == "__main__":
    unittest.main()
