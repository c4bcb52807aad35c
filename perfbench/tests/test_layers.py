"""Every engine source file maps to exactly one layer.

    python3 -m unittest discover -s perfbench/tests
"""

import os
import shutil
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import layers  # noqa: E402

ROOT = os.path.dirname(HERE)


def tree(test, paths):
    """A throwaway repo root holding empty files at `paths` under the
    engine's source directory, removed when `test` ends."""
    root = tempfile.mkdtemp()
    test.addCleanup(shutil.rmtree, root)
    for p in paths:
        full = os.path.join(root, layers.ENGINE_SRC, p)
        os.makedirs(os.path.dirname(full), exist_ok=True)
        open(full, "w").close()
    return root


class LayerMap(unittest.TestCase):
    def test_every_engine_file_has_exactly_one_layer(self):
        files = layers.layer_map(ROOT)
        self.assertTrue(files)
        self.assertTrue(set(files.values()) <= set(layers.LAYERS))
        self.assertEqual(files["MergeSink.scala"], "sinks")
        self.assertEqual(files["GraftSession.scala"], "session")
        self.assertEqual(files["Md5Fused.scala"], "operators")

    def test_unclaimed_file_is_refused(self):
        with self.assertRaisesRegex(ValueError, "newmodule/Thing.scala: claimed by 0"):
            layers.layer_map(tree(self, ["sinks/MergeSink.scala", "newmodule/Thing.scala"]))
        with self.assertRaisesRegex(ValueError, "Loose.scala: claimed by 0"):
            layers.layer_map(tree(self, ["Loose.scala"]))

    def test_duplicate_file_name_is_refused(self):
        with self.assertRaisesRegex(ValueError, "used twice"):
            layers.layer_map(tree(self, ["sinks/Same.scala", "operators/Same.scala"]))

    def test_rules_do_not_overlap(self):
        for rule, _ in layers.RULES:
            probe = rule + "X.scala" if rule.endswith("/") else rule
            self.assertEqual(len(layers.rules_for(probe)), 1, rule)


class CallSite(unittest.TestCase):
    FILES = {"MergeSink.scala": "sinks", "BulkUpdateJob.scala": "jobs"}

    def test_innermost_engine_frame_wins(self):
        cs = ("org.apache.spark.sql.DataFrameWriter.parquet(DataFrameWriter.scala:1)\n"
              "graft.sinks.MergeSink$.mergeInto(MergeSink.scala:246)\n"
              "graft.jobs.BulkUpdateJob$.run(BulkUpdateJob.scala:56)")
        self.assertEqual(layers.layer_of_call_site(cs, self.FILES), "sinks")

    def test_no_engine_frame(self):
        cs = ("org.apache.spark.sql.Dataset.count(Dataset.scala:1)\n"
              "perfbench.BulkUpsert$.pass(BulkUpsert.scala:9)")
        self.assertIsNone(layers.layer_of_call_site(cs, self.FILES))

    def test_spark_frame_with_an_engine_file_name_is_skipped(self):
        cs = "org.apache.spark.Other.run(MergeSink.scala:1)"
        self.assertIsNone(layers.layer_of_call_site(cs, self.FILES))


if __name__ == "__main__":
    unittest.main()
