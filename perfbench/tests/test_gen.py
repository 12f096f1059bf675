"""Generator determinism and ground truth on tiny seeds.

    python3 -m unittest discover perfbench/tests
"""
import os
import sys
import tempfile
import unittest

import pyarrow.compute as pc
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402


class SensorGenTest(unittest.TestCase):
    def test_same_seed_same_file(self):
        a, ta = gen.sensor_day(7, 3, n_sensors=3, step_minutes=10)
        b, tb = gen.sensor_day(7, 3, n_sensors=3, step_minutes=10)
        self.assertTrue(a.equals(b))
        self.assertEqual(ta, tb)
        c, _ = gen.sensor_day(8, 3, n_sensors=3, step_minutes=10)
        self.assertFalse(a.equals(c))

    def test_truth_counts(self):
        table, t = gen.sensor_day(11, 0, n_sensors=4, step_minutes=5)
        self.assertEqual(table.num_rows, t["raw_rows"])
        null_rows = pc.sum(pc.or_(
            pc.or_(pc.is_null(table["sensor_id"]), pc.is_null(table["timestamp"])),
            pc.or_(pc.is_null(table["reading_type"]), pc.is_null(table["value"])))).as_py()
        self.assertEqual(null_rows, t["null_critical"])
        # Rows with every critical column set, minus exact copies. A null
        # battery is filled first: the engine's dedup treats nulls as
        # equal, pyarrow's group_by does not.
        good = table.filter(pc.invert(pc.or_(
            pc.or_(pc.is_null(table["sensor_id"]), pc.is_null(table["timestamp"])),
            pc.or_(pc.is_null(table["reading_type"]), pc.is_null(table["value"])))))
        good = good.set_column(4, "battery_level", pc.fill_null(good["battery_level"], -1.0))
        distinct = good.group_by(
            ["sensor_id", "timestamp", "reading_type", "value", "battery_level"]).aggregate([]).num_rows
        self.assertEqual(distinct, t["stored"])
        self.assertEqual(t["stored"], t["raw_rows"] - t["planted_duplicates"] - t["null_critical"])
        self.assertEqual(sum(t["partitions"].values()), t["stored"])
        self.assertGreater(t["planted_duplicates"], 0)
        self.assertGreater(t["null_critical"], 0)
        self.assertGreater(t["null_battery"], 0)
        self.assertGreater(t["missing_hours"], 0)

    def test_local_dates_straddle_midnight(self):
        _, t = gen.sensor_day(1, 0, n_sensors=2, step_minutes=60)
        self.assertEqual({d for d, _ in t["partitions"]}, {"2024-01-01", "2024-01-02"})

    def test_directory_has_bad_files(self):
        with tempfile.TemporaryDirectory() as d:
            truths = gen.write_sensor_days(d, 1, range(2), n_sensors=2, step_minutes=60)
            names = sorted(os.listdir(d))
            self.assertEqual(names, sorted([gen.BROKEN_FILE, gen.CORRUPT_FILE]
                                           + [t["file"] for t in truths]))
            back = pq.read_table(os.path.join(d, truths[0]["file"]))
            self.assertEqual(back.schema, gen.RAW_SCHEMA)

    def test_partition_counts_add_across_files(self):
        a = {"partitions": {("d1", "s"): 5, ("d2", "s"): 7}}
        b = {"partitions": {("d2", "s"): 3, ("d3", "s"): 1}}
        self.assertEqual(gen.partition_counts([a, b]),
                         {("d1", "s"): 5, ("d2", "s"): 10, ("d3", "s"): 1})


class CorpusGenTest(unittest.TestCase):
    def test_same_seed_same_corpus(self):
        d1, e1, t1 = gen.corpus(5, 60)
        d2, e2, t2 = gen.corpus(5, 60)
        self.assertTrue(d1.equals(d2) and e1.equals(e2))
        self.assertEqual(t1, t2)

    def test_truth_counts(self):
        docs, emb, t = gen.corpus(3, 200)
        self.assertEqual(docs.num_rows, t["n_docs"])
        self.assertEqual(emb.num_rows, t["n_docs"])
        p = t["planted"]
        self.assertEqual((len(p["exact"]), len(p["near"]), len(p["semantic"])), (8, 8, 6))
        self.assertEqual(t["n_after_exact"], t["n_docs"] - 8)
        self.assertEqual(len(t["unplanted"]), 200)
        text = dict(zip(docs["doc_id"].to_pylist(), docs["text"].to_pylist()))
        norm = lambda s: " ".join(s.lower().strip(".,;:!? ").replace(",", "").split())  # noqa: E731
        for dup, src in p["exact"]:
            self.assertGreater(dup, src)
            self.assertNotEqual(text[dup], text[src])
            self.assertEqual(norm(text[dup]).replace(".", "").replace(";", "").replace(":", "")
                             .replace("!", "").replace("?", ""), norm(text[src]))
        for dup, src in p["near"]:
            a, b = text[dup].split(" "), text[src].split(" ")
            self.assertEqual(len(a), len(b))
            self.assertEqual(sum(x != y for x, y in zip(a, b)), 1)

    def test_semantic_duplicates_are_near_identical_vectors(self):
        import numpy as np
        _, emb, t = gen.corpus(9, 100)
        vec = dict(zip(emb["vec_id"].to_pylist(), emb["embedding"].to_pylist()))
        for dup, src in t["planted"]["semantic"]:
            a, b = np.array(vec[dup]), np.array(vec[src])
            self.assertGreater(a @ b / np.linalg.norm(a) / np.linalg.norm(b), 0.999)


if __name__ == "__main__":
    unittest.main()
