"""Tests for the benchmark's own pieces.

Run from the repository root: python3 -m unittest discover -s perfbench/tests
"""
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import pandas as pd  # noqa: E402

from benchlib import digest, stats  # noqa: E402


class TailTest(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        values = [float(i) for i in range(1, 101)]  # 1..100
        value, pct, beyond = stats.tail(values)
        self.assertEqual((value, pct, beyond), (90.0, 90, 10))

    def test_percentile_drops_as_samples_shrink(self):
        value, pct, beyond = stats.tail([float(i) for i in range(1, 31)])
        # p66 leaves 10 of 30 samples above it; p67 would leave 9
        self.assertEqual((pct, beyond), (66, 10))
        self.assertEqual(value, 20.0)

    def test_ties_do_not_count_as_beyond(self):
        values = [1.0] * 15 + [2.0] * 9
        # every percentile from 50 up lands on a value with at most 9 above
        self.assertIsNone(stats.tail(values))

    def test_too_few_samples(self):
        self.assertIsNone(stats.tail([1.0] * 19))

    def test_nearest_rank_percentile(self):
        self.assertEqual(stats.percentile([3.0, 1.0, 2.0, 4.0], 50), 2.0)
        self.assertEqual(stats.percentile([3.0, 1.0, 2.0, 4.0], 51), 3.0)
        self.assertEqual(stats.median([3.0, 1.0, 2.0, 4.0]), 2.5)


class SelfTimeTest(unittest.TestCase):
    def test_overlapping_children_count_once(self):
        spans = [
            {"id": 1, "parent": -1, "start": 0.0, "end": 10.0},
            {"id": 2, "parent": 1, "start": 1.0, "end": 4.0},
            {"id": 3, "parent": 1, "start": 3.0, "end": 6.0},  # overlaps 2
            {"id": 4, "parent": 1, "start": 8.0, "end": 12.0},  # runs past parent
            {"id": 5, "parent": 2, "start": 2.0, "end": 3.0},  # grandchild
        ]
        st = stats.self_times(spans)
        self.assertAlmostEqual(st[1], 10.0 - 5.0 - 2.0)  # [1,6] and [8,10] covered
        self.assertAlmostEqual(st[2], 3.0 - 1.0)
        self.assertAlmostEqual(st[3], 3.0)
        self.assertAlmostEqual(st[4], 4.0)
        self.assertAlmostEqual(st[5], 1.0)

    def test_union_length_clips(self):
        self.assertAlmostEqual(stats.union_length([(0, 2), (1, 3), (5, 6)]), 4.0)
        self.assertAlmostEqual(stats.union_length([(0, 2), (1, 3), (5, 6)], 1, 5.5), 2.5)
        self.assertEqual(stats.union_length([]), 0.0)


class DigestTest(unittest.TestCase):
    def frame(self):
        return pd.DataFrame({
            "b": [1.5, 0.0, float("nan"), -2.25],
            "a": [1, 2, 3, 4],
            "s": ["x", "y", None, "w"],
        })

    def test_order_independent(self):
        df = self.frame()
        shuffled = df.iloc[[2, 0, 3, 1]][["s", "a", "b"]].reset_index(drop=True)
        self.assertEqual(digest.frame_digest(df), digest.frame_digest(shuffled))

    def test_sensitive_to_every_single_cell(self):
        df = self.frame()
        base = digest.frame_digest(df)
        for col in df.columns:
            for i in range(len(df)):
                changed = df.copy()
                v = changed.at[i, col]
                changed.at[i, col] = "z" if col == "s" else (7 if col == "a" else 9.75)
                if changed.at[i, col] == v:
                    continue
                self.assertNotEqual(digest.frame_digest(changed), base, (col, i))

    def test_swapping_cells_between_rows_changes_digest(self):
        a = pd.DataFrame({"k": [1, 2], "v": [10, 20]})
        b = pd.DataFrame({"k": [1, 2], "v": [20, 10]})
        self.assertNotEqual(digest.frame_digest(a), digest.frame_digest(b))

    def test_row_count_and_columns_matter(self):
        df = self.frame()
        self.assertNotEqual(digest.frame_digest(df), digest.frame_digest(pd.concat([df, df])))
        self.assertNotEqual(digest.frame_digest(df),
                            digest.frame_digest(df.rename(columns={"a": "c"})))

    def test_rendering_follows_check_py(self):
        self.assertEqual(digest.norm(-0.0), "0")
        self.assertEqual(digest.norm(float("nan")), "NaN")
        self.assertEqual(digest.norm(9.0), "9.0")
        self.assertEqual(digest.norm(9), "9")
        self.assertEqual(digest.norm(1e-05), "1e-05")


if __name__ == "__main__":
    unittest.main()
