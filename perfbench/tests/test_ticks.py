"""Tests of the seeded tick generator.

    python3 -m unittest discover -s perfbench/tests
"""
import io
import os
import sys
import unittest
import zipfile

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import ticks  # noqa: E402


def csv_lines(archive):
    with zipfile.ZipFile(io.BytesIO(archive.data)) as z:
        (name,) = z.namelist()
        return z.read(name).decode().splitlines()


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        self.raw, self.std = ticks.month_archives(5, "EURUSD", 2024, 1, 3000, 3000)

    def test_same_seed_gives_identical_bytes(self):
        raw, std = ticks.month_archives(5, "EURUSD", 2024, 1, 3000, 3000)
        self.assertEqual(raw.data, self.raw.data)
        self.assertEqual(std.data, self.std.data)

    def test_other_seed_gives_other_bytes(self):
        raw, _ = ticks.month_archives(6, "EURUSD", 2024, 1, 3000, 3000)
        self.assertNotEqual(raw.data, self.raw.data)

    def test_archive_names_follow_the_exness_layout(self):
        self.assertEqual(self.raw.name, "Exness_EURUSD_Raw_Spread_2024_01.zip")
        self.assertEqual(self.std.name, "Exness_EURUSD_2024_01.zip")
        with zipfile.ZipFile(io.BytesIO(self.raw.data)) as z:
            self.assertEqual(z.namelist(), ["Exness_EURUSD_Raw_Spread_2024_01.csv"])

    def test_properties_of_the_rows(self):
        lines = csv_lines(self.raw)
        self.assertEqual(lines[0], "Timestamp,Bid,Ask")
        data = lines[1:]
        good = [l for l in data if len(l.split(",")) == 3 and "N/A" not in l
                and "not-a-price" not in l]
        self.assertEqual(len(data) - len(good), self.raw.bad)
        stamps = [l.split(",")[0] for l in good]
        dups = len(stamps) - len(set(stamps))
        self.assertEqual(len(set(stamps)), len(self.raw.ticks))
        self.assertTrue(0.002 < dups / len(stamps) < 0.03, dups)
        zero = sum(1 for b, a in self.raw.ticks.values() if b == a)
        self.assertTrue(0.95 < zero / len(self.raw.ticks) < 1.0)
        self.assertTrue(all(b < a for b, a in self.std.ticks.values()))

    def test_edges_of_the_month(self):
        lo, hi = ticks.month_bounds_us(2024, 1)
        self.assertIn(lo, self.raw.ticks)  # Jan 1, the holiday, 00:00:00.000000
        self.assertIn(hi, self.raw.ticks)
        self.assertFalse(any(ticks.is_saturday(t) for t in self.raw.ticks))

    def test_a_minute_with_raw_but_no_standard_tick(self):
        lo, _ = ticks.month_bounds_us(2024, 1)
        quiet = lo + (ticks.QUIET_DAY - 1) * ticks.US_PER_DAY + ticks.QUIET_HOUR * 3_600_000_000
        minute = range(quiet, quiet + 60_000_000)
        self.assertTrue(any(t in minute for t in self.raw.ticks))
        self.assertFalse(any(t in minute for t in self.std.ticks))

    def test_timestamp_format(self):
        self.assertEqual(ticks.fmt_ts(0), "1970-01-01 00:00:00.000000")
        lo, _ = ticks.month_bounds_us(2024, 2)
        self.assertEqual(ticks.fmt_ts(lo + 3_723_000_042), "2024-02-01 01:02:03.000042")
        self.assertEqual(ticks.fmt_px(110234), "1.10234")

    def test_bars_and_resampling(self):
        bars = ticks.ohlc_1m({0: (5, 5), 10: (7, 8), 59_999_999: (4, 4), 60_000_000: (6, 6)})
        self.assertEqual(bars[0], (5, 7, 4, 4, 3, 1))
        self.assertEqual(bars[60_000_000], (6, 6, 6, 6, 1, 0))
        five = ticks.resample(bars, 5)
        self.assertEqual(five, {0: (5, 7, 4, 6, 4)})


if __name__ == "__main__":
    unittest.main()
