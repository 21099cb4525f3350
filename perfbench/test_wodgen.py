"""Checks of the WOD corpus generator. Run: python3 perfbench/test_wodgen.py"""
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import wodgen  # noqa: E402


class WodGenTest(unittest.TestCase):

    def test_ctd_header_reproduces_the_real_record_prefix(self):
        # Header of the CTD/OBS cast the parser's own spec asserts on:
        # cast 19950762, GB, cruise 13461, 2014-08-05, 5.44 h,
        # 67.3981 N, -6.3056 E, 562 levels, profile type 0. The record
        # is 20438 bytes long.
        head = wodgen.header_fields(19950762, "GB", 13461, 2014, 8, 5,
                                    (544, 2), (673981, 4), (-63056, 4),
                                    562, 0)
        prefix = "C" + wodgen.int_field(20438) + head
        self.assertEqual(
            prefix,
            "C520438819950762GB5134612014 8 5332544664673981564-6305635620")

    def test_byte_count_counts_the_whole_record(self):
        for body_len in (5, 95, 996, 9994, 99993):
            rec = wodgen.with_byte_count("x" * body_len)
            digits = int(rec[1])
            self.assertEqual(int(rec[2:2 + digits]), len(rec))

    def test_lines_are_80_chars(self):
        text = wodgen.to_lines([wodgen.pad80("C" + "1" * 170)])
        self.assertTrue(all(len(l) == 80 for l in text.splitlines()))

    def test_same_seed_same_bytes(self):
        def files(seed):
            with tempfile.TemporaryDirectory() as d:
                wodgen.generate("query_mix", seed, d)
                out = {}
                for base, _, names in os.walk(os.path.join(d, "input")):
                    for n in names:
                        with open(os.path.join(base, n), "rb") as f:
                            out[os.path.relpath(os.path.join(base, n), d)] = f.read()
                return out
        a, b, c = files(7), files(7), files(8)
        self.assertEqual(a, b)
        self.assertNotEqual(a, c)


if __name__ == "__main__":
    unittest.main()
