"""Tests of the repeated-block finder: python3 -m unittest discover tools"""
import contextlib
import io
import sys
import tempfile
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from sql_dupes import main, repeated_blocks  # noqa: E402

BLOCK = ["a AS (SELECT 1),", "b AS (SELECT 2),", "c AS (SELECT 3),",
         "d AS (SELECT 4),", "e AS (SELECT 5)"]


def lines(*parts):
    return "\n".join(parts) + "\n"


class Blocks(unittest.TestCase):
    def test_a_pasted_block_is_one_copy_of_its_full_length(self):
        text = lines("x = 1", *BLOCK, "y = 2", *BLOCK)
        self.assertEqual(repeated_blocks(text), [(8, 2, 5)])

    def test_runs_shorter_than_n_do_not_count(self):
        text = lines(*BLOCK[:3], "y = 2", *BLOCK[:3])
        self.assertEqual(repeated_blocks(text), [])
        self.assertEqual(repeated_blocks(text, n=3), [(5, 1, 3)])

    def test_lines_compare_without_surrounding_whitespace(self):
        indented = ["      |" + s for s in BLOCK]
        margin = ["  |" + s + "  " for s in BLOCK]
        text = lines(*indented, "y = 2", *margin)
        self.assertEqual(repeated_blocks(text), [(7, 1, 5)])

    def test_blank_lines_are_skipped_and_not_counted(self):
        spaced = BLOCK[:2] + ["", "   "] + BLOCK[2:]
        text = lines(*BLOCK, "y = 2", *spaced)
        self.assertEqual(repeated_blocks(text), [(7, 1, 5)])

    def test_a_copy_does_not_overlap_its_first_copy(self):
        # eight equal lines: the first four, then one copy of four
        text = lines(*["x"] * 8)
        self.assertEqual(repeated_blocks(text), [(5, 1, 4)])

    def test_every_later_copy_counts(self):
        text = lines(*BLOCK, "y", *BLOCK, "z", *BLOCK)
        self.assertEqual(repeated_blocks(text), [(7, 1, 5), (13, 1, 5)])


class Main(unittest.TestCase):
    def test_prints_each_copy_then_the_totals(self):
        with tempfile.TemporaryDirectory() as d:
            f = Path(d, "A.scala")
            f.write_text(lines("x = 1", *BLOCK, "y = 2", *BLOCK))
            out = io.StringIO()
            with contextlib.redirect_stdout(out):
                main([str(f)])
        self.assertEqual(out.getvalue().splitlines(),
                         ["8\t2\t5", "1\tblocks", "5\tcopy lines"])


if __name__ == "__main__":
    unittest.main()
