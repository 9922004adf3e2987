"""Tests of the code-line rule: python3 -m unittest discover tools"""
import contextlib
import io
import sys
import tempfile
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from code_lines import code_lines, main  # noqa: E402

SOURCE = """package a

/** Doc comment
  * continues here
  */
object A {
  // a line comment
  val x = 1 // trailing comments keep a code line
  /* block */
\t
  def f: Int = x * 2
}
"""


class Rule(unittest.TestCase):
    def test_skips_blank_and_comment_lines(self):
        # package, object, val, def, closing brace
        self.assertEqual(code_lines(SOURCE), 5)

    def test_counts_a_last_line_without_newline(self):
        self.assertEqual(code_lines("val a = 1\nval b = 2"), 2)
        self.assertEqual(code_lines(""), 0)


class Diff(unittest.TestCase):
    def test_prints_per_file_difference_and_totals(self):
        with tempfile.TemporaryDirectory() as old, \
                tempfile.TemporaryDirectory() as new:
            for root, files in ((old, {"A.scala": SOURCE,
                                       "Gone.scala": "object G\n"}),
                                (new, {"A.scala": SOURCE + "object B\n",
                                       "New.scala": "object N\nval y = 1\n"})):
                src = Path(root, "src/main/scala")
                src.mkdir(parents=True)
                for name, text in files.items():
                    (src / name).write_text(text)
            out = io.StringIO()
            with contextlib.redirect_stdout(out):
                main(["--diff", old, new])
        self.assertEqual(out.getvalue().splitlines(), [
            "5\t6\t+1\tsrc/main/scala/A.scala",
            "1\t0\t-1\tsrc/main/scala/Gone.scala",
            "0\t2\t+2\tsrc/main/scala/New.scala",
            "6\t8\t+2\ttotal",
        ])


if __name__ == "__main__":
    unittest.main()
