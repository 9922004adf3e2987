#!/usr/bin/env python3
"""Find blocks of repeated lines in a source file.

Usage:
  sql_dupes.py [-n N] FILE...

For each FILE it prints one line per repeated block, then a summary:

  <copy line>\t<first line>\t<length>     a later copy, where it starts,
                                           where its first copy starts,
                                           and how many lines it spans
  <blocks>\tblocks                          the number of later copies
  <lines>\tcopy lines                       lines in second and later copies

Lines are compared with their surrounding whitespace stripped, and blank
lines are skipped (a block may span them; its length counts only the
non-blank lines). A block is a run of N or more (default 4) such lines
that also occurs, without overlapping it, earlier in the file. Each copy
is grown as long as it keeps matching, so a 20-line block pasted twice
reads as one copy of 20 lines, not as several of N.
"""
import argparse
import sys
from collections import defaultdict
from pathlib import Path


def repeated_blocks(text, n=4):
    """[(copy line, first line, length)] for the later copies in `text`,
    in file order; line numbers are 1-based."""
    numbered = [(i + 1, line.strip())
                for i, line in enumerate(text.splitlines())]
    lines = [(no, s) for no, s in numbered if s]
    keys = [s for _, s in lines]
    seen = defaultdict(list)  # window of n lines -> its earlier starts
    blocks = []
    i = 0
    while i + n <= len(keys):
        window = tuple(keys[i:i + n])
        best, best_len = None, 0
        for j in seen[window]:
            if j + n > i:
                continue  # overlaps this copy
            length = n
            while (i + length < len(keys) and j + length < i
                   and keys[i + length] == keys[j + length]):
                length += 1
            if length > best_len:
                best, best_len = j, length
        seen[window].append(i)
        if best is None:
            i += 1
            continue
        blocks.append((lines[i][0], lines[best][0], best_len))
        # the copy's own windows may still be the first copies of others
        for k in range(i + 1, min(i + best_len, len(keys) - n + 1)):
            seen[tuple(keys[k:k + n])].append(k)
        i += best_len
    return blocks


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("-n", type=int, default=4,
                    help="shortest block, in non-blank lines (default 4)")
    ap.add_argument("files", nargs="+")
    args = ap.parse_args(argv)
    if args.n < 1:
        ap.error("-n must be at least 1")
    for f in args.files:
        text = Path(f).read_text(encoding="utf-8", errors="replace")
        blocks = repeated_blocks(text, args.n)
        if len(args.files) > 1:
            print(f"# {f}")
        for copy, first, length in blocks:
            print(f"{copy}\t{first}\t{length}")
        print(f"{len(blocks)}\tblocks")
        print(f"{sum(b[2] for b in blocks)}\tcopy lines")
    return 0


if __name__ == "__main__":
    sys.exit(main())
