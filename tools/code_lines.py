#!/usr/bin/env python3
"""Count code lines in Scala sources, or their change between two checkouts.

Usage:
  code_lines.py PATH...                          per-file counts and the total
  code_lines.py --diff PARENT_DIR CHANGE_DIR [PATH...]
      per-file difference over the PATHs (relative to both checkouts,
      default src/main/scala), then both totals and their difference

A code line is one that `grep -cvE '^\\s*($|//|\\*|/\\*)'` counts: not
blank, and not starting (after blanks) with `//`, `*` or `/*`. A PATH that
is a directory stands for every `*.scala` file below it.
"""
import argparse
import re
import sys
from pathlib import Path

NOT_CODE = re.compile(r"^[ \t\r\f\v]*($|//|\*|/\*)")


def code_lines(text):
    """Code lines in `text`, counted as grep counts lines: split at '\\n',
    a final newline ending the last line rather than starting one."""
    lines = text.split("\n")
    if lines[-1] == "":
        lines.pop()
    return sum(1 for line in lines if not NOT_CODE.match(line))


def counts(root, paths):
    """{path relative to root: code lines} for the Scala files in paths."""
    out = {}
    for p in paths:
        top = Path(root) / p
        files = [top] if top.is_file() else sorted(top.rglob("*.scala"))
        for f in files:
            text = f.read_text(encoding="utf-8", errors="replace")
            out[str(f.relative_to(root))] = code_lines(text)
    return out


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--diff", nargs=2, metavar=("PARENT_DIR", "CHANGE_DIR"))
    ap.add_argument("paths", nargs="*")
    args = ap.parse_args(argv)
    if not args.diff:
        if not args.paths:
            ap.error("give at least one PATH")
        found = counts(".", args.paths)
        for name, n in sorted(found.items()):
            print(f"{n}\t{name}")
        print(f"{sum(found.values())}\ttotal")
        return 0
    paths = args.paths or ["src/main/scala"]
    old, new = (counts(d, paths) for d in args.diff)
    for name in sorted(old.keys() | new.keys()):
        a, b = old.get(name, 0), new.get(name, 0)
        if a != b:
            print(f"{a}\t{b}\t{b - a:+d}\t{name}")
    a, b = sum(old.values()), sum(new.values())
    print(f"{a}\t{b}\t{b - a:+d}\ttotal")
    return 0


if __name__ == "__main__":
    sys.exit(main())
