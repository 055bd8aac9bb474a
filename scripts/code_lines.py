#!/usr/bin/env python3
"""Count Scala code lines: lines that are not blank and do not start
(after indentation) with `//`, `/*` or `*`.

    python3 scripts/code_lines.py src/main/scala/graft/sources/dsv2
    python3 scripts/code_lines.py --files src/main/scala

Each argument is a `.scala` file or a dir searched recursively. Prints
one count per argument and, with several arguments, their total;
`--files` adds one line per file.
"""
import argparse
import os
import sys

COMMENT_STARTS = ("//", "/*", "*")


def count_file(path):
    n = 0
    with open(path, encoding="utf-8") as f:
        for line in f:
            s = line.strip()
            if s and not s.startswith(COMMENT_STARTS):
                n += 1
    return n


def scala_files(arg):
    if os.path.isfile(arg):
        return [arg]
    out = []
    for d, _, names in os.walk(arg):
        out.extend(os.path.join(d, n) for n in names if n.endswith(".scala"))
    return sorted(out)


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("paths", nargs="+", help=".scala files or dirs")
    ap.add_argument("--files", action="store_true",
                    help="also print the count of every file")
    args = ap.parse_args(argv)
    total = 0
    for arg in args.paths:
        if not os.path.exists(arg):
            sys.exit(f"code_lines: no such file or dir: {arg}")
        sub = 0
        for path in scala_files(arg):
            n = count_file(path)
            sub += n
            if args.files:
                print(f"{n:>7,}  {path}")
        print(f"{sub:>7,}  {arg}")
        total += sub
    if len(args.paths) > 1:
        print(f"{total:>7,}  total")


if __name__ == "__main__":
    main(sys.argv[1:])
