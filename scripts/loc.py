#!/usr/bin/env python3
"""Count non-blank, non-comment Scala lines.

With no PATH, prints three groups and their total:
  main   src/main outside graft.tools
  tools  src/main/scala/graft/tools
  test   src/test

With PATHs (files or directories, relative to --root), prints each one's
count and their total.

    python3 scripts/loc.py                      # this checkout
    python3 scripts/loc.py --root ../other      # another checkout
    python3 scripts/loc.py src/main/scala/graft/functions/FixedAvro.scala

A line counts when any of it lies outside a comment: code with a trailing
comment counts, a line inside a block comment or holding only `//` text
does not. String literals are code, so `"//"` in a string starts no
comment. Block comments nest, as in Scala.
"""
import argparse
import os
import sys

TOOLS = os.path.join("src", "main", "scala", "graft", "tools")


def code_lines(text):
    """Number of lines of `text` that hold some non-comment, non-blank text."""
    count = 0
    depth = 0          # block-comment nesting
    string = None      # None, '"' or '"""'
    i, n = 0, len(text)
    has_code = False
    while i < n:
        c = text[i]
        if c == "\n":
            count += has_code
            has_code = False
            i += 1
            continue
        if depth:
            if text.startswith("/*", i):
                depth += 1
                i += 2
            elif text.startswith("*/", i):
                depth -= 1
                i += 2
            else:
                i += 1
            continue
        if string == '"""':
            has_code = has_code or not c.isspace()
            if text.startswith('"""', i):
                # a run of quotes closes on its last three
                j = i
                while j < n and text[j] == '"':
                    j += 1
                string = None
                i = j
            else:
                i += 1
            continue
        if string == '"':
            has_code = True
            if c == "\\":
                i += 2
            elif c == '"':
                string = None
                i += 1
            else:
                i += 1
            continue
        if text.startswith("//", i):
            while i < n and text[i] != "\n":
                i += 1
            continue
        if text.startswith("/*", i):
            depth = 1
            i += 2
            continue
        if text.startswith('"""', i):
            string = '"""'
            has_code = True
            i += 3
            continue
        if c == '"':
            string = '"'
            has_code = True
            i += 1
            continue
        if c == "'" and i + 2 < n and (text[i + 2] == "'" or text[i + 1] == "\\"):
            # a char literal: skip it whole so '"' opens no string
            j = text.find("'", i + 2 if text[i + 1] == "\\" else i + 1)
            has_code = True
            i = (j + 1) if j > 0 else i + 1
            continue
        if not c.isspace():
            has_code = True
        i += 1
    return count + has_code


def scala_files(path):
    if os.path.isfile(path):
        return [path]
    out = []
    for d, _, names in os.walk(path):
        out += [os.path.join(d, f) for f in names if f.endswith(".scala")]
    return sorted(out)


def count(paths):
    total = 0
    for p in paths:
        with open(p, encoding="utf-8") as f:
            total += code_lines(f.read())
    return total


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--root", default=".", help="checkout to count (default: .)")
    ap.add_argument("paths", nargs="*", help="files or directories, relative to --root")
    args = ap.parse_args()
    root = args.root
    if args.paths:
        rows = [(p, count(scala_files(os.path.join(root, p)))) for p in args.paths]
    else:
        main_files = [f for f in scala_files(os.path.join(root, "src", "main"))
                      if not f.startswith(os.path.join(root, TOOLS) + os.sep)]
        rows = [("main", count(main_files)),
                ("tools", count(scala_files(os.path.join(root, TOOLS)))),
                ("test", count(scala_files(os.path.join(root, "src", "test"))))]
    for name, c in rows:
        print(f"{c:8d}  {name}")
    print(f"{sum(c for _, c in rows):8d}  total")
    return 0


if __name__ == "__main__":
    sys.exit(main())
