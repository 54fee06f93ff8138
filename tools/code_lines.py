#!/usr/bin/env python3
"""Count the non-blank, non-comment lines of every .scala file under a
directory, and their total.

A line counts when, with `//` line comments and (nested) `/* */` block
comments removed, something other than whitespace is left on it.
Comment markers inside string literals ("..." and triple-quoted
multi-line strings) and char literals are text, not comments.

    python3 tools/code_lines.py [DIR]    # default: src/main

Prints one `<lines>  <path>` row per file, sorted by path, then
`<total>  total`.
"""
import os
import sys


def code_lines(src):
    """Number of lines in `src` that carry code outside comments."""
    n = 0
    depth = 0          # block-comment nesting depth
    in_triple = False  # inside a """...""" literal (may span lines)
    for line in src.split("\n"):
        has_code = in_triple
        i, end = 0, len(line)
        while i < end:
            c = line[i]
            if depth > 0:
                if line.startswith("/*", i):
                    depth += 1
                    i += 2
                elif line.startswith("*/", i):
                    depth -= 1
                    i += 2
                else:
                    i += 1
            elif in_triple:
                if line.startswith('"""', i):
                    # a run of quotes closes on its last three
                    j = i
                    while j < end and line[j] == '"':
                        j += 1
                    in_triple = False
                    i = j
                else:
                    i += 1
            elif line.startswith("//", i):
                break
            elif line.startswith("/*", i):
                depth = 1
                i += 2
            elif line.startswith('"""', i):
                has_code = True
                in_triple = True
                i += 3
            elif c == '"':
                has_code = True
                i += 1
                while i < end and line[i] != '"':
                    i += 2 if line[i] == "\\" else 1
                i += 1
            elif c == "'" and i + 2 < end and (line[i + 2] == "'" or line[i + 1] == "\\"):
                # a char literal such as 'a', '"' or '\n'
                has_code = True
                close = line.find("'", i + 2 if line[i + 1] != "\\" else i + 3)
                i = (close if close >= 0 else end - 1) + 1
            else:
                if not c.isspace():
                    has_code = True
                i += 1
        if has_code:
            n += 1
    return n


def main(argv):
    root = argv[0] if argv else "src/main"
    rows = []
    for d, _, files in os.walk(root):
        for f in files:
            if f.endswith(".scala"):
                p = os.path.join(d, f)
                with open(p, encoding="utf-8") as fh:
                    rows.append((p, code_lines(fh.read())))
    rows.sort()
    total = sum(n for _, n in rows)
    for p, n in rows:
        print(f"{n:7d}  {p}")
    print(f"{total:7d}  total")


if __name__ == "__main__":
    main(sys.argv[1:])
