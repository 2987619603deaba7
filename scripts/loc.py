#!/usr/bin/env python3
"""Count Scala lines: physical lines and code lines (non-blank, non-comment).

A line is a code line when any non-whitespace character on it lies outside
a comment. Comments are `//` to end of line and `/* ... */` blocks, scaladoc
`/** ... */` included; Scala block comments nest. Comment markers inside
string literals ("...", \"\"\"...\"\"\", interpolated strings) and character
literals do not count.

Usage:
    python3 scripts/loc.py [ROOT]        # ROOT defaults to the checkout

Prints one row per tree (src/main, src/test) and one per package (each
directory under src/<tree>/scala that holds .scala files, counted without
its subdirectories).
"""

import os
import signal
import sys


def code_lines(text):
    """Return (physical, code) line counts of one Scala source."""
    depth = 0            # block-comment nesting
    in_str = None        # None, '"' or '"""'
    code = 0
    lines = text.split("\n")
    if lines and lines[-1] == "":
        lines.pop()
    for line in lines:
        has_code = False
        i, n = 0, len(line)
        while i < n:
            c = line[i]
            if depth:
                if line.startswith("*/", i):
                    depth -= 1
                    i += 2
                elif line.startswith("/*", i):
                    depth += 1
                    i += 2
                else:
                    i += 1
                continue
            if in_str == '"""':
                has_code = True
                if line.startswith('"""', i):
                    # a closing run may be longer than three quotes
                    while line.startswith('"', i + 3):
                        i += 1
                    in_str = None
                    i += 3
                else:
                    i += 1
                continue
            if in_str == '"':
                has_code = True
                if c == "\\":
                    i += 2
                elif c == '"':
                    in_str = None
                    i += 1
                else:
                    i += 1
                continue
            if line.startswith("//", i):
                break
            if line.startswith("/*", i):
                depth += 1
                i += 2
                continue
            if line.startswith('"""', i):
                in_str = '"""'
                has_code = True
                i += 3
                continue
            if c == '"':
                in_str = '"'
                has_code = True
                i += 1
                continue
            if c == "'":
                # character literal ('x', '\n', 'A'); otherwise a
                # symbol literal or a quote inside code — one char
                esc = line.startswith("\\", i + 1)
                end = line.find("'", i + (3 if esc else 1))
                if end != -1 and (end - i <= 2 or esc):
                    has_code = True
                    i = end + 1
                    continue
            if not c.isspace():
                has_code = True
            i += 1
        if in_str == '"':
            in_str = None  # single-line strings cannot span lines
        code += has_code
    return len(lines), code


def count_tree(root):
    """{package dir (relative to root): [physical, code]} over .scala files."""
    per_pkg = {}
    for d, _, files in os.walk(root):
        for f in sorted(files):
            if f.endswith(".scala"):
                with open(os.path.join(d, f), encoding="utf-8") as fh:
                    phys, code = code_lines(fh.read())
                rel = os.path.relpath(d, root)
                acc = per_pkg.setdefault(rel, [0, 0])
                acc[0] += phys
                acc[1] += code
    return per_pkg


def main():
    signal.signal(signal.SIGPIPE, signal.SIG_DFL)  # quiet under `| head`
    checkout = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "..")
    print(f"{'tree / package':<40} {'physical':>9} {'code':>9}")
    for tree in ("main", "test"):
        root = os.path.join(checkout, "src", tree, "scala")
        per_pkg = count_tree(root)
        phys = sum(v[0] for v in per_pkg.values())
        code = sum(v[1] for v in per_pkg.values())
        print(f"{'src/' + tree:<40} {phys:>9} {code:>9}")
        for pkg in sorted(per_pkg):
            name = "  " + pkg.replace(os.sep, ".")
            print(f"{name:<40} {per_pkg[pkg][0]:>9} {per_pkg[pkg][1]:>9}")


if __name__ == "__main__":
    main()
