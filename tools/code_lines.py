#!/usr/bin/env python3
"""Count code lines in Scala sources: non-blank lines that hold at least
one character outside a comment. String contents count as code, so a
line inside a multi-line SQL or JSON literal is a code line, and `//` or
`/*` inside a string does not open a comment. Block comments nest, as
they do in Scala.

Usage: python3 tools/code_lines.py [--files] PATH...
Prints the total over every .scala file under the given paths
(default src/main); --files also prints one `count path` line per file.
"""
import os
import sys


def code_lines(src):
    n = 0
    i, end = 0, len(src)
    depth = 0          # block-comment nesting
    in_str = None      # None, '"' or '"""'
    line_has_code = False
    while i < end:
        c = src[i]
        if c == "\n":
            n += line_has_code
            line_has_code = False
            i += 1
            continue
        if depth:
            if src.startswith("*/", i):
                depth -= 1
                i += 2
            elif src.startswith("/*", i):
                depth += 1
                i += 2
            else:
                i += 1
            continue
        if in_str == '"""':
            if not c.isspace():
                line_has_code = True
            if src.startswith('"""', i):
                # a run of quotes closes on its last three
                j = i + 3
                while j < end and src[j] == '"':
                    j += 1
                in_str = None
                i = j
            else:
                i += 1
            continue
        if in_str == '"':
            if not c.isspace():
                line_has_code = True
            if c == "\\":
                i += 2
            else:
                if c == '"':
                    in_str = None
                i += 1
            continue
        if src.startswith("//", i):
            while i < end and src[i] != "\n":
                i += 1
            continue
        if src.startswith("/*", i):
            depth = 1
            i += 2
            continue
        if not c.isspace():
            line_has_code = True
        if src.startswith('"""', i):
            in_str = '"""'
            i += 3
        elif c == '"':
            in_str = '"'
            i += 1
        elif c == "'":
            # a character literal: 'x' or an escape such as '\n' or '\''
            if src.startswith("\\", i + 1):
                close = src.find("'", i + 3)
                i = close + 1 if 0 < close <= i + 8 else i + 1
            elif i + 2 < end and src[i + 2] == "'":
                i += 3
            else:
                i += 1
        else:
            i += 1
    return n + line_has_code


def scala_files(paths):
    for p in paths:
        if os.path.isfile(p):
            yield p
            continue
        for root, _, files in os.walk(p):
            for f in sorted(files):
                if f.endswith(".scala"):
                    yield os.path.join(root, f)


def main(argv):
    per_file = "--files" in argv
    paths = [a for a in argv if a != "--files"] or ["src/main"]
    total = 0
    for f in sorted(scala_files(paths)):
        with open(f, encoding="utf-8") as fh:
            k = code_lines(fh.read())
        total += k
        if per_file:
            print(f"{k} {f}")
    print(total)


if __name__ == "__main__":
    main(sys.argv[1:])
