#!/usr/bin/env python3
"""Code lines per Scala file: lines holding at least one character that is
neither whitespace nor part of a comment. Blank lines, `//` line comments
and `/* ... */` block comments (scaladoc included) do not count; a line
with code and a trailing comment does. String literals (plain and
triple-quoted) are skipped over, so `"a // b"` is code, not a comment.

    python3 tools/loc.py [PATH ...]        # files or directories
    python3 tools/loc.py --total PATH ...  # the sum only

Directories are walked for `*.scala`. Output: one `<code lines>  <path>`
row per file, then a `<sum>  total` row.
"""
import os
import sys


def code_lines(text):
    n = 0
    depth = 0          # block-comment nesting (Scala comments nest)
    in_str = None      # None, '"' or '"""'
    i, end = 0, len(text)
    line_has_code = False
    while i < end:
        c = text[i]
        if c == "\n":
            n += line_has_code
            line_has_code = False
            i += 1
            continue
        if depth:
            if text.startswith("*/", i):
                depth -= 1
                i += 2
            elif text.startswith("/*", i):
                depth += 1
                i += 2
            else:
                i += 1
            continue
        if in_str:
            line_has_code = True
            if in_str == '"""':
                if text.startswith('"""', i):
                    in_str = None
                    i += 3
                else:
                    i += 1
            elif c == "\\":
                i += 2
            elif c == '"':
                in_str = None
                i += 1
            else:
                i += 1
            continue
        if text.startswith("//", i):
            nl = text.find("\n", i)
            i = end if nl < 0 else nl
            continue
        if text.startswith("/*", i):
            depth = 1
            i += 2
            continue
        if text.startswith('"""', i):
            in_str = '"""'
            line_has_code = True
            i += 3
            continue
        if c == '"':
            in_str = '"'
            line_has_code = True
            i += 1
            continue
        if c == "'" and i + 2 < end and text[i + 2] == "'":
            # character literal such as '"' or '/'
            line_has_code = True
            i += 3
            continue
        if c == "'" and text.startswith("\\", i + 1) and i + 3 < end \
                and text[i + 3] == "'":
            # escaped character literal such as '\"' or '\n'
            line_has_code = True
            i += 4
            continue
        if not c.isspace():
            line_has_code = True
        i += 1
    return n + line_has_code


def scala_files(paths):
    for p in paths:
        if os.path.isdir(p):
            for root, _, names in os.walk(p):
                for name in sorted(names):
                    if name.endswith(".scala"):
                        yield os.path.join(root, name)
        else:
            yield p


def main(argv):
    total_only = "--total" in argv
    paths = [a for a in argv if a != "--total"] or ["src/main/scala"]
    total = 0
    for f in scala_files(paths):
        with open(f, encoding="utf-8") as fh:
            n = code_lines(fh.read())
        total += n
        if not total_only:
            print(f"{n:6d}  {f}")
    print(f"{total:6d}  total")


if __name__ == "__main__":
    main(sys.argv[1:])
