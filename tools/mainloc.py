#!/usr/bin/env python3
"""Main-code line census: total lines and code lines (non-blank, not
comment-only) of the Scala sources under src/main/scala, per package.

    python3 tools/mainloc.py [SRC_ROOT]

SRC_ROOT defaults to src/main/scala next to this script's repository.
A line counts as code when any character on it lies outside a comment;
`//` line comments and (nested) `/* */` block comments are recognised,
and comment markers inside string literals are ignored. Run it on two
checkouts and subtract the TOTAL rows to get a change's net lines.
"""
import os
import sys
from collections import defaultdict


def code_lines(text: str) -> int:
    """Count lines holding at least one non-blank character outside comments."""
    n = 0
    depth = 0  # block-comment nesting (Scala allows nested /* */)
    in_str = None  # None, '"' or '"""'
    for line in text.splitlines():
        has_code = False
        i = 0
        while i < len(line):
            if depth:
                if line.startswith("*/", i):
                    depth -= 1
                    i += 2
                elif line.startswith("/*", i):
                    depth += 1
                    i += 2
                else:
                    i += 1
            elif in_str:
                has_code = True
                if in_str == '"""' and line.startswith('"""', i):
                    in_str = None
                    i += 3
                elif in_str == '"' and line[i] == "\\":
                    i += 2
                elif in_str == '"' and line[i] == '"':
                    in_str = None
                    i += 1
                else:
                    i += 1
            elif line.startswith("//", i):
                break
            elif line.startswith("/*", i):
                depth += 1
                i += 2
            elif line.startswith('"""', i):
                has_code = True
                in_str = '"""'
                i += 3
            elif line[i] == '"':
                has_code = True
                in_str = '"'
                i += 1
            elif line[i] == "'" and i + 2 < len(line) and line[i + 2] == "'":
                has_code = True  # a char literal such as '"' or '/'
                i += 3
            else:
                has_code = has_code or not line[i].isspace()
                i += 1
        if in_str == '"':
            in_str = None  # single-quoted strings never span lines
        n += has_code
    return n


def main() -> None:
    here = os.path.dirname(os.path.abspath(__file__))
    root = sys.argv[1] if len(sys.argv) > 1 else os.path.join(here, "..", "src", "main", "scala")
    total = defaultdict(int)
    code = defaultdict(int)
    for d, _, files in os.walk(root):
        pkg = os.path.relpath(d, root).replace(os.sep, ".")
        for f in files:
            if f.endswith(".scala"):
                with open(os.path.join(d, f), encoding="utf-8") as fh:
                    text = fh.read()
                total[pkg] += len(text.splitlines())
                code[pkg] += code_lines(text)
    print(f"{'package':<28}{'lines':>8}{'code':>8}")
    for pkg in sorted(total):
        print(f"{pkg:<28}{total[pkg]:>8}{code[pkg]:>8}")
    print(f"{'TOTAL':<28}{sum(total.values()):>8}{sum(code.values()):>8}")


if __name__ == "__main__":
    main()
