#!/usr/bin/env python3
"""Main-code line census: total lines and code lines (non-blank, not
comment-only) of the Scala sources under src/main/scala, per package.

    python3 tools/mainloc.py [SRC_ROOT]

SRC_ROOT defaults to src/main/scala next to this script's repository.
A line counts as code when any character on it lies outside a comment;
`//` line comments and (nested) `/* */` block comments are recognised,
and comment markers inside string literals are ignored. Run it on two
checkouts and subtract the TOTAL rows to get a change's net lines.

Below TOTAL, the DuckDB oracle SQL is reported as its own row (already
counted in its package's row and in TOTAL): all of `OracleSql.scala`
plus each `val oracles` map (the `val oracles` line through the last
line of its definition). ENGINE is TOTAL minus that row, so the trend of
the engine code shows apart from the oracle twins.
"""
import os
import sys
from collections import defaultdict


def line_states(text: str):
    """Per line: (has_code, opens_inside) — whether the line holds at least
    one non-blank character outside comments, and whether it starts inside
    a block comment or a triple-quoted string."""
    depth = 0  # block-comment nesting (Scala allows nested /* */)
    in_str = None  # None, '"' or '"""'
    for line in text.splitlines():
        opens_inside = bool(depth or in_str)
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
        yield has_code, opens_inside


def code_lines(text: str) -> int:
    """Count lines holding at least one non-blank character outside comments."""
    return sum(has_code for has_code, _ in line_states(text))


def indent(line: str) -> int:
    return len(line) - len(line.lstrip())


def oracle_lines(name: str, text: str) -> tuple:
    """(lines, code lines) of oracle SQL in one file: the whole file for
    OracleSql.scala, else each `val oracles` definition. A definition runs
    from its `val oracles` line through every following line that is
    blank, indented deeper, inside a string or comment, or a closing
    bracket at the `val`'s own indentation."""
    lines = text.splitlines()
    states = list(line_states(text))
    if name == "OracleSql.scala":
        return len(lines), sum(h for h, _ in states)
    total = code = 0
    i = 0
    while i < len(lines):
        stripped = lines[i].lstrip()
        if not states[i][1] and (stripped.startswith("val oracles") or " val oracles" in stripped):
            base = indent(lines[i])
            j = i + 1
            while j < len(lines) and (
                states[j][1]
                or not lines[j].strip()
                or indent(lines[j]) > base
                or (indent(lines[j]) == base and lines[j].strip()[0] in ")]}")
            ):
                j += 1
            while j > i + 1 and not lines[j - 1].strip():
                j -= 1  # trailing blank lines belong to what follows
            total += j - i
            code += sum(h for h, _ in states[i:j])
            i = j
        else:
            i += 1
    return total, code


def main() -> None:
    here = os.path.dirname(os.path.abspath(__file__))
    root = sys.argv[1] if len(sys.argv) > 1 else os.path.join(here, "..", "src", "main", "scala")
    total = defaultdict(int)
    code = defaultdict(int)
    oracle_total = oracle_code = 0
    for d, _, files in os.walk(root):
        pkg = os.path.relpath(d, root).replace(os.sep, ".")
        for f in files:
            if f.endswith(".scala"):
                with open(os.path.join(d, f), encoding="utf-8") as fh:
                    text = fh.read()
                total[pkg] += len(text.splitlines())
                code[pkg] += code_lines(text)
                o_total, o_code = oracle_lines(f, text)
                oracle_total += o_total
                oracle_code += o_code
    print(f"{'package':<28}{'lines':>8}{'code':>8}")
    for pkg in sorted(total):
        print(f"{pkg:<28}{total[pkg]:>8}{code[pkg]:>8}")
    all_total, all_code = sum(total.values()), sum(code.values())
    print(f"{'TOTAL':<28}{all_total:>8}{all_code:>8}")
    print(f"{'oracle SQL (in TOTAL)':<28}{oracle_total:>8}{oracle_code:>8}")
    print(f"{'ENGINE (TOTAL - oracle)':<28}{all_total - oracle_total:>8}{all_code - oracle_code:>8}")


if __name__ == "__main__":
    main()
