#!/usr/bin/env python3
"""Count non-blank, non-comment Scala lines, per directory and in total.

    python3 scripts/loc.py [root]

`root` defaults to `src/main` under the repository. A line counts when it
holds at least one character of code outside `//` line comments and
`/* ... */` block comments (Scaladoc included; Scala block comments nest).
Comment markers inside string literals (plain, triple-quoted and
interpolated) and character literals are code, not comments. Each
directory's count covers the `.scala` files directly in it; the last line
is the total over every directory.
"""
import os
import sys


def code_lines(text):
    """Number of lines of `text` that hold code outside comments."""
    n = 0
    depth = 0          # block-comment nesting depth
    in_str = None      # None, '"' or '"""'
    for line in text.splitlines():
        has_code = False
        i = 0
        while i < len(line):
            if depth:
                if line.startswith("/*", i):
                    depth += 1
                    i += 2
                elif line.startswith("*/", i):
                    depth -= 1
                    i += 2
                else:
                    i += 1
                continue
            if in_str:
                has_code = True
                if in_str == '"""':
                    if line.startswith('"""', i):
                        # a run of quotes closes on its last three
                        j = i
                        while j < len(line) and line[j] == '"':
                            j += 1
                        in_str = None
                        i = j
                    else:
                        i += 1
                elif line[i] == "\\":
                    i += 2
                elif line[i] == '"':
                    in_str = None
                    i += 1
                else:
                    i += 1
                continue
            c = line[i]
            if line.startswith("//", i):
                break
            if line.startswith("/*", i):
                depth = 1
                i += 2
                continue
            if c.isspace():
                i += 1
                continue
            has_code = True
            if line.startswith('"""', i):
                in_str = '"""'
                i += 3
            elif c == '"':
                in_str = '"'
                i += 1
            elif c == "'" and line.startswith("\\", i + 1):
                end = line.find("'", i + 3)
                i = end + 1 if end > 0 else len(line)
            elif c == "'" and i + 2 < len(line) and line[i + 2] == "'":
                i += 3
            else:
                i += 1
        if in_str == '"':
            in_str = None  # a plain string cannot span lines
        if has_code:
            n += 1
    return n


def main(argv):
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    root = argv[1] if len(argv) > 1 else os.path.join(repo, "src", "main")
    counts = {}
    for d, _, files in os.walk(root):
        for f in files:
            if f.endswith(".scala"):
                with open(os.path.join(d, f), encoding="utf-8") as fh:
                    rel = os.path.relpath(d, root)
                    counts[rel] = counts.get(rel, 0) + code_lines(fh.read())
    width = max([len(k) for k in counts] + [5])
    for d in sorted(counts):
        print(f"{d:<{width}}  {counts[d]:>7}")
    print(f"{'total':<{width}}  {sum(counts.values()):>7}")


if __name__ == "__main__":
    main(sys.argv)
