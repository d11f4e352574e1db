#!/usr/bin/env python3
"""Counts non-blank, non-comment Scala lines per file at two git revisions
and reports the delta.

Usage: python3 tools/loc.py <rev-a> <rev-b> [paths...]   (default: src/main)

Both revisions are read with `git ls-tree` and `git show`, so nothing is
checked out. A line counts when it holds any code outside `//` and
(nested) `/* ... */` comments, Scaladoc included; a line that mixes code
and a comment counts. Comment-only edits therefore move no number.
"""
import subprocess
import sys


def git(*args):
    return subprocess.run(["git", *args], check=True, capture_output=True,
                          text=True).stdout


def scala_files(rev, paths):
    out = git("ls-tree", "-r", "--name-only", rev, "--", *paths)
    return [p for p in out.splitlines() if p.endswith(".scala")]


def code_lines(text):
    """Lines with code outside comments; string and char literals are
    skipped so `//` or `/*` inside them is not taken for a comment."""
    count = 0
    depth = 0          # nesting of /* */ (Scala block comments nest)
    in_triple = False  # inside a """ string, which may span lines
    for line in text.splitlines():
        has_code = in_triple
        i, n = 0, len(line)
        while i < n:
            if depth:
                if line.startswith("*/", i):
                    depth -= 1
                    i += 2
                elif line.startswith("/*", i):
                    depth += 1
                    i += 2
                else:
                    i += 1
            elif in_triple:
                end = line.find('"""', i)
                if end < 0:
                    break
                in_triple = False
                i = end + 3
            elif line.startswith("//", i):
                break
            elif line.startswith("/*", i):
                depth += 1
                i += 2
            elif line.startswith('"""', i):
                has_code = True
                in_triple = True
                i += 3
            elif line[i] == '"':
                has_code = True
                i += 1
                while i < n and line[i] != '"':
                    i += 2 if line[i] == "\\" else 1
                i += 1
            elif line[i] == "'" and (line.startswith("\\", i + 1) or
                                     line.startswith("'", i + 2)):
                has_code = True
                end = line.find("'", i + 2)
                i = n if end < 0 else end + 1
            else:
                has_code = has_code or not line[i].isspace()
                i += 1
        count += has_code
    return count


def counts(rev, paths):
    return {p: code_lines(git("show", f"{rev}:{p}"))
            for p in scala_files(rev, paths)}


def main(argv):
    if len(argv) < 3:
        sys.exit(__doc__)
    rev_a, rev_b, paths = argv[1], argv[2], argv[3:] or ["src/main"]
    a, b = counts(rev_a, paths), counts(rev_b, paths)
    rows = [(p, a.get(p, 0), b.get(p, 0)) for p in sorted(set(a) | set(b))]
    width = max([len(p) for p, _, _ in rows] + [5])
    print(f"{'file':<{width}} {rev_a[:10]:>10} {rev_b[:10]:>10} {'delta':>7}")
    for p, x, y in rows:
        if x != y:
            print(f"{p:<{width}} {x:>10} {y:>10} {y - x:>+7}")
    ta, tb = sum(a.values()), sum(b.values())
    print(f"{'total':<{width}} {ta:>10} {tb:>10} {tb - ta:>+7}")


if __name__ == "__main__":
    main(sys.argv)
