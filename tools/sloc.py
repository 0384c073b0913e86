#!/usr/bin/env python3
"""Count Scala source lines at two git revisions and print the delta.

Usage:
    tools/sloc.py REV_A REV_B [path...]

For every *.scala file under the given paths (default: the whole tree)
at REV_A and at REV_B, counts the lines that hold code: not blank, not
a `//` comment line, not inside a `/* ... */` block (scaladoc included,
nested blocks honoured). A line holding code and a trailing comment
counts as code; comment markers inside string literals are not
comments. Prints one row per file whose count changed, then the
total. Reads files with `git show`, so the work tree is not touched;
a file present at only one revision counts 0 at the other.
"""
import subprocess
import sys


def git(*args):
    return subprocess.run(("git",) + args, check=True,
                          capture_output=True).stdout.decode("utf-8")


def scala_files(rev, paths):
    out = git("ls-tree", "-r", "--name-only", rev, "--", *paths)
    return [p for p in out.splitlines() if p.endswith(".scala")]


def code_lines(text):
    """Number of lines of `text` that carry code outside comments."""
    depth = 0            # nesting depth of /* */ comments
    in_triple = False    # inside a """...""" literal
    count = 0
    for line in text.splitlines():
        has_code = in_triple and bool(line.strip())
        i, n = 0, len(line)
        while i < n:
            if depth:
                if line.startswith("/*", i):
                    depth, i = depth + 1, i + 2
                elif line.startswith("*/", i):
                    depth, i = depth - 1, i + 2
                else:
                    i += 1
            elif in_triple:
                if line.startswith('"""', i):
                    in_triple, i = False, i + 3
                else:
                    i += 1
            elif line.startswith("//", i):
                break
            elif line.startswith("/*", i):
                depth, i = 1, i + 2
            elif line.startswith('"""', i):
                has_code, in_triple, i = True, True, i + 3
            elif line[i] == '"':
                has_code, i = True, i + 1
                while i < n and line[i] != '"':
                    i += 2 if line[i] == "\\" else 1
                i += 1
            elif line[i] == "'" and i + 2 < n and line[i + 2] == "'":
                has_code, i = True, i + 3      # char literal such as '"'
            elif line.startswith("'\\", i) and i + 3 < n and line[i + 3] == "'":
                has_code, i = True, i + 4      # escaped char literal
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
    rev_a, rev_b, paths = argv[1], argv[2], argv[3:]
    a, b = counts(rev_a, paths), counts(rev_b, paths)
    print(f"{'before':>8} {'after':>8} {'delta':>8}  file")
    for p in sorted(set(a) | set(b)):
        x, y = a.get(p, 0), b.get(p, 0)
        if x != y:
            print(f"{x:8d} {y:8d} {y - x:+8d}  {p}")
    ta, tb = sum(a.values()), sum(b.values())
    print(f"{ta:8d} {tb:8d} {tb - ta:+8d}  total ({len(b)} files at {rev_b})")


if __name__ == "__main__":
    main(sys.argv)
