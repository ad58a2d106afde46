#!/usr/bin/env python3
"""Count code lines under src/main: non-blank lines outside comments.

A line counts when it holds anything besides whitespace, `//` line
comments and `/* ... */` block comments (Scala block comments nest).
Comment markers inside string literals are text, not comments.

    python3 tools/code_lines.py                  # per file, then the total
    python3 tools/code_lines.py --against REV    # REV, working tree, delta

With `--against`, REV's files are read through `git show REV:<path>`, so
the comparison needs no second checkout. Run from the repository root.
"""
import argparse
import os
import subprocess
import sys

ROOT = "src/main"


def code_lines(text):
    """Number of lines of `text` that carry code."""
    count = 0
    depth = 0  # block-comment nesting
    in_str = None  # None, '"' or '"""'
    for line in text.splitlines():
        has_code = False
        i, n = 0, len(line)
        while i < n:
            if depth:
                if line.startswith("/*", i):
                    depth, i = depth + 1, i + 2
                elif line.startswith("*/", i):
                    depth, i = depth - 1, i + 2
                else:
                    i += 1
                continue
            c = line[i]
            if in_str == '"""':
                has_code = has_code or not c.isspace()
                if line.startswith('"""', i):
                    in_str, i = None, i + 3
                else:
                    i += 1
                continue
            if in_str == '"':
                has_code = True
                if c == "\\":
                    i += 2
                else:
                    in_str = None if c == '"' else in_str
                    i += 1
                continue
            if line.startswith("//", i):
                break
            if line.startswith("/*", i):
                depth, i = 1, i + 2
                continue
            if line.startswith('"""', i):
                in_str, has_code, i = '"""', True, i + 3
                continue
            if c == '"':
                in_str, has_code, i = '"', True, i + 1
                continue
            if c == "'":
                # a char literal may be a quote: skip it whole ('"', '\'')
                end = line.find("'", i + 2 if line.startswith("\\", i + 1) else i + 1)
                has_code, i = True, (end + 1 if 0 < end <= i + 7 else i + 1)
                continue
            has_code = has_code or not c.isspace()
            i += 1
        if in_str == '"':
            in_str = None  # a single-quoted string never spans lines
        count += has_code
    return count


def worktree_files():
    out = {}
    for d, _, names in os.walk(ROOT):
        for name in names:
            path = os.path.join(d, name)
            with open(path, encoding="utf-8") as f:
                out[path] = f.read()
    return out


def revision_files(rev):
    names = subprocess.run(
        ["git", "ls-tree", "-r", "--name-only", rev, "--", ROOT],
        check=True, capture_output=True, text=True,
    ).stdout.split()
    return {
        p: subprocess.run(
            ["git", "show", f"{rev}:{p}"], check=True, capture_output=True, text=True
        ).stdout
        for p in names
    }


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--against", metavar="REV", help="also count REV and print the delta")
    args = ap.parse_args()
    if not os.path.isdir(ROOT):
        sys.exit(f"no {ROOT}/ here: run from the repository root")
    now = worktree_files()
    if args.against is None:
        for p in sorted(now):
            print(f"{code_lines(now[p]):7d}  {p}")
        raw = sum(len(t.splitlines()) for t in now.values())
        print(f"{sum(code_lines(t) for t in now.values()):7d}  total ({raw} raw lines)")
        return
    old = revision_files(args.against)
    print(f"{args.against:>9}  {'worktree':>9}  {'delta':>7}  path")
    totals = [0, 0, 0, 0]  # code then raw, revision then worktree
    for p in sorted(set(old) | set(now)):
        a = code_lines(old[p]) if p in old else 0
        b = code_lines(now[p]) if p in now else 0
        totals[0] += a
        totals[1] += b
        totals[2] += len(old.get(p, "").splitlines())
        totals[3] += len(now.get(p, "").splitlines())
        if a or b:
            print(f"{a:9d}  {b:9d}  {b - a:+7d}  {p}")
    print(f"{totals[0]:9d}  {totals[1]:9d}  {totals[1] - totals[0]:+7d}  total code lines")
    print(f"{totals[2]:9d}  {totals[3]:9d}  {totals[3] - totals[2]:+7d}  total raw lines")


if __name__ == "__main__":
    main()
