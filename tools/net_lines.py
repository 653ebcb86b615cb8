#!/usr/bin/env python3
"""Net line change under src/main since a git revision, raw and code-only.

Compares the files under src/main at <base-rev> with the working tree
(tracked and untracked files, minus git-ignored ones). Code-only counts
exclude blank lines and comment lines: those that start, after
indentation, with `//`, `/*` or `*`. Usage:
  python3 tools/net_lines.py <base-rev>
"""
import os
import subprocess
import sys

ROOT = "src/main"


def git(*args: str) -> str:
    return subprocess.run(("git",) + args, check=True, capture_output=True,
                          text=True).stdout


def counts(text: str) -> tuple:
    lines = text.splitlines()
    code = [l for l in (l.strip() for l in lines)
            if l and not l.startswith(("//", "/*", "*"))]
    return len(lines), len(code)


def base_counts(rev: str) -> tuple:
    raw = code = 0
    paths = git("ls-tree", "-r", "--name-only", rev, "--", ROOT)
    for path in paths.splitlines():
        r, c = counts(git("show", f"{rev}:{path}"))
        raw, code = raw + r, code + c
    return raw, code


def tree_counts() -> tuple:
    raw = code = 0
    files = git("ls-files", "--cached", "--others", "--exclude-standard",
                "--", ROOT).splitlines()
    for path in sorted(set(files)):
        if os.path.isfile(path):
            with open(path, encoding="utf-8") as f:
                r, c = counts(f.read())
            raw, code = raw + r, code + c
    return raw, code


def main() -> None:
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    os.chdir(git("rev-parse", "--show-toplevel").strip())
    (raw0, code0), (raw1, code1) = base_counts(sys.argv[1]), tree_counts()
    print(f"{ROOT} since {sys.argv[1]}: raw {raw1 - raw0:+d} "
          f"({raw0} -> {raw1}), code-only {code1 - code0:+d} "
          f"({code0} -> {code1})")


if __name__ == "__main__":
    main()
