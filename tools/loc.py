#!/usr/bin/env python3
"""Code lines of a source tree: blank lines and comment-only lines
(`//` lines, `/* ... */` and scaladoc blocks) are not counted. Prints
the total and, with --files, one line per file.

  python3 tools/loc.py [DIR]                 # default src/main
  python3 tools/loc.py [DIR] --files         # per file, largest first
  python3 tools/loc.py [DIR] --diff REV      # against a git rev: the
                                             # total and each changed file

DIR is relative to the repository root when --diff is given (the rev's
tree is read with `git show`, nothing is checked out).
"""
import argparse
import os
import subprocess
import sys

EXTS = (".scala", ".java", ".py")


def code_lines(text, ext):
    """Count lines holding code. A line that opens or closes a block
    comment counts when code sits outside the comment on that line.
    String literals are not parsed: a `/*` or `//` inside a string is
    read as a comment, which this code base does not do on code lines."""
    line_comment = "#" if ext == ".py" else "//"
    n = 0
    in_block = False
    for raw in text.splitlines():
        line = raw.strip()
        code = ""
        while line:
            if in_block:
                end = line.find("*/")
                if end < 0:
                    line = ""
                else:
                    in_block = False
                    line = line[end + 2:]
                continue
            if ext != ".py":
                start = line.find("/*")
                cut = line.find(line_comment)
                if start >= 0 and (cut < 0 or start < cut):
                    code += line[:start]
                    in_block = True
                    line = line[start + 2:]
                    continue
            cut = line.find(line_comment)
            code += line if cut < 0 else line[:cut]
            line = ""
        if code.strip():
            n += 1
    return n


def tree_counts(files):
    """{path: code lines} for `files`, an iterable of (path, text)."""
    return {p: code_lines(t, os.path.splitext(p)[1]) for p, t in files}


def worktree_files(root):
    for d, _, names in os.walk(root):
        for name in names:
            if name.endswith(EXTS):
                p = os.path.join(d, name)
                with open(p, encoding="utf-8") as f:
                    yield os.path.relpath(p, root), f.read()


def git_files(rev, root):
    names = subprocess.run(
        ["git", "ls-tree", "-r", "--name-only", rev, "--", root],
        check=True, capture_output=True, text=True).stdout.split()
    for p in names:
        if p.endswith(EXTS):
            text = subprocess.run(["git", "show", f"{rev}:{p}"], check=True,
                                  capture_output=True, text=True).stdout
            yield os.path.relpath(p, root), text


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("dir", nargs="?", default="src/main")
    ap.add_argument("--files", action="store_true", help="per-file counts")
    ap.add_argument("--diff", metavar="REV", help="compare with a git rev")
    a = ap.parse_args()
    now = tree_counts(worktree_files(a.dir))
    if not a.diff:
        if a.files:
            for p, n in sorted(now.items(), key=lambda kv: (-kv[1], kv[0])):
                print(f"{n:7d}  {p}")
        print(f"{sum(now.values()):7d}  total ({a.dir})")
        return 0
    then = tree_counts(git_files(a.diff, os.path.normpath(a.dir)))
    for p in sorted(set(now) | set(then)):
        b, c = then.get(p, 0), now.get(p, 0)
        if b != c:
            print(f"{b:7d} -> {c:7d}  {c - b:+6d}  {p}")
    b, c = sum(then.values()), sum(now.values())
    print(f"{b:7d} -> {c:7d}  {c - b:+6d}  total ({a.dir} vs {a.diff})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
