#!/usr/bin/env python3
"""Code lines per file, and in total, at two git revisions.

A code line is any line that is neither blank nor a comment line, the
rule of `grep -vE '^\\s*(//|\\*|/\\*\\*|\\*/)|^\\s*$'`: lines starting with
`//`, `*`, `/**` or `*/` (after indentation) do not count. Design
changes report their deleted code with it.

Usage:
    python3 tools/code_lines.py OLD NEW PATH [PATH ...]

OLD and NEW are git revisions (`HEAD~1`, a hash, a branch); the word
`WORKTREE` stands for the files on disk. A PATH that is a directory
counts every file under it. Run from inside the repository.
"""
import re
import subprocess
import sys

WORKTREE = "WORKTREE"
NOT_CODE = re.compile(r"^\s*(//|\*|/\*\*|\*/)|^\s*$")


def git(*args):
    return subprocess.run(["git", *args], check=True, capture_output=True).stdout


def files_at(rev, paths):
    if rev == WORKTREE:
        out = git("ls-files", "--cached", "--others", "--exclude-standard", "--", *paths)
    else:
        out = git("ls-tree", "-r", "--name-only", rev, "--", *paths)
    return out.decode().splitlines()


def text_at(rev, path):
    if rev == WORKTREE:
        try:
            with open(path, "rb") as f:
                data = f.read()
        except FileNotFoundError:  # listed by git but deleted on disk
            return ""
    else:
        data = git("show", f"{rev}:{path}")
    return data.decode("utf-8", errors="replace")


def code_lines(text):
    return sum(1 for line in text.splitlines() if not NOT_CODE.search(line))


def counts(rev, paths):
    return {f: code_lines(text_at(rev, f)) for f in files_at(rev, paths)}


def main(argv):
    if len(argv) < 4:
        sys.stderr.write(__doc__)
        return 2
    old_rev, new_rev, paths = argv[1], argv[2], argv[3:]
    old, new = counts(old_rev, paths), counts(new_rev, paths)
    names = sorted(set(old) | set(new))
    width = max([len(n) for n in names] + [len("total")])
    print(f"{'file':<{width}}  {old_rev:>10}  {new_rev:>10}  {'change':>7}")
    for n in names:
        a, b = old.get(n, 0), new.get(n, 0)
        print(f"{n:<{width}}  {a:>10}  {b:>10}  {b - a:>+7}")
    a, b = sum(old.values()), sum(new.values())
    print(f"{'total':<{width}}  {a:>10}  {b:>10}  {b - a:>+7}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
