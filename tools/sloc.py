#!/usr/bin/env python3
"""Count Scala code lines: non-blank lines that are not only comment.

`git diff --stat` counts a deleted comment like a deleted line of code;
this tool does not. A line counts when any character outside a comment
is not whitespace, so `x += 1 // note` counts and a scaladoc line does
not. Strings (plain, interpolated, triple-quoted) and char literals are
code, so a `//` inside one does not start a comment. Block comments nest,
as in Scala.

Usage:
    python3 tools/sloc.py [REV [PATH...]]

Prints the counts at REV (default HEAD, read with `git show`, no
checkout) and in the working tree, and the change, one column per path:
src/main and src/test by default, else each PATH (a .scala file or a
directory) given after REV. A path missing on one side counts 0 there.
"""
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DIRS = ("src/main", "src/test")


def code_lines(text):
    """Number of lines of `text` holding Scala code outside comments."""
    n = 0
    depth = 0          # block-comment nesting depth
    string = None      # None, '"', '"""' or "'"
    line_has_code = False
    i = 0
    while i < len(text):
        c = text[i]
        if c == "\n":
            n += line_has_code
            line_has_code = False
            if string in ('"', "'"):
                string = None   # an unclosed one-line literal ends here
            i += 1
            continue
        if depth:
            if text.startswith("/*", i):
                depth += 1
                i += 2
            elif text.startswith("*/", i):
                depth -= 1
                i += 2
            else:
                i += 1
            continue
        if string:
            line_has_code = line_has_code or not c.isspace()
            if string == '"""':
                if text.startswith('"""', i):
                    # a run of quotes closes on its last three
                    j = i
                    while j < len(text) and text[j] == '"':
                        j += 1
                    string = None
                    i = j
                    continue
            elif c == "\\":
                i += 2
                continue
            elif c == string:
                string = None
            i += 1
            continue
        if text.startswith("//", i):
            while i < len(text) and text[i] != "\n":
                i += 1
            continue
        if text.startswith("/*", i):
            depth = 1
            i += 2
            continue
        if not c.isspace():
            line_has_code = True
        if text.startswith('"""', i):
            string = '"""'
            i += 3
            continue
        if c == '"':
            string = '"'
        elif c == "'" and is_char_literal(text, i):
            string = "'"
        i += 1
    return n + line_has_code


def is_char_literal(text, i):
    """True for 'x' and '\\n' forms; False for symbols like 'name."""
    if text.startswith("\\", i + 1):
        return True
    return i + 2 < len(text) and text[i + 2] == "'"


def git(*args):
    return subprocess.run(("git",) + args, cwd=ROOT, check=True,
                          capture_output=True).stdout


def count_at(rev, paths):
    out = {}
    for d in paths:
        names = git("ls-tree", "-r", "--name-only", rev, "--", d).decode()
        out[d] = sum(code_lines(git("show", f"{rev}:{p}").decode("utf-8"))
                     for p in names.split("\n") if p.endswith(".scala"))
    return out


def count_worktree(paths):
    out = {}
    for d in paths:
        full = os.path.join(ROOT, d)
        if os.path.isfile(full):
            found = [full]
        else:
            found = [os.path.join(base, f)
                     for base, _, files in os.walk(full) for f in files]
        total = 0
        for p in found:
            if p.endswith(".scala"):
                with open(p, encoding="utf-8") as fh:
                    total += code_lines(fh.read())
        out[d] = total
    return out


def main():
    rev = sys.argv[1] if len(sys.argv) > 1 else "HEAD"
    paths = sys.argv[2:] or DIRS
    at, now = count_at(rev, paths), count_worktree(paths)
    names = [os.path.basename(p) if p.endswith(".scala") else p
             for p in paths]
    w = max(10, *(len(n) + 2 for n in names))
    print(f"{'':>12}" + "".join(f"{n:>{w}}" for n in names))
    print(f"{rev[:12]:>12}" + "".join(f"{at[d]:>{w}}" for d in paths))
    print(f"{'worktree':>12}" + "".join(f"{now[d]:>{w}}" for d in paths))
    print(f"{'change':>12}" + "".join(f"{now[d] - at[d]:>+{w}}" for d in paths))


if __name__ == "__main__":
    main()
