#!/usr/bin/env python3
"""Line delta of src/main against a git ref, split into code, comment and
blank lines.

    python3 tools/main_loc.py REF [--per-file] [--path DIR]

Compares the Scala sources under DIR (default src/main) at REF with the
working tree. Each line is classed as blank, comment (inside a /* */
block, or starting with //) or code (anything else, including a code line
that ends in a trailing comment). Deleted comments are not a code
reduction, so the code column is the figure to quote. Needs only git and
the standard library.
"""
import argparse
import os
import subprocess
import sys


def classify(text):
    """Return (code, comment, blank) line counts of one Scala source."""
    code = comment = blank = 0
    in_block = False
    for raw in text.splitlines():
        line = raw.strip()
        if in_block:
            comment += 1
            if "*/" in line:
                in_block = False
                if line.split("*/", 1)[1].strip():
                    comment -= 1
                    code += 1
            continue
        if not line:
            blank += 1
        elif line.startswith("//"):
            comment += 1
        elif line.startswith("/*"):
            comment += 1
            if "*/" not in line[2:]:
                in_block = True
            elif line.split("*/", 1)[1].strip():
                comment -= 1
                code += 1
        else:
            code += 1
    return code, comment, blank


def git(*args):
    return subprocess.run(["git", *args], check=True, capture_output=True,
                          text=True).stdout


def at_ref(ref, path):
    files = git("ls-tree", "-r", "--name-only", ref, "--", path).split()
    return {f: git("show", f"{ref}:{f}") for f in files if f.endswith(".scala")}


def in_tree(path):
    out = {}
    for root, _, names in os.walk(path):
        for n in names:
            if n.endswith(".scala"):
                f = os.path.join(root, n)
                with open(f, encoding="utf-8") as fh:
                    out[os.path.relpath(f)] = fh.read()
    return out


def totals(files):
    per = {f: classify(t) for f, t in files.items()}
    tot = tuple(sum(c[i] for c in per.values()) for i in range(3))
    return per, tot


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("ref")
    ap.add_argument("--path", default="src/main")
    ap.add_argument("--per-file", action="store_true")
    a = ap.parse_args()
    top = git("rev-parse", "--show-toplevel").strip()
    os.chdir(top)
    before, tb = totals(at_ref(a.ref, a.path))
    after, ta = totals(in_tree(a.path))
    fmt = "{:<60} {:>8} {:>8} {:>8} {:>8}"
    print(fmt.format(f"{a.path} vs {a.ref}", "code", "comment", "blank", "total"))
    if a.per_file:
        for f in sorted(set(before) | set(after)):
            b = before.get(f, (0, 0, 0))
            n = after.get(f, (0, 0, 0))
            d = [n[i] - b[i] for i in range(3)]
            if any(d):
                print(fmt.format(f, *(f"{x:+d}" for x in d + [sum(d)])))
    print(fmt.format("before", *tb, sum(tb)))
    print(fmt.format("after", *ta, sum(ta)))
    d = [ta[i] - tb[i] for i in range(3)]
    print(fmt.format("delta", *(f"{x:+d}" for x in d + [sum(d)])))
    return 0


if __name__ == "__main__":
    sys.exit(main())
