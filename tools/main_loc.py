#!/usr/bin/env python3
"""Line delta of src/main against a git ref, split into code, comment and
blank lines.

    python3 tools/main_loc.py REF [--per-file] [--path DIR]
    python3 tools/main_loc.py REF --options [--path DIR]

Compares the Scala sources under DIR (default src/main) at REF with the
working tree. Each line is classed as blank, comment (inside a /* */
block, or starting with //) or code (anything else, including a code line
that ends in a trailing comment). Deleted comments are not a code
reduction, so the code column is the figure to quote.

--options counts options instead: parameters with a default value
(`name: Type = value`) in the parameter lists of every `def` and `case
class`, per changed file and in total, at REF and in the tree. The count
is lexical: comments and string literals are blanked, each parameter list
is split at its top-level commas, and a parameter counts when it holds a
top-level `=` (not part of `=>`, `==`, `<=`, `>=` or `!=`). It does not
resolve overloads or see options passed through a config map, so quote it
as a delta. Needs only git and the standard library.
"""
import argparse
import os
import re
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


_LEXEMES = re.compile(
    r'"""[\s\S]*?"""'
    r'|"(?:\\.|[^"\\\n])*"'
    r"|'(?:\\.|[^'\\\n])'"
    r"|//[^\n]*"
    r"|/\*[\s\S]*?\*/")
_OWNER = re.compile(r"\b(?:def\s+[^\s(\[:=]+|case\s+class\s+\w+)")
_OPEN, _CLOSE = "([{", ")]}"


def _blank(text):
    """`text` with comments and string and char literals blanked."""
    return _LEXEMES.sub(lambda m: " " * len(m.group(0)), text)


def _group(text, i):
    """End index (exclusive) of the bracket group opening at text[i]."""
    depth = 0
    for j in range(i, len(text)):
        if text[j] in _OPEN:
            depth += 1
        elif text[j] in _CLOSE:
            depth -= 1
            if depth == 0:
                return j + 1
    return len(text)


def _has_default(param):
    depth = 0
    for j, ch in enumerate(param):
        if ch in _OPEN:
            depth += 1
        elif ch in _CLOSE:
            depth -= 1
        elif ch == "=" and depth == 0:
            nxt = param[j + 1:j + 2]
            prev = param[j - 1:j] if j else ""
            if nxt not in (">", "=") and prev not in ("=", "<", ">", "!"):
                return True
    return False


def _split_top(body):
    parts, depth, start = [], 0, 0
    for j, ch in enumerate(body):
        if ch in _OPEN:
            depth += 1
        elif ch in _CLOSE:
            depth -= 1
        elif ch == "," and depth == 0:
            parts.append(body[start:j])
            start = j + 1
    parts.append(body[start:])
    return parts


def options(text):
    """Parameters with a default value in `def` and `case class` lists."""
    text = _blank(text)
    n = 0
    for m in _OWNER.finditer(text):
        i = m.end()
        while True:
            while i < len(text) and text[i].isspace():
                i += 1
            if i >= len(text) or text[i] not in "([":
                break
            end = _group(text, i)
            if text[i] == "(":
                n += sum(_has_default(p) for p in _split_top(text[i + 1:end - 1]))
            i = end
    return n


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
    ap.add_argument("--options", action="store_true",
                    help="count parameters with a default value instead")
    a = ap.parse_args()
    top = git("rev-parse", "--show-toplevel").strip()
    os.chdir(top)
    if a.options:
        return report_options(a.ref, a.path)
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


def report_options(ref, path):
    before = {f: options(t) for f, t in at_ref(ref, path).items()}
    after = {f: options(t) for f, t in in_tree(path).items()}
    fmt = "{:<60} {:>8} {:>8} {:>8}"
    print(fmt.format(f"{path} options vs {ref}", "before", "after", "delta"))
    for f in sorted(set(before) | set(after)):
        b, n = before.get(f, 0), after.get(f, 0)
        if b != n:
            print(fmt.format(f, b, n, f"{n - b:+d}"))
    tb, ta = sum(before.values()), sum(after.values())
    print(fmt.format("total", tb, ta, f"{ta - tb:+d}"))
    return 0


if __name__ == "__main__":
    sys.exit(main())
