#!/usr/bin/env python3
"""Repeated-code report for the Scala sources.

A *code line* is a source line with comments (`//`, `/* */`) removed
that still holds something besides brackets, commas and semicolons, and
that has no part of a triple-quoted string (SQL text and codegen
templates are not counted). Lines compare with whitespace runs
collapsed. A code line counts as *repeated* when it lies inside
a window of WINDOW = 5 consecutive code lines that already occurred
earlier -- earlier in the same file, or in a file that sorts before it.

    python3 tools/clones.py [root] [--list FILE...]

Prints one `count path` row per file with repeated lines, then the
total. `--list` also prints, for the named files (paths as printed),
every run of repeated lines with the place its first window occurred
before, so each remaining clone can be named and explained.
Standard library only.
"""
import argparse
import os
import sys

WINDOW = 5


def code_lines(text):
    """(line number, normalized code) for every code line of a Scala file."""
    out = []
    i, n, line = 0, len(text), 1
    buf, buf_line = [], 1
    state = None  # None | 'block' | 'triple' | 'str'
    depth = 0

    def flush():
        s = "".join(buf)
        if s.strip("{}()[],; \t") and '"""' not in s:
            out.append((buf_line, " ".join(s.split())))

    while i < n:
        c = text[i]
        if c == "\n":
            if state == 'str':
                state = None  # unterminated single-line string
            if state == 'triple':
                buf.append('"""')  # the literal spans this line
            flush()
            buf, line = [], line + 1
            buf_line = line
            i += 1
            continue
        if state == 'block':
            if text.startswith("/*", i):
                depth += 1
                i += 2
            elif text.startswith("*/", i):
                depth -= 1
                i += 2
                if depth == 0:
                    state = None
            else:
                i += 1
            continue
        if state == 'triple':
            if text.startswith('"""', i):
                # a run of quotes closes on its last three
                j = i
                while j < n and text[j] == '"':
                    j += 1
                buf.append('"""')
                state = None
                i = j
            else:
                i += 1
            continue
        if state == 'str':
            buf.append(c)
            if c == "\\" and i + 1 < n:
                buf.append(text[i + 1])
                i += 2
                continue
            if c == '"':
                state = None
            i += 1
            continue
        if text.startswith("//", i):
            while i < n and text[i] != "\n":
                i += 1
            continue
        if text.startswith("/*", i):
            state, depth = 'block', 1
            i += 2
            continue
        if text.startswith('"""', i):
            buf.append('"""')
            state = 'triple'
            i += 3
            continue
        if c == '"':
            buf.append(c)
            state = 'str'
            i += 1
            continue
        if c == "'" and i + 2 < n and (text[i + 2] == "'" or
                                       (text[i + 1] == "\\" and i + 3 < n and text[i + 3] == "'")):
            j = text.index("'", i + 2 if text[i + 1] != "\\" else i + 3)
            buf.append(text[i:j + 1])
            i = j + 1
            continue
        buf.append(c)
        i += 1
    flush()
    return out


def scala_files(root):
    for d, _, fs in os.walk(root):
        for f in fs:
            if f.endswith(".scala"):
                yield os.path.join(d, f)


def report(root):
    """{path: repeated code-line count} and {path: [(first line, last
    line, (path, line) of the first earlier occurrence)]}, one entry per
    run of overlapping repeated windows."""
    seen = {}
    runs, counts = {}, {}
    for path in sorted(scala_files(root)):
        with open(path, encoding="utf-8") as fh:
            lines = code_lines(fh.read())
        rel = os.path.relpath(path, root)
        hit, mine = set(), []
        for k in range(len(lines) - WINDOW + 1):
            key = tuple(code for _, code in lines[k:k + WINDOW])
            first = seen.get(key)
            if first is None:
                seen[key] = (rel, lines[k][0])
                continue
            hit.update(range(k, k + WINDOW))
            if mine and k <= mine[-1][1]:
                mine[-1][1] = k + WINDOW - 1
            else:
                mine.append([k, k + WINDOW - 1, first])
        if hit:
            counts[rel] = len(hit)
            runs[rel] = [(lines[a][0], lines[b][0], f) for a, b, f in mine]
    return counts, runs


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("root", nargs="?", default="src/main")
    ap.add_argument("--list", nargs="*", default=[],
                    help="files whose repeated windows to list")
    a = ap.parse_args(argv)
    counts, runs = report(a.root)
    for rel in sorted(counts, key=lambda r: (-counts[r], r)):
        print(f"{counts[rel]:6d} {rel}")
    print(f"{sum(counts.values()):6d} total ({a.root})")
    for rel in a.list:
        for lo, hi, (fpath, fline) in runs.get(rel, []):
            print(f"{rel}:{lo}-{hi} repeats {fpath}:{fline}")


if __name__ == "__main__":
    main(sys.argv[1:])
