#!/usr/bin/env python3
"""Members of `src/main` objects that no query, driver or benchmark reaches.

A *member* is a `def`, `val`, `var`, `class`, `trait`, `object` or `type`
declared directly in the body of a top-level `object` under
`src/main/scala`; a top-level `class`, `object` or `trait` is listed
too when no other file names it and its own file only declares it. A
member is *reached* when any of these holds:

  - another `src/main` file references it qualified (`Obj.name`), or
    imports `Obj._` / `Obj.{..., name, ...}` and names it bare;
  - its own file names it outside comments more often than it declares
    that name (declarations of a local with the same name count too);
  - a `perfbench/` source references it the way another file would.

String literals are searched like code, because generated Java code
calls helpers by qualified name from inside a string
(`MinhashUtil.sig`, `TextGateUtil.nullQuality`). Members that the
runtime or the external driver calls by convention are never listed:
`override` and `implicit` members, `main`, `apply`/`unapply`, and the
ENTRY_POINTS below (the driver contract calls `SparkEntry.entry` by
name). The test tree does not count: a member only `src/test` calls is
listed.

    python3 tools/unreached.py [root]

Prints one `path: Obj.member` (or `path: Name`) row per unreached
definition, then the count. It lists roots only: a member that only an
unreached member uses counts as reached until that root is deleted.
Standard library only.
"""
import os
import re
import sys

ENTRY_POINTS = {"SparkEntry.entry"}
CONVENTION = {"main", "apply", "unapply"}

DECL = re.compile(
    r"\b((?:(?:private|protected)(?:\[\w+\])?\s+|final\s+|implicit\s+|"
    r"lazy\s+|override\s+|sealed\s+|abstract\s+|case\s+)*)"
    r"(def|val|var|class|trait|object|type)\s+([A-Za-z_]\w*)")
TOP_OBJECT = re.compile(r"\b(?:case\s+)?object\s+([A-Za-z_]\w*)")


def strip(text):
    """(code, skeleton) of a Scala source, both the length of `text`.

    `code` blanks comments; `skeleton` also blanks string contents, so
    braces and keywords inside strings do not count as structure."""
    code, skel = list(text), list(text)
    i, n = 0, len(text)

    def blank(a, b, both):
        for k in range(a, b):
            if text[k] != "\n":
                skel[k] = " "
                if both:
                    code[k] = " "

    while i < n:
        if text.startswith("//", i):
            j = text.find("\n", i)
            j = n if j < 0 else j
            blank(i, j, True)
            i = j
        elif text.startswith("/*", i):
            depth, j = 1, i + 2
            while j < n and depth:
                if text.startswith("/*", j):
                    depth, j = depth + 1, j + 2
                elif text.startswith("*/", j):
                    depth, j = depth - 1, j + 2
                else:
                    j += 1
            blank(i, j, True)
            i = j
        elif text.startswith('"""', i):
            j = text.find('"""', i + 3)
            j = n if j < 0 else j + 3
            while j < n and text[j] == '"':
                j += 1
            blank(i, j, False)
            i = j
        elif text[i] == '"':
            j = i + 1
            while j < n and text[j] not in '"\n':
                j += 2 if text[j] == "\\" else 1
            blank(i, j + 1, False)
            i = j + 1
        elif text[i] == "'" and i + 2 < n and (
                text[i + 2] == "'" or text[i + 1] == "\\"):
            j = text.find("'", i + 2 if text[i + 1] == "\\" else i + 1)
            blank(i, j + 1, False)
            i = j + 1
        else:
            i += 1
    return "".join(code), "".join(skel)


def depths(skel):
    """Brace depth before each character of the skeleton."""
    out, d = [], 0
    for ch in skel:
        out.append(d)
        if ch == "{":
            d += 1
        elif ch == "}":
            d -= 1
    return out


def members(skel):
    """[(object, member, modifiers)] declared directly in top-level objects."""
    dep = depths(skel)
    out = []
    for m in TOP_OBJECT.finditer(skel):
        if dep[m.start()] != 0:
            continue
        body = skel.find("{", m.end())
        if body < 0 or not re.fullmatch(r"(\s+extends\b[^{]*)?\s*",
                                        skel[m.end():body]):
            continue  # no body of its own
        end = body + 1
        while end < len(skel) and dep[end] > 0:
            end += 1
        out += [(m.group(1), d.group(3), d.group(1))
                for d in DECL.finditer(skel, body + 1, end)
                if dep[d.start()] == 1]
    return out


class Refs:
    """What one file's code names: qualified `A.b` pairs, bare words and
    the objects whose members it imports."""

    def __init__(self, code):
        # overlapping, so a.b.C.d yields (C, d) as well as (a, b)
        self.pairs = set(re.findall(r"\b(?=(\w+)\s*\.\s*(\w+))", code))
        self.words = {}
        for w in re.findall(r"\b\w+\b", code):
            self.words[w] = self.words.get(w, 0) + 1
        self.imports = {}  # object -> None (all members) or selected names
        for obj, sel in re.findall(
                r"\bimport\s+[\w.]*?\b(\w+)\.(_|\{[^}]*\})", code):
            names = set(re.findall(r"\w+", sel))
            prev = self.imports.get(obj, set())
            self.imports[obj] = (None if "_" in names or prev is None
                                 else prev | names)

    def reaches(self, obj, name):
        """Whether this (other) file references obj.name."""
        if (obj, name) in self.pairs:
            return True
        if obj not in self.imports or name not in self.words:
            return False
        sel = self.imports[obj]
        return sel is None or name in sel


def scala_files(top):
    for d, _, fs in os.walk(top):
        for f in sorted(fs):
            if f.endswith(".scala"):
                yield os.path.join(d, f)


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else "."
    main_dir = os.path.join(root, "src", "main", "scala")
    files = {}
    for p in sorted(scala_files(main_dir)):
        with open(p, encoding="utf-8") as f:
            code, skel = strip(f.read())
        files[os.path.relpath(p, main_dir)] = (Refs(code), skel)
    bench = []
    for p in scala_files(os.path.join(root, "perfbench", "src")):
        with open(p, encoding="utf-8") as f:
            bench.append(Refs(strip(f.read())[0]))
    unreached = []
    for path, (refs, skel) in files.items():
        declared = {}
        for d in DECL.finditer(skel):
            declared[d.group(3)] = declared.get(d.group(3), 0) + 1
        others = [r for p, (r, _) in files.items() if p != path] + bench
        dep = depths(skel)
        mains = {obj for obj, name, _ in members(skel) if name == "main"}
        for d in DECL.finditer(skel):
            name = d.group(3)
            if (dep[d.start()] == 0 and d.group(2) in ("class", "object", "trait")
                    and refs.words.get(name, 0) <= declared[name]
                    and not any(name in r.words for r in others)
                    and name not in mains):
                unreached.append("%s: %s" % (path, name))
        for obj, name, mods in members(skel):
            if ("override" in mods or "implicit" in mods or name in CONVENTION
                    or "%s.%s" % (obj, name) in ENTRY_POINTS):
                continue
            if refs.words.get(name, 0) > declared.get(name, 0):
                continue
            if any(r.reaches(obj, name) for r in others):
                continue
            unreached.append("%s: %s.%s" % (path, obj, name))
    for row in sorted(set(unreached)):
        print(row)
    print("%d unreached" % len(set(unreached)))


if __name__ == "__main__":
    main()
