#!/usr/bin/env python3
"""List the public members of `src/main` objects that no entry point reaches.

A member is a top-level `def`, `val`, `var` or `lazy val` of an `object`
(package objects and nested objects included) with no `private` or
`protected` modifier. Reach is transitive over names. The roots are the
`SparkEntry` catalogue (the public members of `SparkEntry.scala`), every
`main`, each streaming module's `start` and `processBatch`, and every name
used under `perfbench/src`. A reached definition reaches every definition,
in any `src/main` file, whose name occurs as a whole identifier in its
body (comments stripped). A definition is an object member of any
visibility, or a class, trait or nested object, whose body is all of it;
a top-level object is only the container of its members. A member is
unreached when no chain of such names leads to it from a root, so a
member called only from specs, or only from other unreached members, is
listed.

Prints one `<file>:<line> <name>` per unreached member, sorted by file
and line, then a total; two runs over the same tree print the same
output. Standard library only.

Usage: python3 tools/unreached.py [repo_root]
"""
import re
import sys
from pathlib import Path

IDENT = r"[A-Za-z_][A-Za-z0-9_$]*"
MODS = r"(?:(?:override|final|implicit|lazy|inline|(?:private|protected)(?:\[\w+\])?)\s+|@\w+(?:\([^)]*\))?\s+)*"
MEMBER = re.compile(rf"^\s*({MODS})(?:def|val|var)\s+({IDENT})")
SCOPE = re.compile(rf"^\s*{MODS}(?:(?:case|abstract|sealed)\s+)*(package\s+object|object|class|trait)\b")


def strip(text):
    """(text without comments, text without comments or string bodies),
    both keeping every newline so line numbers survive."""
    code, bare = [], []
    i, n, depth = 0, len(text), 0

    def emit(s, in_string=False):
        code.append(s)
        bare.append("".join(c if c == "\n" else " " for c in s) if in_string else s)

    while i < n:
        if text.startswith("/*", i):
            depth, j = 1, i + 2
            while j < n and depth:
                if text.startswith("/*", j):
                    depth, j = depth + 1, j + 2
                elif text.startswith("*/", j):
                    depth, j = depth - 1, j + 2
                else:
                    j += 1
            gap = "\n" * text.count("\n", i, j)
            code.append(gap)
            bare.append(gap)
            i = j
        elif text.startswith("//", i):
            j = text.find("\n", i)
            i = n if j < 0 else j
        elif text.startswith('"""', i):
            j = text.find('"""', i + 3)
            j = n if j < 0 else j + 3
            while j < n and text[j] == '"':
                j += 1
            emit('"""', False)
            emit(text[i + 3:j - 3], True)
            emit('"""', False)
            i = j
        elif text[i] == '"':
            j = i + 1
            while j < n and text[j] not in '"\n':
                j += 2 if text[j] == "\\" else 1
            emit('"')
            emit(text[i + 1:j], True)
            emit('"')
            i = j + 1
        elif text[i] == "'" and re.match(r"'(?:\\.|\\u[0-9a-fA-F]{4}|[^\\'\n])'", text[i:i + 8]):
            j = text.index("'", i + 2 if text[i + 1] == "\\" else i + 1) + 1
            emit(text[i:j], True)
            i = j
        else:
            emit(text[i])
            i += 1
    return "".join(code), "".join(bare)


def definitions(code, bare):
    """Each definition of a file as [name, line, listed, body]: `listed`
    marks a public object member, `body` is its code text (with nested
    definitions of a member or class folded in; an object member's own
    members are definitions of their own)."""
    out, kinds, depth, pending, active = [], {}, 0, None, {}
    for lineno, (cl, bl) in enumerate(zip(code.split("\n"), bare.split("\n")), 1):
        m = MEMBER.match(cl)
        s = SCOPE.match(bl)
        if m and kinds.get(depth) == "object":
            public = not re.search(r"\b(?:private|protected)\b", m.group(1))
            active[depth] = [m.group(2), lineno, public, []]
            out.append(active[depth])
        elif s:
            name = re.search(rf"(?:object|class|trait)\s+({IDENT})", bl)
            top_object = depth == 0 and "object" in s.group(1)
            active[depth] = None if top_object or not name else [name.group(1), lineno, False, []]
            if active[depth]:
                out.append(active[depth])
        owner = next((active[d] for d in range(depth, -1, -1) if active.get(d)), None)
        if owner:
            owner[3].append(cl)
        if s:
            pending = ("object" if "object" in s.group(1) else "class", depth)
        elif m:
            pending = None
        for c in bl:
            if c == "{":
                depth += 1
                kinds[depth] = pending[0] if pending and pending[1] == depth - 1 else "other"
                pending = None
            elif c == "}":
                for d in [d for d in active if d >= depth]:
                    del active[d]
                depth -= 1
    return out


def identifiers(text):
    return set(re.findall(IDENT, text))


def main():
    root = Path(sys.argv[1] if len(sys.argv) > 1 else Path(__file__).resolve().parent.parent)
    mains = sorted((root / "src" / "main").rglob("*.scala"))
    defs = []  # (file, name, line, listed, identifiers of the body)
    for p in mains:
        rel = str(p.relative_to(root))
        for name, line, listed, body in definitions(*strip(p.read_text(encoding="utf-8"))):
            defs.append((rel, name, line, listed, identifiers("\n".join(body))))
    by_name = {}
    for i, d in enumerate(defs):
        by_name.setdefault(d[1], []).append(i)
    names = set()
    for p in sorted((root / "perfbench" / "src").rglob("*.scala")):
        names |= identifiers(strip(p.read_text(encoding="utf-8"))[0])
    frontier = [i for i, (f, name, _, listed, _) in enumerate(defs)
                if (f.endswith("/SparkEntry.scala") and listed) or name == "main"
                or ("/streaming/" in f and name in ("start", "processBatch"))]
    frontier += [i for n in names for i in by_name.get(n, [])]
    reached = set()
    while frontier:
        i = frontier.pop()
        if i in reached:
            continue
        reached.add(i)
        for n in defs[i][4] - names:
            names.add(n)
            frontier += by_name.get(n, [])
    found = sorted((f, line, name) for i, (f, name, line, listed, _) in enumerate(defs)
                   if listed and i not in reached)
    for f, line, name in found:
        print(f"{f}:{line} {name}")
    print(f"== {len(found)} unreached")


if __name__ == "__main__":
    main()
