#!/usr/bin/env python3
"""List the public members of `src/main` objects that nothing else names.

A member is a top-level `def`, `val`, `var` or `lazy val` of an `object`
(package objects and nested objects included) with no `private` or
`protected` modifier. It is unreached when its name occurs, as a whole
identifier and with comments stripped, in no other `src/main` file and
in no file under `perfbench/src`. Uses of a member inside its own file
do not count, so a public helper called only next to its definition is
listed too.

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


def members(code, bare):
    """(line, name) of each public top-level member of an object body."""
    out, kinds, depth, pending = [], {}, 0, None
    for lineno, (cl, bl) in enumerate(zip(code.split("\n"), bare.split("\n")), 1):
        m = MEMBER.match(cl)
        if m and kinds.get(depth) == "object" and not re.search(r"\b(?:private|protected)\b", m.group(1)):
            out.append((lineno, m.group(2)))
        s = SCOPE.match(bl)
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
                depth -= 1
    return out


def main():
    root = Path(sys.argv[1] if len(sys.argv) > 1 else Path(__file__).resolve().parent.parent)
    mains = sorted((root / "src" / "main").rglob("*.scala"))
    others = sorted((root / "perfbench" / "src").rglob("*.scala"))
    stripped = {p: strip(p.read_text(encoding="utf-8")) for p in mains + others}
    words = {p: set(re.findall(r"[A-Za-z_][A-Za-z0-9_$]*", code)) for p, (code, _) in stripped.items()}
    found = []
    for p in mains:
        for line, name in members(*stripped[p]):
            if not any(name in words[q] for q in words if q != p):
                found.append((str(p.relative_to(root)), line, name))
    for f, line, name in sorted(found):
        print(f"{f}:{line} {name}")
    print(f"== {len(found)} unreached")


if __name__ == "__main__":
    main()
