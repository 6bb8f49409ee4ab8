#!/usr/bin/env python3
"""List operator definitions that nothing in src/main reaches.

A definition is a top-level type of a file under
src/main/scala/graft/{ops,functions}, or a member of a top-level object
there (nested objects included). It is unreached when no code in
src/main names it outside comments, outside its own body and outside
the bodies of other unreached definitions, so code that only dead code
calls is found too. A member of object `O` is named by `O.name`, or by
a bare `name` in its own file or in a file that imports it from `O`.
Overloads count as one definition. Prints `file:line O.name` for each
and exits 1 if there is any.

Usage: python3 tools/unreached.py
"""
import re
import sys
from pathlib import Path

MAIN = Path(__file__).resolve().parents[1] / "src" / "main"
COMMENT = re.compile(r'"""[\s\S]*?"""|"(?:\\.|[^"\\\n])*"|\'(?:\\.|[^\'\\\n])\''
                     r"|//[^\n]*|/\*[\s\S]*?\*/")
DEF = re.compile(r"^[ \t]*((?:(?:private|protected)(?:\[\w+\])?\s+"
                 r"|(?:final|sealed|abstract|lazy|case|override|implicit)\s+)*)"
                 r"(def|val|var|object|class|trait|type)\s+([A-Za-z_]\w*)", re.M)
QUAL = re.compile(r"(\w+)\s*\.\s*$")


def blank(m, keep_strings):
    return m.group(0) if keep_strings and m.group(0)[0] in "\"'" else re.sub(r"[^\n]", " ", m.group(0))


refs = {}     # name -> [(file, pos, qualifier)]
defs = {}     # (owner, name) -> [(file, line, start, end)]
imports = {}  # file -> {(object, name or "_")}
for path in sorted(MAIN.rglob("*.scala")):
    raw = path.read_text()
    code = COMMENT.sub(lambda m: blank(m, True), raw)  # strings count as references
    bare = COMMENT.sub(lambda m: blank(m, False), raw)  # braces in strings do not nest
    found = list(DEF.finditer(bare))
    named = {m.start(3) for m in found}  # a definition's own name is no reference
    imports[path] = {(o, n) for o, ns in re.findall(r"import\s+[\w.]*?(\w+)\.(\{[^}]*\}|\w+)", bare)
                     for n in re.findall(r"\w+", ns)}
    for m in re.finditer(r"\b[A-Za-z_]\w*", code):
        if m.start() not in named:
            q = QUAL.search(code, max(0, m.start() - 80), m.start())
            refs.setdefault(m.group(0), []).append((path, m.start(), q and q.group(1)))
    if not re.search(r"/graft/(ops|functions)/", str(path)):
        continue
    depth, d = [], 0  # nesting of braces and parentheses: a case class's fields are no members
    for c in bare:
        depth.append(d)
        d += (c in "({") - (c in ")}")
    stack = {}  # depth -> (kind, name) of the latest definition opened there
    for i, m in enumerate(found):
        start, dep = m.start(), depth[m.start()]
        stack[dep] = (m.group(2), m.group(3))
        if re.search(r"override|implicit", m.group(1)) or \
                any(stack.get(k, ("",))[0] != "object" for k in range(dep)):
            continue
        end = next((f.start() for f in found[i + 1:] if depth[f.start()] <= dep), len(bare))
        end = next((p for p in range(start, end) if depth[p] < dep), end)
        owner = stack[dep - 1][1] if dep else None
        if m.group(3) not in {"apply", "unapply", "main"}:
            line = raw.count("\n", 0, start) + 1
            defs.setdefault((owner, m.group(3)), []).append((path, line, start, end))


def names(owner, name, path, qual):
    """Whether an occurrence of `name` in `path`, after `qual.` if any, can name owner's member."""
    if qual is not None:
        return qual == owner or (owner is None and qual in ("ops", "functions"))
    own = {f for f, *_ in defs[(owner, name)]}
    return owner is None or path in own or {(owner, name), (owner, "_")} & imports[path]


dead = set()
while True:
    hidden = [s for key in dead for s in defs[key]]
    fresh = {(o, n) for o, n in defs.keys() - dead
             if not any(names(o, n, p, q) and
                        not any(f == p and a <= pos < b for f, _, a, b in defs[(o, n)] + hidden)
                        for p, pos, q in refs.get(n, []))}
    if not fresh:
        break
    dead |= fresh
for path, line, owner, name in sorted((f, ln, o, n) for o, n in dead for f, ln, _, _ in defs[(o, n)]):
    print(f"{path.relative_to(MAIN.parent.parent)}:{line} {owner + '.' if owner else ''}{name}")
sys.exit(1 if dead else 0)
