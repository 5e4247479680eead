#!/usr/bin/env python3
"""List the defs, objects, classes and traits in src/main that nothing uses.

A name counts as used when it occurs, as a whole word, in src/main or in
perfbench/src more often than it is defined there. Comments are ignored;
string literals are not (SQL text names registered functions), so a name
that only a string mentions counts as used. Overrides and `main` are entry
points and are skipped. Run from the repository root:

    python3 tools/unused_defs.py

Prints one `path:line kind name` per unused definition, sorted.
"""
import re
from pathlib import Path

ROOTS = [Path("src/main"), Path("perfbench/src")]
DEF = re.compile(r"^(.*?)\b(def|object|class|trait)\s+([A-Za-z_][A-Za-z0-9_]*)")
WORD = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")
COMMENT = re.compile(r"/\*.*?\*/|//[^\n]*", re.S)


def strip_comments(src):
    # blank the comments but keep their newlines, so line numbers hold
    return COMMENT.sub(lambda m: "\n" * m.group(0).count("\n"), src)


def main():
    uses, defs = {}, []
    for root in ROOTS:
        for path in sorted(root.rglob("*.scala")):
            code = strip_comments(path.read_text(encoding="utf-8"))
            for word in WORD.findall(code):
                uses[word] = uses.get(word, 0) + 1
            if root != ROOTS[0]:
                continue
            for n, line in enumerate(code.split("\n"), 1):
                m = DEF.match(line)
                if m and "override" not in m.group(1) and m.group(3) != "main":
                    defs.append((str(path), n, m.group(2), m.group(3)))
    sites = {}
    for _, _, _, name in defs:
        sites[name] = sites.get(name, 0) + 1
    for path, n, kind, name in sorted(defs):
        if uses[name] <= sites[name]:
            print(f"{path}:{n} {kind} {name}")


if __name__ == "__main__":
    main()
