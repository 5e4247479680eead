#!/usr/bin/env python3
"""List the defs, objects, classes and traits in src/main that nothing uses.

A name counts as used when it occurs, as a whole word, in src/main or in
perfbench/src more often than it is defined there. Comments are ignored;
string literals are not (SQL text names registered functions), so a name
that only a string mentions counts as used, except an expression's own
`prettyName` line, which names it without using it. Overrides and `main` are entry
points and are skipped. Run from the repository root:

    python3 tools/unused_defs.py
    python3 tools/unused_defs.py --check tools/unused_defs.keep

Without arguments it prints one `path:line kind name` per unused
definition, sorted. With `--check KEEP` it compares them against a
reviewed keep list, one `path name  # reason` per line (blank lines and
`#` lines are skipped), matched by path and name, not by line. It exits 1
when an unused definition is not on the list, or when a list entry is
used again or gone, so the list says exactly what is kept and why.
"""
import re
import sys
from pathlib import Path

ROOTS = [Path("src/main"), Path("perfbench/src")]
DEF = re.compile(r"^(.*?)\b(def|object|class|trait)\s+([A-Za-z_][A-Za-z0-9_]*)")
WORD = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")
COMMENT = re.compile(r"/\*.*?\*/|//[^\n]*", re.S)


def strip_comments(src):
    # blank the comments but keep their newlines, so line numbers hold
    return COMMENT.sub(lambda m: "\n" * m.group(0).count("\n"), src)


def unused():
    uses, defs = {}, []
    for root in ROOTS:
        for path in sorted(root.rglob("*.scala")):
            code = strip_comments(path.read_text(encoding="utf-8"))
            for line in code.split("\n"):
                if "prettyName" in line:
                    continue  # an expression naming itself is no use
                for word in WORD.findall(line):
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
    return [d for d in sorted(defs) if uses[d[3]] <= sites[d[3]]]


def read_keep(path):
    keep = set()
    for line in Path(path).read_text(encoding="utf-8").splitlines():
        entry = line.split("#", 1)[0].split()
        if entry:
            if len(entry) != 2 or "#" not in line:
                sys.exit(f"{path}: want `path name  # reason`, got: {line}")
            keep.add(tuple(entry))
    return keep


def main(argv):
    found = unused()
    if not argv:
        for path, n, kind, name in found:
            print(f"{path}:{n} {kind} {name}")
        return 0
    if len(argv) != 2 or argv[0] != "--check":
        sys.exit("usage: unused_defs.py [--check KEEP]")
    keep = read_keep(argv[1])
    listed = {(path, name) for path, _, _, name in found}
    bad = [f"unused, not on the keep list: {path}:{n} {kind} {name}"
           for path, n, kind, name in found if (path, name) not in keep]
    bad += [f"on the keep list, but used or gone: {path} {name}"
            for path, name in sorted(keep - listed)]
    for line in bad:
        print(line)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
