#!/usr/bin/env python3
"""List the public defs in src/main that nothing outside src/test reaches.

Usage: tools/reach.py [ROOT]

A def is listed when it is a public, non-`override` `def` in a src/main Scala
file and its name appears as a word (comments stripped) in no other src/main
file, nowhere else in its own file, and nowhere in perfbench/src. Tests do
not count as callers: code that only a spec calls is not part of any
workload. Each listed def prints as `file:line name`; the exit status is 1
when the list is non-empty. ROOT defaults to the repository root.

The check is one pass over words, not a call graph: a def whose only caller
is itself unreached is not listed until that caller goes.
"""
import os
import re
import sys
from collections import Counter

# Defs kept on purpose although no workload calls them, one reason each.
ALLOW = {
    "entryCount": "test hook: PlanIndexSpec counts the memo's live entries",
    "lineageOf": "test hook: TileIceSpec reads a commit's lineage record",
    "fzkV1": "test hook: the CityGML 1.0 fixture path",
    "decodeMeta": "per-row decode check of the input_hint payload contract",
    "verifyPayload": "per-row PSNR >= 40 dB / caption check of the input_hint contract",
    "intersects3D": "reference AABB predicate (Neo4jDB.java:378-380) that GeomSpec pins",
    "matchBbox": "reference volume-overlap bbox match (CityGMLV2DB.java:339-381) that GeomSpec pins",
    "unpack": "inverse of Tiles.pack for readers of tile_id columns; CellGridSpec pins the round trip",
    "enable": "attaches the SQL rules to an already-built session; workloads pass the "
              "GraftExtensions class to the session builder instead",
}

DEF = re.compile(r"^\s*((?:(?:@\w+|final|implicit|inline|private(?:\[\w+\])?|"
                 r"protected(?:\[\w+\])?|override|lazy|abstract)\s+)*)def\s+([A-Za-z_]\w*)")
COMMENT = re.compile(r"//[^\n]*|/\*.*?\*/", re.S)
STRING = re.compile(r'"""(?:.|\n)*?"""|"(?:\\.|[^"\\\n])*"|\'(?:\\.|[^\'\\\n])\'')


def strip_comments(text):
    # keep string and char literals (a name in a SQL string is a use) while
    # dropping comments; a `//` inside a string literal must not start a
    # comment, and a '"' char literal must not open a string
    out, pos = [], 0
    for m in STRING.finditer(text):
        out.append(COMMENT.sub(lambda c: "\n" * c.group().count("\n"), text[pos:m.start()]))
        out.append(m.group())
        pos = m.end()
    out.append(COMMENT.sub(lambda c: "\n" * c.group().count("\n"), text[pos:]))
    return "".join(out)


def scala_sources(root, sub):
    """{path: source text with comments stripped} for the Scala files under sub."""
    out = {}
    for d, _, names in os.walk(os.path.join(root, sub)):
        for n in names:
            if n.endswith(".scala"):
                p = os.path.join(d, n)
                with open(p, encoding="utf-8") as f:
                    out[p] = strip_comments(f.read())
    return out


def words(texts):
    return Counter(w for t in texts for w in re.findall(r"[A-Za-z_]\w*", t))


def main(argv):
    if len(argv) > 2:
        sys.exit(__doc__)
    root = argv[1] if len(argv) == 2 else os.path.join(os.path.dirname(__file__), "..")
    root = os.path.abspath(root)
    main_files = scala_sources(root, "src/main")
    total = words(main_files.values())
    bench = words(scala_sources(root, "perfbench/src").values())
    unreached = []
    for p, text in sorted(main_files.items()):
        for lineno, line in enumerate(text.splitlines(), 1):
            m = DEF.match(line)
            if not m or re.search(r"\b(private|protected|override)\b", m.group(1)):
                continue
            name = m.group(2)
            if name in ALLOW or name in bench:
                continue
            # one occurrence in the whole of src/main: the definition itself
            if total[name] == 1:
                unreached.append((os.path.relpath(p, root), lineno, name))
    for path, lineno, name in unreached:
        print(f"{path}:{lineno} {name}")
    sys.exit(1 if unreached else 0)


if __name__ == "__main__":
    main(sys.argv)
