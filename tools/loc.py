#!/usr/bin/env python3
"""Code-line delta of src/main between two git revisions.

Usage: tools/loc.py BASE [HEAD]

Prints, per changed file under src/main, the added (+) and removed (-) code
lines, then the totals and the net change. A code line is any line that is
not blank and whose trimmed text does not start with //, /*, * or */.
Without HEAD the working tree is compared (untracked files under src/main
count as added in full).
"""
import os
import subprocess
import sys
from collections import defaultdict

ROOT = "src/main"


def is_code(line):
    t = line.strip()
    return bool(t) and not t.startswith(("//", "/*", "*"))


def git(*args):
    return subprocess.run(["git", *args], check=True, capture_output=True,
                          text=True).stdout


def main(argv):
    if not 2 <= len(argv) <= 3:
        sys.exit(__doc__)
    revs = argv[1:]
    os.chdir(git("rev-parse", "--show-toplevel").strip())
    counts = defaultdict(lambda: [0, 0])
    path, header = None, False
    for line in git("diff", "--no-renames", "-U0", *revs, "--", ROOT).splitlines():
        if line.startswith("diff --git "):
            path, header = line.split(" b/", 1)[1], True
        elif line.startswith("@@"):
            header = False
        elif header:
            continue
        elif line.startswith("+") and is_code(line[1:]):
            counts[path][0] += 1
        elif line.startswith("-") and is_code(line[1:]):
            counts[path][1] += 1
    if len(revs) == 1:
        for name in git("ls-files", "--others", "--exclude-standard", "--", ROOT).split():
            with open(name, encoding="utf-8", errors="replace") as f:
                counts[name][0] += sum(1 for l in f if is_code(l))
    plus = minus = 0
    for name in sorted(counts):
        a, r = counts[name]
        if a or r:
            print(f"{'+' + str(a):>6} {'-' + str(r):>6}  {name}")
        plus += a
        minus += r
    print(f"{'+' + str(plus):>6} {'-' + str(minus):>6}  total (net {plus - minus:+d})")


if __name__ == "__main__":
    main(sys.argv)
