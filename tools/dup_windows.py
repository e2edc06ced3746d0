#!/usr/bin/env python3
"""Count the copy-pasted code lines under src/main/scala.

Reads every .scala file under src/main/scala (sorted by path), keeps the
code lines (whitespace runs collapsed to one space; lines starting with
//, /* or * and lines shorter than 4 characters, such as the closer
`})`, skipped) and slides a fixed 6-line window over each file. A
window whose text already appeared at an earlier position, in this file
or an earlier one, is a copy; every line it covers counts once. Prints that total, then the 20 largest copy
pairs (maximal runs of consecutive copied windows) with the file:line
range and enclosing QueryDef/def of both copies, largest first.

Run: python3 tools/dup_windows.py
"""
import os
import re

ROOT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..",
                    "src", "main", "scala")
WINDOW = 6
TOP = 20

# A member of an object or class: two-space indent, then val or def.
MEMBER = re.compile(r"  (?:(?:private|protected)(?:\[\w+\])? |override "
                    r"|final |lazy )*(?:val|def) (\w+)")


def code_lines(path):
    """(line number, collapsed text, enclosing name) per code line."""
    out, owner = [], "-"
    with open(path, encoding="utf-8") as f:
        for n, raw in enumerate(f, 1):
            line = " ".join(raw.split())
            if len(line) < 4 or line.startswith(("//", "/*", "*")):
                continue
            m = MEMBER.match(raw)
            if m:
                owner = m.group(1)
            out.append((n, line, owner))
    return out


def main():
    files = []
    for d, _, names in os.walk(ROOT):
        files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    files.sort()

    first = {}      # window text -> (file index, position)
    copied = set()  # (file index, position) of every copied line
    hits = []       # (file index, position, earlier file index, position)
    lines = []
    for fi, path in enumerate(files):
        cl = code_lines(path)
        lines.append(cl)
        for i in range(len(cl) - WINDOW + 1):
            key = tuple(t for _, t, _ in cl[i:i + WINDOW])
            if key in first:
                copied.update((fi, i + k) for k in range(WINDOW))
                hits.append((fi, i) + first[key])
            else:
                first[key] = (fi, i)

    # Chain each copied window with its successor at both offsets into
    # one maximal pair.
    at = {(fi, i): (fj, j) for fi, i, fj, j in hits}
    pairs = []
    for fi, i, fj, j in hits:
        if at.get((fi, i - 1)) == (fj, j - 1):
            continue
        n = 1
        while at.get((fi, i + n)) == (fj, j + n):
            n += 1
        pairs.append((n + WINDOW - 1, fj, j, fi, i))

    def where(fi, i, span):
        cl = lines[fi]
        rel = os.path.relpath(files[fi], ROOT)
        return f"{rel}:{cl[i][0]}-{cl[i + span - 1][0]} ({cl[i][2]})"

    print(f"{len(copied)} copied lines ({WINDOW}-line windows, "
          f"{len(files)} files)")
    print(f"\n{TOP} largest copy pairs (code lines: earlier <- later)")
    for span, fj, j, fi, i in sorted(pairs, key=lambda p: -p[0])[:TOP]:
        print(f"{span:>4}  {where(fj, j, span)} <- {where(fi, i, span)}")


if __name__ == "__main__":
    main()
