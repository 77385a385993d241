#!/usr/bin/env python3
"""Count repeated 4-line code windows per source file.

    python3 scripts/dup_windows.py [-v] [FILE ...]

With no FILE, every `src/main/scala/**/*.scala` under the current
directory is scanned. Each file is reduced to its code lines: whitespace
runs collapse to one space, and blank lines, comment lines (starting
with `//`, `*` or `/**`) and lines holding one lone bracket are dropped.
A window is 4 consecutive code lines; the file's count is the number of
distinct windows that occur more than once in it. `-v` also prints each
repeated window with the line numbers where its copies start.

A twin chain written out twice shows up as a run of repeated windows, so
a file that writes each chain once reads 0.
"""
import argparse
import collections
import re
import sys
from pathlib import Path

WINDOW = 4
LONE_BRACKET = re.compile(r"[{}()\[\]]")


def code_lines(path):
    """(line number, normalized text) of each code line of `path`."""
    out = []
    for no, raw in enumerate(Path(path).read_text().splitlines(), 1):
        s = re.sub(r"\s+", " ", raw).strip()
        if not s or s.startswith(("//", "*", "/**")) or LONE_BRACKET.fullmatch(s):
            continue
        out.append((no, s))
    return out


def repeated_windows(path):
    """{window: [start line, ...]} for every window seen more than once."""
    lines = code_lines(path)
    starts = collections.defaultdict(list)
    for i in range(len(lines) - WINDOW + 1):
        starts[tuple(s for _, s in lines[i:i + WINDOW])].append(lines[i][0])
    return {w: at for w, at in starts.items() if len(at) > 1}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("files", nargs="*")
    ap.add_argument("-v", "--verbose", action="store_true")
    args = ap.parse_args()
    files = args.files or sorted(str(p) for p in Path("src/main/scala").rglob("*.scala"))
    if not files:
        sys.exit("no files given and no src/main/scala under the current directory")
    for f in files:
        reps = repeated_windows(f)
        print(f"{len(reps):4d}  {f}")
        if args.verbose:
            for w, at in sorted(reps.items(), key=lambda kv: kv[1]):
                print(f"        lines {', '.join(map(str, at))}")
                for s in w:
                    print(f"          | {s}")


if __name__ == "__main__":
    main()
