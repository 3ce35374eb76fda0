#!/usr/bin/env python3
"""Count code lines and round-history comment lines per `src/main` file.

    python3 scripts/loc.py [repo_root]

For each `.scala` file under `src/main/scala` it prints one line

    <path> code=<n> round=<m>

where `code` counts the lines that still hold text once comments are
stripped (`unreached.strip_comments`: string literals stay, so a `//`
inside SQL text is code), and `round` counts the lines, comments included,
that name a round or a round's verdict, by the same pattern as

    grep -En "[Rr]ound[ -]?[0-9]|\\br[12][0-9]\\b"

A last line gives the totals. Always exits 0.
"""
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from unreached import scala_files, strip_comments  # noqa: E402

ROUND_RE = re.compile(r"[Rr]ound[ -]?[0-9]|\br[12][0-9]\b")


def code_lines(src):
    """Lines of `src` that are not blank once comments are stripped."""
    return sum(1 for line in strip_comments(src).splitlines() if line.strip())


def round_lines(src):
    """Lines of `src` (comments included) the round-history pattern hits."""
    return sum(1 for line in src.splitlines() if ROUND_RE.search(line))


def counts(repo):
    """(relative path, code lines, round lines) per `src/main` file."""
    rows = []
    for path in sorted(scala_files(os.path.join(repo, "src", "main", "scala"))):
        with open(path, encoding="utf-8") as fh:
            src = fh.read()
        rows.append((os.path.relpath(path, repo), code_lines(src), round_lines(src)))
    return rows


def main(argv):
    repo = argv[1] if len(argv) > 1 else os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    rows = counts(repo)
    for path, code, rounds in rows:
        print(f"{path} code={code} round={rounds}")
    print(f"total code={sum(r[1] for r in rows)} round={sum(r[2] for r in rows)}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
