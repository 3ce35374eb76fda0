#!/usr/bin/env python3
"""List the `src/main` definitions that no other `src/main` code names.

    python3 scripts/unreached.py [repo_root]

A definition is a `def`, `val`, `var`, `type`, `object`, `class` or `trait`
in a `.scala` file under `src/main/scala`. After comments are stripped from
every file, a definition is unreached when its name, as a whole word,
appears in `src/main` only at definition sites of that name. `override`
members and `def main` are skipped: Spark or the JVM calls them.

One line per unreached definition:

    <path>:<line> <kind> <name> test=<n> perfbench=<m>

where `n` and `m` count the name's word occurrences in `src/test` and
`perfbench/src` (comments stripped). A name only SQL text or reflection
reaches (a function registered by string) is listed too, so the output is
a list to read, not a verdict. Always exits 0.
"""
import os
import re
import sys

DEF_RE = re.compile(
    r"\b(override\s+)?(?:(?:private|protected)(?:\[\w+\])?\s+)?"
    r"(?:(?:final|implicit|lazy|sealed|abstract|case)\s+)*"
    r"(def|val|var|type|object|class|trait)\s+([A-Za-z_][A-Za-z0-9_]*)")


def strip_comments(src):
    """Blanks `//` and `/* */` comments (nested ones too), keeping string
    literals and every newline, so line numbers survive."""
    out = []
    i, n = 0, len(src)
    while i < n:
        if src.startswith('"""', i):
            j = src.find('"""', i + 3)
            j = n if j < 0 else j + 3
            while j < n and src[j] == '"':
                j += 1
            out.append(src[i:j])
            i = j
        elif src[i] == '"':
            j = i + 1
            while j < n and src[j] not in '"\n':
                j += 2 if src[j] == "\\" else 1
            out.append(src[i:j + 1])
            i = j + 1
        elif src.startswith("'", i) and re.match(r"'(\\.|[^\\'])'", src[i:i + 4]):
            m = re.match(r"'(\\.|[^\\'])'", src[i:i + 4])
            out.append(m.group(0))
            i += len(m.group(0))
        elif src.startswith("//", i):
            j = src.find("\n", i)
            j = n if j < 0 else j
            i = j
        elif src.startswith("/*", i):
            depth, j = 1, i + 2
            while j < n and depth:
                if src.startswith("/*", j):
                    depth, j = depth + 1, j + 2
                elif src.startswith("*/", j):
                    depth, j = depth - 1, j + 2
                else:
                    j += 1
            out.append("".join(c for c in src[i:j] if c == "\n"))
            i = j
        else:
            out.append(src[i])
            i += 1
    return "".join(out)


def scala_files(root):
    for d, _, names in os.walk(root):
        for name in sorted(names):
            if name.endswith(".scala"):
                yield os.path.join(d, name)


def load(root):
    """Comment-stripped text of every `.scala` file under `root`, by path."""
    texts = {}
    for path in sorted(scala_files(root)):
        with open(path, encoding="utf-8") as fh:
            texts[path] = strip_comments(fh.read())
    return texts


def word_count(texts, name):
    pat = re.compile(r"(?<![A-Za-z0-9_])" + re.escape(name) + r"(?![A-Za-z0-9_])")
    return sum(len(pat.findall(t)) for t in texts.values())


def definitions(texts):
    """(path, line, kind, name) for every non-override definition."""
    defs = []
    for path, text in texts.items():
        for m in DEF_RE.finditer(text):
            if m.group(1) or (m.group(2) == "def" and m.group(3) == "main"):
                continue
            line = text.count("\n", 0, m.start()) + 1
            defs.append((path, line, m.group(2), m.group(3)))
    return defs


def unreached(repo):
    """(path, line, kind, name, test_refs, perfbench_refs), in path order."""
    main = load(os.path.join(repo, "src", "main", "scala"))
    tests = load(os.path.join(repo, "src", "test"))
    bench = load(os.path.join(repo, "perfbench", "src"))
    defs = definitions(main)
    sites = {}
    for _, _, _, name in defs:
        sites[name] = sites.get(name, 0) + 1
    rows = []
    for path, line, kind, name in defs:
        if word_count(main, name) <= sites[name]:
            rows.append((os.path.relpath(path, repo), line, kind, name,
                         word_count(tests, name), word_count(bench, name)))
    return rows


def main(argv):
    repo = argv[1] if len(argv) > 1 else os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    for path, line, kind, name, t, b in unreached(repo):
        print(f"{path}:{line} {kind} {name} test={t} perfbench={b}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
