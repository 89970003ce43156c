#!/usr/bin/env python3
"""Staging census: per-file code-line counts of the calls that pin and
release Spark frames, session-conf writes and GraphX references, over
src/main.

    python3 tools/staging_census.py [ROOT] [--lines]

A line counts once per pattern it contains; comments (line and nested
block comments, scaladoc included) and string literals are stripped
first, so prose and SQL text never count. The `graphx` column counts the
lines that name the `org.apache.spark.graphx` package, or one of the
GraphX types the file imports from it (every GraphX type under a
wildcard import), used unqualified. `code_lines` is the file's
non-blank lines after stripping comments. With --lines, every matching
`unpersist(` and `graphx` line is printed too (file:line: text), which
shows where the remaining manual releases and GraphX uses are.
"""
import os
import re
import sys

PATTERNS = ["persist(", "unpersist(", "localCheckpoint(",
            "releaseCheckpoint(", "conf.set("]
# `persist(` must not match inside `unpersist(`
MATCHERS = [re.compile(r"(?<!un)persist\(")] + [
    re.compile(re.escape(p)) for p in PATTERNS[1:]]

GRAPHX = "org.apache.spark.graphx"
GRAPHX_TYPES = ["Graph", "Edge", "EdgeContext", "EdgeDirection", "EdgeRDD",
                "EdgeTriplet", "GraphLoader", "GraphOps", "PartitionStrategy",
                "Pregel", "TripletFields", "VertexId", "VertexRDD"]
GRAPHX_IMPORT = re.compile(
    r"import\s+org\.apache\.spark\.graphx\.(?:\{([^}]*)\}|(\w+))")


def graphx_matcher(lines):
    """Matches a line that references GraphX: the package by name, or an
    imported GraphX type used unqualified (`A.Edge` is not one)."""
    names = set()
    for l in lines:
        for group, single in GRAPHX_IMPORT.findall(l):
            for n in (group.split(",") if group else [single]):
                n = n.split("=>")[0].strip()
                names.update(GRAPHX_TYPES if n == "_" else [n])
    names = sorted(n for n in names if n)
    typed = re.compile(r"(?<![\w.])(?:%s)\b" % "|".join(names)) if names else None
    return lambda l: GRAPHX in l or bool(typed and typed.search(l))


def strip(src):
    """Source with comments removed and string/char literal contents
    blanked; newlines are kept so line numbers survive."""
    out = []
    i, n = 0, len(src)
    while i < n:
        c = src[i]
        if src.startswith("//", i):
            j = src.find("\n", i)
            i = n if j < 0 else j
        elif src.startswith("/*", i):
            depth, i = 1, i + 2
            while i < n and depth:
                if src.startswith("/*", i):
                    depth, i = depth + 1, i + 2
                elif src.startswith("*/", i):
                    depth, i = depth - 1, i + 2
                else:
                    if src[i] == "\n":
                        out.append("\n")
                    i += 1
        elif src.startswith('"""', i):
            j = src.find('"""', i + 3)
            j = n if j < 0 else j + 3
            while j < n and src[j] == '"':  # closing run like """"
                j += 1
            out.append('""' + "\n" * src.count("\n", i, j))
            i = j
        elif c == '"':
            j = i + 1
            while j < n and src[j] != '"' and src[j] != "\n":
                j += 2 if src[j] == "\\" else 1
            out.append('""')
            i = j + 1
        elif c == "'" and i + 3 < n and (src[i + 2] == "'" or
                                         (src[i + 1] == "\\" and src[i + 3] == "'")):
            j = i + (4 if src[i + 1] == "\\" else 3)
            out.append("' '")
            i = j
        else:
            out.append(c)
            i += 1
    return "".join(out)


def census(root):
    rows = []
    for d, _, files in os.walk(root):
        for f in files:
            if f.endswith(".scala"):
                p = os.path.join(d, f)
                with open(p, encoding="utf-8") as fh:
                    lines = strip(fh.read()).split("\n")
                gx = graphx_matcher(lines)
                counts = [sum(1 for l in lines if m.search(l)) for m in MATCHERS]
                counts.append(sum(1 for l in lines if gx(l)))
                code = sum(1 for l in lines if l.strip())
                hits = [(k + 1, l.strip()) for k, l in enumerate(lines)
                        if "unpersist(" in l or gx(l)]
                rows.append((os.path.relpath(p, root), counts, code, hits))
    return sorted(rows)


def main(argv):
    show = "--lines" in argv
    args = [a for a in argv if a != "--lines"]
    root = args[0] if args else os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "..", "src", "main")
    rows = census(root)
    head = ["file"] + PATTERNS + ["graphx", "code_lines"]
    w = max(len(r[0]) for r in rows + [("total",)])
    print(f"{head[0]:<{w}} " + " ".join(f"{h:>18}" for h in head[1:]))
    tot = [0] * (len(PATTERNS) + 2)
    for name, counts, code, _ in rows:
        vals = counts + [code]
        tot = [a + b for a, b in zip(tot, vals)]
        if any(counts):
            print(f"{name:<{w}} " + " ".join(f"{v:>18}" for v in vals))
    print(f"{'total':<{w}} " + " ".join(f"{v:>18}" for v in tot))
    if show:
        for name, _, _, hits in rows:
            for k, text in hits:
                print(f"{name}:{k}: {text}")


if __name__ == "__main__":
    main(sys.argv[1:])
