#!/usr/bin/env python3
"""Cited-mains audit: every program main the docs name, and whether it
still exists.

Usage: python3 scripts/cited_mains.py [repoRoot]

Reads README.md, COVERAGE.md, ROADMAP.md and .claude/skills/verify/SKILL.md
and collects two kinds of citation:

  - `graft.<Name>` with a capitalized <Name> that is not followed by a
    further `.segment` (so `graft.ops.Tables` and `graft.Probe.tally` are
    not citations of a main);
  - a backticked command whose first word is a CamelCase name followed by
    arguments, e.g. `Probe annjoin v1 100 3`.

A cited name is LIVE when an `object <Name>` under src/main declares a
`def main(`; a LIBRARY name when src/main has a type or a source file of
that name but no main (e.g. `graft.Api`); otherwise it is GONE. A GONE
citation is allowed only on a line that also carries a commit hash (7 to
40 hex digits with at least one digit and one letter), the commit that
last held the code. Prints every cited name with its status and the
offending lines, and exits 1 when any GONE citation lacks a hash.
"""
import os
import re
import sys

DOCS = ["README.md", "COVERAGE.md", "ROADMAP.md", ".claude/skills/verify/SKILL.md"]
QUALIFIED = re.compile(r"\bgraft\.([A-Z][A-Za-z0-9]*)\b(?!\.[A-Za-z])")
COMMAND = re.compile(r"`([A-Z][a-z][A-Za-z0-9]*) [^`]+`")
HASH = re.compile(r"\b(?=[0-9a-f]*[0-9])(?=[0-9a-f]*[a-f])[0-9a-f]{7,40}\b")
TYPE = re.compile(r"\b(?:object|class|trait)\s+([A-Za-z_][A-Za-z0-9_]*)")
# a top-level object and its body, up to the closing brace in column 0
MAIN = re.compile(r"^object\s+([A-Za-z_][A-Za-z0-9_]*)[^{]*\{(.*?)^\}", re.S | re.M)


def sources(root):
    for d, _, fs in os.walk(os.path.join(root, "src/main")):
        for f in fs:
            if f.endswith(".scala"):
                yield os.path.join(d, f)


def main(root):
    mains, library = set(), set()
    for p in sources(root):
        with open(p, encoding="utf-8") as fh:
            text = fh.read()
        library.add(os.path.basename(p)[: -len(".scala")])
        library.update(TYPE.findall(text))
        for name, body in MAIN.findall(text):
            if re.search(r"\bdef\s+main\s*\(", body):
                mains.add(name)
    library -= mains

    cited = {}  # name -> [(doc, line number, has hash)]
    for doc in DOCS:
        path = os.path.join(root, doc)
        if not os.path.exists(path):
            continue
        with open(path, encoding="utf-8") as fh:
            for no, line in enumerate(fh, 1):
                names = set(QUALIFIED.findall(line)) | set(COMMAND.findall(line))
                for name in names:
                    cited.setdefault(name, []).append((doc, no, bool(HASH.search(line))))

    bad = 0
    for name in sorted(cited):
        refs = cited[name]
        if name in mains:
            status = "live main"
        elif name in library:
            status = "library name, not a main"
        else:
            status = "GONE"
        print("%-22s %-26s %d line(s)" % (name, status, len(refs)))
        if status == "GONE":
            for doc, no, hashed in refs:
                if not hashed:
                    bad += 1
                    print("  %s:%d cites it without a commit hash" % (doc, no))
    gone = sorted(n for n in cited if n not in mains and n not in library)
    print("cited: %d  live mains: %d  gone: %d  gone-without-commit lines: %d"
          % (len(cited), sum(n in mains for n in cited), len(gone), bad))
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1] if len(sys.argv) > 1 else "."))
