#!/usr/bin/env python3
"""Knob audit: every `spark.graft.*` key the library declares, and who
touches it.

Usage: python3 scripts/knobs.py [--check] [repoRoot]

For each distinct "spark.graft.*" string literal under src/main (a key,
or a key prefix ending in "." such as the run-note channels), prints the
source files that READ it, the non-test files that SET it, and the specs
that SET it. A key is referenced either as its literal or through a
`val NameConf = "spark.graft..."` constant (or a local `val key =
NameConf` alias of it); comment lines are ignored. A line counts as a
set when it calls `.set(`, `.unset(` or `.config(`; every other
reference outside the declaration is a read.

Run-note channels (keys with a `.last.` segment, such as the deleted
`spark.graft.screen.last.bandJoin`) are OUTPUTS the engine wrote after a
call, not options: they are listed in their own section, and the
closing summary counts the settable options, the options no non-test
file sets, and the options nothing sets at all (candidates for a
constant). Dev-only tooling — the shipped Scala library does not depend
on this.

`--check` exits 1 when a run-note channel exists (the engine returns
what it did instead), or when an option is set by nothing and is not a
deployment setting on DEPLOYMENT_ALLOW_LIST.
"""
import os
import re
import sys

KEY = re.compile(r'"(spark\.graft\.[A-Za-z0-9_.]+)"')
DECL = re.compile(r'val\s+(\w+)\s*(?::\s*String)?\s*=\s*"(spark\.graft\.[A-Za-z0-9_.]+)"')
SET = re.compile(r'\.(?:set|unset|config)\s*\(')
ALIAS = re.compile(r'\s*val\s+(\w+)\s*=\s*([\w.]+)\s*$')
COMMENT = re.compile(r'^\s*(?://|\*|/\*)')

# Options nothing in the repo sets that stay on purpose: a deployment
# names its scratch volume, so no test or probe has a value to set.
DEPLOYMENT_ALLOW_LIST = {"spark.graft.scratchDir"}


def scala_files(root, sub):
    base = os.path.join(root, sub)
    for d, _, fs in os.walk(base):
        for f in fs:
            if f.endswith(".scala"):
                yield os.path.join(d, f)


def code_lines(path):
    """Non-comment lines, with every constant declaration blanked out (a
    declaration may wrap its literal onto the next line)."""
    with open(path, encoding="utf-8") as fh:
        text = fh.read()
    text = DECL.sub(lambda m: re.sub(r"[^\n]", " ", m.group(0)), text)
    for line in text.splitlines():
        if not COMMENT.match(line):
            yield line


def declarations(path):
    with open(path, encoding="utf-8") as fh:
        return DECL.findall(fh.read())


def main(root, check=False):
    main_files = sorted(scala_files(root, "src/main"))
    other_main = sorted(scala_files(root, "perfbench/src"))
    test_files = sorted(scala_files(root, "src/test"))

    keys, names = set(), {}
    for p in main_files:
        for name, key in declarations(p):
            keys.add(key)
            names.setdefault(key, set()).add(name)
        for line in code_lines(p):
            keys.update(KEY.findall(line))

    # one pattern per key: its literal or any of its declared constants
    pats = {}
    for k in keys:
        alts = [re.escape('"%s"' % k)] + [r"\b%s\b" % n for n in sorted(names.get(k, ()))]
        pats[k] = re.compile("|".join(alts))

    reads = {k: set() for k in keys}
    sets_main = {k: set() for k in keys}
    sets_test = {k: set() for k in keys}
    for group, files in (("main", main_files + other_main), ("test", test_files)):
        for p in files:
            rel = os.path.relpath(p, root)
            local = {}  # `val key = SomeConf` aliases bound in this file
            for line in code_lines(p):
                for k, pat in pats.items():
                    alias = local.get(k)
                    if not pat.search(line) and not (alias and alias.search(line)):
                        continue
                    m = ALIAS.match(line)
                    if m and pat.search(m.group(2)):
                        local[k] = re.compile(r"\b%s\b" % m.group(1))
                        continue
                    if SET.search(line):
                        (sets_main if group == "main" else sets_test)[k].add(rel)
                    else:
                        reads[k].add(rel)

    def short(paths):
        return ", ".join(sorted(os.path.basename(p) for p in paths)) or "-"

    notes = sorted(k for k in keys if ".last." in k)
    options = sorted(k for k in keys if ".last." not in k)
    for k in options:
        print(k)
        print("  read by:      " + short(reads[k]))
        print("  set (main):   " + short(sets_main[k]))
        print("  set (specs):  " + short(sets_test[k]))
    print()
    # a note is often written through a variable (`conf.set(note, …)`),
    # so writers and readers are listed together
    print("run-note channels (engine outputs, not options):")
    for k in notes:
        print(k)
        print("  used by:      " + short(reads[k] | sets_main[k] | sets_test[k]))
    no_main = [k for k in options if not sets_main[k]]
    unset = [k for k in no_main if not sets_test[k]]
    print()
    print("keys: %d = %d options + %d run-note channel%s"
          % (len(keys), len(options), len(notes), "" if len(notes) == 1 else "s"))
    print("options: %d  set by no non-test file: %d  set by nothing: %d"
          % (len(options), len(no_main), len(unset)))
    for k in sorted(unset):
        print("  unset: " + k)
    if check:
        bad = ["run-note channel: " + k for k in notes] + [
            "set by nothing, not a deployment setting: " + k
            for k in sorted(unset) if k not in DEPLOYMENT_ALLOW_LIST]
        for b in bad:
            print("check: " + b)
        print("check: " + ("FAIL" if bad else "OK"))
        return 1 if bad else 0
    return 0


if __name__ == "__main__":
    args = sys.argv[1:]
    check = "--check" in args
    args = [a for a in args if a != "--check"]
    sys.exit(main(args[0] if args else
                  os.path.dirname(os.path.dirname(os.path.abspath(__file__))), check))
