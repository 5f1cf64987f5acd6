#!/usr/bin/env python3
"""Diff two `graft.Explain` dumps after normalising run-dependent ids.

Usage:
    python3 tools/plandiff.py BEFORE.txt AFTER.txt [--queries q1,q2,...]

A dump is the stdout of `sbt "runMain graft.Explain"` (sbt and log4j lines
may be mixed in); each query's plan starts at its `===== <query>` line.
Within each query section the script:

  - renumbers expression ids (`#N`), exchange `plan_id=N`s and RDD ids
    (`SomeRDD[N]`) in order of first appearance, so the numbering no longer
    depends on what ran before but shared references stay visible;
  - replaces call-site lines (`<File>.scala:<line>`) with `<line>`;
  - drops log4j lines and sbt status lines, and strips sbt's `[info] `
    prefix.

It prints one status line per query and a unified diff for each query that
differs, and exits 0 only if every compared query is identical (a query
present in one dump only counts as a difference).
"""
import argparse
import difflib
import re
import sys

SECTION = re.compile(r"^===== (\S+)\s*$")
LOG4J = re.compile(r"^\d\d/\d\d/\d\d \d\d:\d\d:\d\d ")
SBT_STATUS = re.compile(r"^\[(success|warn|error)\] ")
CALL_SITE = re.compile(r"\b(\w+\.scala):\d+")
RENUMBERED = [
    (re.compile(r"#(\d+)"), "#{}"),
    (re.compile(r"plan_id=(\d+)"), "plan_id={}"),
    (re.compile(r"\b(\w*RDD)\[(\d+)\]"), None),
]


def normalise(lines):
    ids = [{} for _ in RENUMBERED]
    out = []
    for line in lines:
        for k, (pat, fmt) in enumerate(RENUMBERED):
            seen = ids[k]
            if fmt is None:  # RDD ids keep the RDD class name
                line = pat.sub(lambda m, s=seen: "%s[%d]" % (
                    m.group(1), s.setdefault(m.group(2), len(s) + 1)), line)
            else:
                line = pat.sub(lambda m, s=seen, f=fmt: f.format(
                    s.setdefault(m.group(1), len(s) + 1)), line)
        out.append(CALL_SITE.sub(r"\1:<line>", line))
    return out


def sections(path):
    """Map each query name to its normalised plan lines, in dump order."""
    out, name, buf = {}, None, []
    with open(path, encoding="utf-8", errors="replace") as f:
        for raw in f:
            line = raw.rstrip("\n")
            if line.startswith("[info] "):
                line = line[len("[info] "):]
            if LOG4J.match(line) or SBT_STATUS.match(line):
                continue
            m = SECTION.match(line)
            if m:
                if name is not None:
                    out[name] = normalise(buf)
                name, buf = m.group(1), []
            elif name is not None:
                buf.append(line)
    if name is not None:
        out[name] = normalise(buf)
    # trailing blank lines depend on where the JVM's shutdown logging began
    return {q: _rstrip_blank(v) for q, v in out.items()}


def _rstrip_blank(lines):
    while lines and not lines[-1].strip():
        lines = lines[:-1]
    return lines


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("before")
    ap.add_argument("after")
    ap.add_argument("--queries", help="comma-separated query names to compare "
                    "(default: every query in either dump)")
    args = ap.parse_args()

    a, b = sections(args.before), sections(args.after)
    if args.queries:
        queries = [q for q in args.queries.split(",") if q]
    else:
        queries = list(a) + [q for q in b if q not in a]
    if not queries:
        print("no `===== <query>` sections found", file=sys.stderr)
        return 2

    differing = 0
    for q in queries:
        if q not in a or q not in b:
            differing += 1
            print("MISSING   %s (absent from %s)" % (
                q, args.before if q not in a else args.after))
            continue
        if a[q] == b[q]:
            print("IDENTICAL %s (%d lines)" % (q, len(a[q])))
            continue
        differing += 1
        diff = list(difflib.unified_diff(a[q], b[q], "%s:%s" % (args.before, q),
                                         "%s:%s" % (args.after, q), lineterm=""))
        changed = sum(1 for d in diff[2:] if d[:1] in "+-")
        print("DIFFERENT %s (%d changed lines)" % (q, changed))
        print("\n".join(diff))
    print("%d of %d queries identical" % (len(queries) - differing, len(queries)))
    return 0 if differing == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
