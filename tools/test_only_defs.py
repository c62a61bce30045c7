#!/usr/bin/env python3
"""List the `def`s in src/main that only tests call; fail on any not allowed.

Usage: python3 tools/test_only_defs.py [repo_root]

A name-based scan, not a type-checked one. For every `def <name>` in
src/main/**/*.scala it counts the word-boundary occurrences of <name>,
outside comments, in three places:

  main   src/main, minus the definitions of <name> themselves;
  bench  bench/src (the benchmark harness is a program caller);
  test   src/test.

A def is printed when main and bench never mention its name and at
least one test does. Names shared by unrelated defs (`apply`, `run`, a
helper reused across objects) hide each other, so the list is a lower
bound: an empty line for a name proves nothing, a printed line is a
def worth a look. `override def` and `main` are skipped, because the
framework and the JVM call them, not Scala code.

Output: one `path:line  Owner.name  (N test refs)` line per def,
grouped by file, then a count. Exit status 1 when a printed def is not
in ALLOWED: such a def is either dead main code or a spec fixture that
belongs under src/test.
"""
import os
import re
import sys

DEF = re.compile(r"^\s*(?:(?:private|protected)(?:\[\w+\])?\s+|final\s+|implicit\s+|inline\s+)*def\s+([A-Za-z_][A-Za-z0-9_]*)")
OWNER = re.compile(r"^\s*(?:(?:private|protected)(?:\[\w+\])?\s+|final\s+|case\s+|sealed\s+|abstract\s+)*(?:object|class|trait)\s+([A-Za-z_][A-Za-z0-9_]*)")
WORD = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")
# a string or char literal (kept, group 1) or a comment (dropped)
COMMENT = re.compile(r'("""(?:.|\n)*?"""|"(?:\\.|[^"\\\n])*"|'
                     r"'(?:\\.|[^'\\\n])')|//[^\n]*|/\*(?:.|\n)*?\*/")
SKIP = {"main"}
# Owner.name of main defs a spec may call although no program does.
ALLOWED = {
    "TextAnalysis.lmCachedDirs",  # test hook: the bigram-LM cache's resident dirs
    "Tables.eventsStream",  # streaming events reader; ROADMAP #4 decides its fate
}


def scala_files(root):
    for d, _, fs in os.walk(root):
        for f in sorted(fs):
            if f.endswith(".scala"):
                yield os.path.join(d, f)


def strip_comments(src):
    """Blank out // and /* */ comments (scaladoc included): a name in a
    comment is not a caller. String literals are kept, since SQL text
    and reflective names live there."""
    return COMMENT.sub(lambda m: m.group(1) or " ", src)


def word_counts(paths):
    counts = {}
    for p in paths:
        with open(p, encoding="utf-8") as fh:
            for w in WORD.findall(strip_comments(fh.read())):
                counts[w] = counts.get(w, 0) + 1
    return counts


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else "."
    main_dir = os.path.join(root, "src", "main")
    main_files = sorted(scala_files(main_dir))
    main_refs = word_counts(main_files)
    bench_refs = word_counts(scala_files(os.path.join(root, "bench", "src")))
    test_refs = word_counts(scala_files(os.path.join(root, "src", "test")))

    defs = []  # (path, line, owner, name)
    for p in main_files:
        owners = []  # (indent, name) of the enclosing object/class/trait
        with open(p, encoding="utf-8") as fh:
            for i, line in enumerate(fh, 1):
                indent = len(line) - len(line.lstrip())
                m = OWNER.match(line)
                if m:
                    owners = [o for o in owners if o[0] < indent]
                    owners.append((indent, m.group(1)))
                    continue
                if re.search(r"\boverride\s+def\b", line):
                    continue
                m = DEF.match(line)
                if m and m.group(1) not in SKIP:
                    owner = next((n for d, n in reversed(owners) if d < indent), "?")
                    defs.append((p, i, owner, m.group(1)))

    # a name defined k times appears at least k times in main by its own
    # definitions; any occurrence beyond those is a main caller
    defined = {}
    for _, _, _, n in defs:
        defined[n] = defined.get(n, 0) + 1

    hits = [(p, i, o, n) for p, i, o, n in defs
            if main_refs.get(n, 0) <= defined[n]
            and bench_refs.get(n, 0) == 0
            and test_refs.get(n, 0) > 0]
    for p, i, o, n in hits:
        rel = os.path.relpath(p, root)
        print(f"{rel}:{i}  {o}.{n}  ({test_refs[n]} test refs)")
    print(f"{len(hits)} defs in src/main referenced only from src/test")
    bad = [f"{o}.{n}" for _, _, o, n in hits if f"{o}.{n}" not in ALLOWED]
    if bad:
        print(f"not in ALLOWED: {', '.join(bad)}")
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
