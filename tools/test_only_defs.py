#!/usr/bin/env python3
"""List the `def`s in src/main that only tests call; fail on any not allowed.

Usage: python3 tools/test_only_defs.py [repo_root]
       python3 tools/test_only_defs.py --self-test

A name-based scan, not a type-checked one. For every `def <name>` in
src/main/**/*.scala it counts the word-boundary occurrences of <name>
in code, in three places:

  main   src/main, minus the definitions of <name> themselves;
  bench  bench/src (the benchmark harness is a program caller);
  test   src/test.

Comments, and the text of string and char literals, are not code: a
def named only in its own error message ("pin: pointer moved ...") or
in a scaladoc link is not called. The splices of interpolated strings
(`${f(x)}`, `$name`) are code and are counted.

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

--self-test scans a two-file in-memory fixture and exits 1 unless a def
named only in its own error string is listed and a def called only
inside an `s"...${f(x)}..."` splice is not.
"""
import os
import re
import sys

DEF = re.compile(r"^\s*(?:(?:private|protected)(?:\[\w+\])?\s+|final\s+|implicit\s+|inline\s+)*def\s+([A-Za-z_][A-Za-z0-9_]*)")
OWNER = re.compile(r"^\s*(?:(?:private|protected)(?:\[\w+\])?\s+|final\s+|case\s+|sealed\s+|abstract\s+)*(?:object|class|trait)\s+([A-Za-z_][A-Za-z0-9_]*)")
WORD = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")
CHAR = re.compile(r"'(?:\\.|[^'\\\n])'")
SKIP = {"main"}
# Owner.name of main defs a spec may call although no program does.
ALLOWED = {
    "TextAnalysis.lmCachedDirs",  # test hook: the bigram-LM cache's resident dirs
}


def scala_files(root):
    for d, _, fs in os.walk(root):
        for f in sorted(fs):
            if f.endswith(".scala"):
                yield os.path.join(d, f)


def code_text(src):
    """The code of a Scala source: comments (scaladoc included) and the
    text of string and char literals become blanks; the splices of
    interpolated strings stay, since they are code."""
    out = []
    _code(src, 0, out, nested=False)
    return "".join(out)


def _code(src, i, out, nested):
    """Copy code from src[i:] into out. When nested (inside a `${`
    splice), stop after the `}` that closes it; return the index."""
    depth = 0
    n = len(src)
    while i < n:
        c = src[i]
        if src.startswith("//", i):
            j = src.find("\n", i)
            i = n if j < 0 else j
            out.append(" ")
        elif src.startswith("/*", i):
            i = _block_comment(src, i)
            out.append(" ")
        elif c == '"':
            interpolated = i > 0 and (src[i - 1].isalnum() or src[i - 1] == "_")
            i = _string(src, i, out, interpolated)
        elif c == "'" and CHAR.match(src, i):
            i = CHAR.match(src, i).end()
            out.append(" ")
        else:
            if nested and c == "{":
                depth += 1
            elif nested and c == "}":
                if depth == 0:
                    return i + 1
                depth -= 1
            out.append(c)
            i += 1
    return i


def _block_comment(src, i):
    """Index past the (possibly nested) block comment at src[i]."""
    depth = 0
    n = len(src)
    while i < n:
        if src.startswith("/*", i):
            depth += 1
            i += 2
        elif src.startswith("*/", i):
            depth -= 1
            i += 2
            if depth == 0:
                return i
        else:
            i += 1
    return n


def _string(src, i, out, interpolated):
    """Blank the literal at src[i] (a `"` or `\"\"\"`), keeping the
    splices of an interpolated one; return the index past it."""
    triple = src.startswith('"""', i)
    i += 3 if triple else 1
    n = len(src)
    out.append(" ")
    while i < n:
        if triple and src.startswith('"""', i):
            i += 3
            while i < n and src[i] == '"':  # `""""` ends on the last three
                i += 1
            return i
        c = src[i]
        if not triple:
            if c == '"':
                return i + 1
            if c == "\n":  # unterminated: stop at the line end
                return i
            if c == "\\":
                i += 2
                continue
        if interpolated and c == "$":
            if src.startswith("$$", i):
                i += 2
                continue
            if src.startswith("${", i):
                out.append(" ")
                i = _code(src, i + 2, out, nested=True)
                out.append(" ")
                continue
            m = WORD.match(src, i + 1)
            if m:
                out.append(f" {m.group(0)} ")
                i = m.end()
                continue
        i += 1
    return n


def word_counts(sources):
    counts = {}
    for _, text in sources:
        for w in WORD.findall(code_text(text)):
            counts[w] = counts.get(w, 0) + 1
    return counts


def read_all(paths):
    sources = []
    for p in paths:
        with open(p, encoding="utf-8") as fh:
            sources.append((p, fh.read()))
    return sources


def test_only(main_srcs, bench_srcs, test_srcs):
    """(path, line, owner, name) of each main def that only tests name."""
    main_refs = word_counts(main_srcs)
    bench_refs = word_counts(bench_srcs)
    test_refs = word_counts(test_srcs)

    defs = []  # (path, line, owner, name)
    for p, text in main_srcs:
        owners = []  # (indent, name) of the enclosing object/class/trait
        for i, line in enumerate(text.splitlines(), 1):
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

    return [(p, i, o, n, test_refs[n]) for p, i, o, n in defs
            if main_refs.get(n, 0) <= defined[n]
            and bench_refs.get(n, 0) == 0
            and test_refs.get(n, 0) > 0]


SELF_TEST_MAIN = '''
object Fixture {
  /** [[moved]] is named here, in a comment. */
  def moved(p: String): Nothing =
    throw new IllegalStateException(s"moved: pointer of $p moved, see Fixture.moved")
  def label(n: Int): String = "n" + n
  def show(n: Int): String = s"row ${label(n)} of ${"$"}n"
  def main(args: Array[String]): Unit = println(show(1))
}
'''
SELF_TEST_SPEC = '''
class FixtureSpec {
  Fixture.moved("a"); Fixture.label(1); Fixture.show(1)
}
'''


def self_test():
    hits = {f"{o}.{n}" for _, _, o, n, _ in test_only(
        [("Fixture.scala", SELF_TEST_MAIN)], [], [("FixtureSpec.scala", SELF_TEST_SPEC)])}
    fails = []
    if "Fixture.moved" not in hits:
        fails.append("a def named only in its own error string is not listed")
    if "Fixture.label" in hits:
        fails.append("a def called only inside an interpolated splice is listed")
    if hits - {"Fixture.moved"}:
        fails.append(f"unexpected hits: {', '.join(sorted(hits - {'Fixture.moved'}))}")
    for f in fails:
        print(f"self-test failed: {f}")
    if not fails:
        print("self-test passed")
    return 1 if fails else 0


def main():
    if sys.argv[1:] == ["--self-test"]:
        return self_test()
    root = sys.argv[1] if len(sys.argv) > 1 else "."
    hits = test_only(
        read_all(sorted(scala_files(os.path.join(root, "src", "main")))),
        read_all(scala_files(os.path.join(root, "bench", "src"))),
        read_all(scala_files(os.path.join(root, "src", "test"))))
    for p, i, o, n, refs in hits:
        print(f"{os.path.relpath(p, root)}:{i}  {o}.{n}  ({refs} test refs)")
    print(f"{len(hits)} defs in src/main referenced only from src/test")
    bad = [f"{o}.{n}" for _, _, o, n, _ in hits if f"{o}.{n}" not in ALLOWED]
    if bad:
        print(f"not in ALLOWED: {', '.join(bad)}")
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
