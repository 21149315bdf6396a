#!/usr/bin/env python3
"""List the `def`s and `object`s in src/main that nothing else in src/main refers to.

  python3 tools/dead_defs.py [path prefix ...]

Each line is `<status>  <kind>  <Owner.name>  <file>:<line>`, where status
is `test-only` (src/test refers to it) or `unreferenced` (nothing does).
`+bench` marks a name the benchmark's driver (perfbench/src) calls:
deleting it breaks the benchmark build, which program changes may not
edit. `+README` marks a name that README.md mentions in code (a code
span or a fenced block). With path prefixes, only definitions under
them are listed; references are always looked up in the whole of
src/main, src/test and perfbench/src.

It is a report, not a gate: the match is by name, so it misses a
definition whose name is also used for something else (it counts as
referenced), and it cannot see reflection.

Rules:
- Comments are stripped, and so are plain string literals (interpolated
  strings keep their text, since `$x` and `${f(x)}` are code).
- A member of an object `O` counts as referenced from another file only
  if that file names both the member and `O` (`O.f`, `import O._`, an
  import alias of `O`); within its own file, any further use counts.
- A member of a class or trait counts as referenced on any further use.
- An object counts as referenced on any further use of its name.
- Not listed: `override`s, members of anonymous classes (`new T { ... }`,
  callbacks), `main` and the objects that define it (sbt `runMain` entry
  points), and `apply`/`unapply`.
"""
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MAIN = os.path.join(ROOT, "src", "main")
TEST = os.path.join(ROOT, "src", "test")
BENCH = os.path.join(ROOT, "perfbench", "src")
SKIP_DEFS = {"main", "apply", "unapply", "toString", "equals", "hashCode"}


def scala_files(top):
    out = []
    for d, _, names in os.walk(top):
        out += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(out)


def strip(src):
    """Return (code, refs): both have comments blanked (newlines kept);
    `code` also blanks the contents of every string and char literal,
    `refs` only those of plain (non-interpolated) strings."""
    code, refs = list(src), list(src)
    i, n = 0, len(src)

    def blank(buf, a, b):
        for j in range(a, b):
            if buf[j] != "\n":
                buf[j] = " "

    while i < n:
        c = src[i]
        if src.startswith("//", i):
            j = src.find("\n", i)
            j = n if j < 0 else j
            blank(code, i, j); blank(refs, i, j)
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
            blank(code, i, j); blank(refs, i, j)
            i = j
        elif c == '"':
            interp = i > 0 and (src[i - 1].isalnum() or src[i - 1] == "_")
            if src.startswith('"""', i):
                j = src.find('"""', i + 3)
                j = n if j < 0 else j + 3
                while j < n and src[j] == '"':
                    j += 1
                body = (i + 3, j - 3)
            else:
                j = i + 1
                while j < n and src[j] not in '"\n':
                    j += 2 if src[j] == "\\" else 1
                j = min(j + 1, n)
                body = (i + 1, j - 1)
            blank(code, *body)
            if not interp:
                blank(refs, *body)
            i = j
        elif c == "'" and re.match(r"'(\\.|[^'\\\n])'", src[i:i + 4]):
            j = src.index("'", i + 2 if src[i + 1] != "\\" else i + 3) + 1
            blank(code, i + 1, j - 1); blank(refs, i + 1, j - 1)
            i = j
        else:
            i += 1
    return "".join(code), "".join(refs)


TEMPLATE = re.compile(r"\b(object|class|trait|new)\s+([A-Za-z_][\w.]*)")
DEF = re.compile(r"\bdef\s+([A-Za-z_]\w*)")


def body_start(code, pos):
    """Index of the `{` that opens the template whose header starts at
    `pos`, or None when the template has no body."""
    depth, i, n = 0, pos, len(code)
    while i < n:
        c = code[i]
        if c in "([":
            depth += 1
        elif c in ")]":
            depth -= 1
        elif depth == 0 and c == "{":
            return i
        elif depth == 0 and c == "\n":
            line = code[code.rfind("\n", 0, i) + 1:i].strip()
            nxt = code[i:].lstrip()
            if not (re.search(r"(\bextends|\bwith|,|=>|:)$", line)
                    or re.match(r"(extends|with)\b|\{", nxt)):
                return None
        elif depth == 0 and c in ";=":
            return None
        i += 1
    return None


def match_brace(code, open_at):
    depth = 0
    for i in range(open_at, len(code)):
        if code[i] == "{":
            depth += 1
        elif code[i] == "}":
            depth -= 1
            if depth == 0:
                return i
    return len(code)


def definitions(code):
    """(kind, owner kind, owner, name, line, overrides) for every def and
    object in one file; owner is the innermost enclosing template."""
    scopes = []  # (start, end, kind, name)
    out = []
    for m in TEMPLATE.finditer(code):
        b = body_start(code, m.end())
        if b is not None:
            scopes.append((b, match_brace(code, b), m.group(1), m.group(2)))
        if m.group(1) == "object":
            out.append(("object", m.start(), m.group(2)))
    for m in DEF.finditer(code):
        out.append(("def", m.start(), m.group(1)))
    rows = []
    for kind, pos, name in out:
        inner = [s for s in scopes if s[0] < pos <= s[1]]
        owner = max(inner, key=lambda s: s[0]) if inner else (0, 0, "", "")
        head = code[code.rfind("\n", 0, pos) + 1:pos]
        rows.append((kind, owner[2], owner[3], name,
                     code.count("\n", 0, pos) + 1, "override" in head))
    return rows


def main():
    prefixes = [os.path.abspath(p) for p in sys.argv[1:]]
    mains = {p: strip(open(p, encoding="utf-8").read()) for p in scala_files(MAIN)}
    tests = {p: strip(open(p, encoding="utf-8").read())[1] for p in scala_files(TEST)}
    bench = {p: strip(open(p, encoding="utf-8").read())[1] for p in scala_files(BENCH)}
    readme = open(os.path.join(ROOT, "README.md"), encoding="utf-8").read()
    fenced = re.findall(r"^```.*?^```", readme, re.S | re.M)
    readme = "\n".join(fenced + re.findall(
        r"`[^`\n]+`", re.sub(r"^```.*?^```", "", readme, flags=re.S | re.M)))
    words = {}

    def count(text, name):
        key = (id(text), name)
        if key not in words:
            words[key] = len(re.findall(r"\b%s\b" % re.escape(name), text))
        return words[key]

    defs = {p: definitions(code) for p, (code, _) in mains.items()}

    def used(files, name, owner_kind, owner, self_path, self_defs):
        for p, text in files.items():
            uses = count(text, name) - (self_defs if p == self_path else 0)
            if uses <= 0:
                continue
            if owner_kind != "object" or p == self_path or count(text, owner) > 0:
                return True
        return False

    entry = {(p, o) for p, rows in defs.items()
             for k, ok, o, name, _, _ in rows if k == "def" and name == "main"}
    refs = {q: r for q, (_, r) in mains.items()}
    found = []
    for p, rows in defs.items():
        if prefixes and not any(p.startswith(x) for x in prefixes):
            continue
        for kind, okind, owner, name, line, over in rows:
            if over or okind == "new" or name in SKIP_DEFS or (p, name) in entry:
                continue
            here = sum(1 for r in rows if r[3] == name)
            if kind == "object":
                okind, owner = "", ""
            if used(refs, name, okind, owner, p, here):
                continue
            status = ("test-only" if used(tests, name, okind, owner, None, 0)
                      else "unreferenced")
            if used(bench, name, okind, owner, None, 0):
                status += " +bench"
            if count(readme, name) > 0:
                status += " +README"
            qual = f"{owner}.{name}" if owner else name
            found.append((os.path.relpath(p, ROOT), line, status, kind, qual))
    for path, line, status, kind, qual in sorted(found):
        print(f"{status:<26} {kind:<6} {qual:<44} {path}:{line}")
    n_test = sum(1 for f in found if f[2].startswith("test-only"))
    n_bench = sum(1 for f in found if "+bench" in f[2])
    print(f"# {len(found)} listed: {n_test} test-only, "
          f"{len(found) - n_test} unreferenced; {n_bench} +bench")


if __name__ == "__main__":
    main()
