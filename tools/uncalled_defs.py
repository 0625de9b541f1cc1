#!/usr/bin/env python3
"""List the public members of src/main that nothing outside their own file names.

    python3 tools/uncalled_defs.py

Scans every `.scala` file under `src/main` for public `def`, `val` and
`object` declarations that are members of an object, class or trait
(a `def` or `val` inside a method body is local and skipped). A member
is public unless it is marked `private` or `protected`; `override`
members, `main`, `apply`/`unapply` and implicits are skipped, as are
objects that define a `main` (they are entry points, run by name).

For each remaining name it counts whole-word occurrences, comments and
string literals left out (but not the code interpolated into them), in every other `.scala`, `.py` and `.sh` file
under `src/`, `linkbench/` and `tools/`, split into code references
(`src/main`, `linkbench/src/main`, `tools/`) and test references (any
`src/test` directory). Occurrences inside the declaring file, apart from
the declaration itself, are counted as `own`.

It prints one line per name that no other file's code names:

    <file>:<line> <kind> <Owner.name>  own=<n> test=<n>

A name with `own=0 test=0` is reached by nothing. A name with `own>0`
is used only inside its file (a candidate for `private`). A name with
`test>0` is reached only by tests. Matching is by name, not by symbol,
so a name shared with another member elsewhere (`run`, `count`) reads
as referenced: the list can miss dead code, but what it lists is not
named by any other file's code.
"""
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCAN_DIRS = ["src", "linkbench", "tools"]
SKIP_DIRS = {"target", ".bench_build", "project", ".bsp", ".metals", ".bloop"}
EXTS = (".scala", ".py", ".sh")
SKIP_NAMES = {"main", "apply", "unapply", "unapplySeq", "update", "toString",
              "equals", "hashCode"}

DECL = re.compile(
    r"^(?P<mods>(?:(?:private|protected)(?:\[\w+\])?|override|implicit|final|"
    r"lazy|sealed|abstract|case|inline)\s+)*"
    r"(?P<kind>def|val|var|object)\s+(?P<name>[A-Za-z_][A-Za-z0-9_]*)")


INTERP = re.compile(r"\$\{[^{}]*(?:\{[^{}]*\}[^{}]*)*\}|\$[A-Za-z_]\w*")


def blank_literal(lit):
    """A string literal blanked out, apart from its interpolated code."""
    out, last = [], 0
    for m in INTERP.finditer(lit):
        out.append(re.sub(r"[^\n]", " ", lit[last:m.start()]))
        out.append(m.group(0))
        last = m.end()
    out.append(re.sub(r"[^\n]", " ", lit[last:]))
    return "".join(out)


def strip(text):
    """Blank out comments and string literals, keeping line structure."""
    out, i, n = [], 0, len(text)
    while i < n:
        c = text[i]
        if text.startswith("//", i):
            j = text.find("\n", i)
            j = n if j < 0 else j
            out.append(" " * (j - i)); i = j
        elif text.startswith("/*", i):
            j = text.find("*/", i + 2)
            j = n if j < 0 else j + 2
            out.append(re.sub(r"[^\n]", " ", text[i:j])); i = j
        elif text.startswith('"""', i):
            j = text.find('"""', i + 3)
            j = n if j < 0 else j + 3
            out.append(blank_literal(text[i:j])); i = j
        elif c == '"':
            j = i + 1
            while j < n and text[j] != '"' and text[j] != "\n":
                j += 2 if text[j] == "\\" else 1
            j = min(j + 1, n)
            out.append(blank_literal(text[i:j])); i = j
        elif c == "'" and i + 2 < n and (text[i + 2] == "'" or text[i + 1] == "\\"):
            j = text.find("'", i + 2) + 1
            out.append(" " * (j - i)); i = j
        else:
            out.append(c); i += 1
    return "".join(out)


def source_files():
    for top in SCAN_DIRS:
        for d, dirs, files in os.walk(os.path.join(ROOT, top)):
            dirs[:] = [x for x in dirs if x not in SKIP_DIRS]
            for f in files:
                if f.endswith(EXTS):
                    yield os.path.relpath(os.path.join(d, f), ROOT)


def declarations(path, code):
    """Member declarations of one file: (line, kind, owner, name, public)."""
    stack = []  # one entry per open brace: the template name, or None for a block
    pending = None  # a template header seen, its brace not yet opened
    parens = 0  # open parentheses: a `val` inside them is a parameter
    decls, mains = [], set()
    for lineno, line in enumerate(code.split("\n"), 1):
        s = line.strip()
        m = DECL.match(s)
        if m and parens == 0 and all(k is not None for k in stack):
            owner = stack[-1] if stack else ""
            name = m.group("name")
            mods = m.group("mods") or ""
            if m.group("kind") == "def" and name == "main":
                mains.add(owner)
            public = not re.search(r"\b(private|protected|override|implicit)\b", mods)
            decls.append((lineno, m.group("kind"), owner, name, public))
        t = re.search(r"\b(?:object|class|trait)\s+([A-Za-z_]\w*)", s)
        if t and not s.startswith(("import", "new ")):
            pending = t.group(1)
        for ch in s:
            if ch == "(":
                parens += 1
            elif ch == ")":
                parens = max(parens - 1, 0)
            elif ch == "{":
                stack.append(pending)
                pending = None
            elif ch == "}":
                if stack:
                    stack.pop()
        # a header whose statement ended without a brace has no body
        if parens == 0 and not s.endswith((",", "extends", "with", "=")):
            pending = None
    return decls, mains


def main():
    files = sorted(source_files())
    code = {f: strip(open(os.path.join(ROOT, f), encoding="utf-8").read()) for f in files}
    is_test = {f: "/src/test/" in "/" + f for f in files}

    rows = []
    for f in files:
        if not (f.startswith("src/main/") and f.endswith(".scala")):
            continue
        decls, mains = declarations(f, code[f])
        for lineno, kind, owner, name, public in decls:
            if not public or kind == "var" or name in SKIP_NAMES:
                continue
            if kind == "object" and name in mains:
                continue
            word = re.compile(r"(?<![A-Za-z0-9_])" + re.escape(name) + r"(?![A-Za-z0-9_])")
            own = len(word.findall(code[f])) - 1
            ref = test = 0
            for g in files:
                if g == f:
                    continue
                k = len(word.findall(code[g]))
                if is_test[g]:
                    test += k
                else:
                    ref += k
            label = f"{owner}.{name}" if owner else name
            rows.append((f, lineno, kind, label, ref, own, test))

    listed = 0
    for f, lineno, kind, label, ref, own, test in rows:
        if ref == 0:
            listed += 1
            print(f"{f}:{lineno} {kind} {label}  own={own} test={test}")
    print(f"# {listed} of {len(rows)} public members named by no other file's code",
          file=sys.stderr)


if __name__ == "__main__":
    main()
