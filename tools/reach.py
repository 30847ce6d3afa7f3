#!/usr/bin/env python3
"""List src/main definitions that only tests reach.

Usage:
  python3 tools/reach.py [repo_root]

Prints every `def`, `object` or `trait` declared in src/main (overrides
and implicit defs excluded: the framework or the compiler calls those)
whose references outside its own declaration occur in code only under
src/test. One line per definition: `path:line kind name  (test refs: n)`.

A member `def` of an object is resolved by its owner, so a name that
collides with another object's member is not mistaken for a caller:
it counts as referenced by `Owner.name` anywhere, or by an unqualified
`name` only inside the owner's own file or a file that imports
`Owner._` / `Owner.name`. Members of classes and traits, and `apply`,
`unapply` and `main`, are reached through instances, constructor
syntax or the JVM, so they count any occurrence of their name.
Comments are stripped before counting, and so are match-arm patterns
(`case Name =>`, `case Owner.Name | Other =>`): naming a case object in
its own dispatch does not construct it, so a sealed-trait case that only
tests select is listed. String literals count only for
names that are not object members, so a class named in a conf string
counts as a reference to it, while the word `compact` in an error
message does not call `Sinks.compact`.
Identifiers in perfbench/*.py and tools/*.py count as callers (the
harness reaches the library over py4j, through aliased handles).
"""
import re
import sys
from collections import Counter
from pathlib import Path

SCALA_TOKENS = re.compile(
    r'"""(?:.|\n)*?"""|"(?:\\.|[^"\\\n])*"|//[^\n]*|/\*(?:.|\n)*?\*/'
    r"|'(?:\\.|[^'\\\n])'")
PY_TOKENS = re.compile(
    r'"""(?:.|\n)*?"""|\'\'\'(?:.|\n)*?\'\'\'|"(?:\\.|[^"\\\n])*"'
    r"|'(?:\\.|[^'\\\n])*'|#[^\n]*")
DECL = re.compile(
    r"(\b(?:override|implicit)\s+(?:\w+\s+)*)?\b(def|object|trait)\s+(\w+)")
SCOPE = re.compile(r"\b(object|class|trait)\s+(\w+)")
IMPORT = re.compile(r"\bimport\s+(?:[\w.]+\.)?(\w+)\.(_|\{[^}]*\}|\w+)")
IDENT = re.compile(r"[A-Za-z_]\w*")
TOKEN = re.compile(r"[A-Za-z_]\w*|\S")
INTERP = re.compile(r"(\$\{[^}]*\}|\$\w+|\n)|.")
HEADER_GOES_ON = re.compile(r"\s*(?:extends|with|derives|\(|\[)")
CASE_ARM = re.compile(r"\bcase\s+(?:\w+\.)?\w+(?:\s*\|\s*(?:\w+\.)?\w+)*(?=\s*=>)")
LOOSE = {"apply", "unapply", "main"}


def strip(text, tokens, comment_starts, keep_strings):
    """Blank out comments (keeping newlines), and string literals too
    unless `keep_strings` (the `$x` / `${...}` code of an interpolated
    string stays)."""
    def blank(m):
        s = m.group(0)
        if s.startswith(comment_starts):
            return re.sub(r"[^\n]", " ", s)
        if keep_strings:
            return s
        if m.start() and (m.string[m.start() - 1].isalnum()):
            return INTERP.sub(lambda i: i.group(1) or " ", s)
        return re.sub(r"[^\n]", " ", s)
    return tokens.sub(blank, text)


def drop_case_arms(code):
    """Blank every match-arm pattern made only of stable identifiers
    (`case [Owner.]Name [| …] =>`), keeping the `case` keyword."""
    return CASE_ARM.sub(lambda m: "case" + " " * (len(m.group(0)) - 4),
                        code)


def body_open(code, i):
    """Index of the `{` opening the body of the class-like header that
    ends its name at `i`, or None when the declaration has no body."""
    depth = 0
    while i < len(code):
        c = code[i]
        if c in "([":
            depth += 1
        elif c in ")]":
            depth -= 1
        elif depth == 0:
            if c == "{":
                return i
            if c in "=;}" or (c == "\n"
                              and not HEADER_GOES_ON.match(code, i + 1)):
                return None
        i += 1
    return None


def scopes(code):
    """(start, end, kind, name) of every object/class/trait body."""
    out = []
    for m in SCOPE.finditer(code):
        start = body_open(code, m.end())
        if start is None:
            continue
        depth, j = 0, start
        while j < len(code):
            if code[j] == "{":
                depth += 1
            elif code[j] == "}":
                depth -= 1
                if depth == 0:
                    break
            j += 1
        out.append((start, j, m.group(1), m.group(2)))
    return out


def owner_of(pos, spans):
    """The object whose body directly holds `pos` (None when the
    innermost enclosing body is a class or trait, or there is none)."""
    inner = None
    for start, end, kind, name in spans:
        if start < pos < end and (inner is None or start > inner[0]):
            inner = (start, kind, name)
    return inner[2] if inner and inner[1] == "object" else None


def imports(code):
    """{owner: set of imported member names, '_' for all}."""
    out = {}
    for m in IMPORT.finditer(code):
        sel = m.group(2)
        names = [n.split("=>")[0].strip()
                 for n in sel.strip("{}").split(",")]
        out.setdefault(m.group(1), set()).update(names)
    return out


def tally(text):
    """Identifier counts of `text`: (unqualified occurrences,
    (qualifier, name) pairs of `qualifier.name`)."""
    unqualified, qualified = Counter(), Counter()
    toks = TOKEN.findall(text)
    for i, t in enumerate(toks):
        if not IDENT.fullmatch(t):
            continue
        if i >= 1 and toks[i - 1] == ".":
            if i >= 2 and IDENT.fullmatch(toks[i - 2]):
                qualified[(toks[i - 2], t)] += 1
        else:
            unqualified[t] += 1
    return unqualified, qualified


def main():
    root = Path(sys.argv[1] if len(sys.argv) > 1 else ".")

    def scala(glob):
        """{path: (identifier counts with strings kept, tally of the code,
        {owner: imported names})} and {path: code}; code is the text
        with comments and string literals blanked."""
        files, codes = {}, {}
        for p in sorted(root.glob(glob)):
            raw = p.read_text()
            codes[p] = drop_case_arms(
                strip(raw, SCALA_TOKENS, ("//", "/*"), False))
            every = Counter(IDENT.findall(drop_case_arms(
                strip(raw, SCALA_TOKENS, ("//", "/*"), True))))
            files[p] = (every, tally(codes[p]), imports(codes[p]))
        return files, codes

    main_src, main_code = scala("src/main/**/*.scala")
    test_src, _ = scala("src/test/**/*.scala")
    py_refs = set()
    for p in sorted(root.glob("perfbench/*.py")) + sorted(root.glob("tools/*.py")):
        py_refs.update(IDENT.findall(
            strip(p.read_text(), PY_TOKENS, ("#",), True)))

    def count_bare(files, name):
        return sum(every[name] for every, _, _ in files.values())

    def count_owned(files, owner, name, own_file):
        """`Owner.name` anywhere, plus unqualified `name` in the owner's
        file or a file importing it from the owner."""
        n = 0
        for p, (_, (unq, qual), imp) in files.items():
            n += qual[(owner, name)]
            if p == own_file or imp.get(owner, set()) & {"_", name}:
                n += unq[name]
        return n

    decls, n_decls = [], Counter()
    for p, code in main_code.items():
        spans = scopes(code)
        for m in DECL.finditer(code):
            kind, name = m.group(2), m.group(3)
            owner = owner_of(m.start(), spans) \
                if kind == "def" and name not in LOOSE else None
            key = (owner, name, p if owner else None)
            n_decls[key] += 1
            if not m.group(1):
                line = code.count("\n", 0, m.start()) + 1
                decls.append((p, line, kind, name, owner, key))

    for p, line, kind, name, owner, key in decls:
        if owner:
            outside = count_owned(main_src, owner, name, p) - n_decls[key]
            tests = count_owned(test_src, owner, name, None)
        else:
            outside = count_bare(main_src, name) - sum(
                n for (_, nm, _), n in n_decls.items() if nm == name)
            tests = count_bare(test_src, name)
        if outside <= 0 and tests > 0 and name not in py_refs:
            print(f"{p.relative_to(root)}:{line} {kind} {name}  "
                  f"(test refs: {tests})")


if __name__ == "__main__":
    main()
