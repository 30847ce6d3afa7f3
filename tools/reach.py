#!/usr/bin/env python3
"""List src/main definitions that only tests reach.

Usage:
  python3 tools/reach.py [repo_root]

Prints every `def`, `object` or `trait` declared in src/main (overrides
excluded: the framework calls those) whose name, outside its own
declaration, occurs in code only under src/test. Comments are stripped
before counting; string literals are kept, so a class named in a conf
string counts as a reference. Identifiers in perfbench/*.py and
tools/*.py count as callers (the harness reaches the library over
py4j). One line per definition: `path:line kind name  (test refs: n)`.
"""
import re
import sys
from pathlib import Path

SCALA_TOKENS = re.compile(
    r'"""(?:.|\n)*?"""|"(?:\\.|[^"\\\n])*"|//[^\n]*|/\*(?:.|\n)*?\*/')
PY_TOKENS = re.compile(
    r'"""(?:.|\n)*?"""|\'\'\'(?:.|\n)*?\'\'\'|"(?:\\.|[^"\\\n])*"'
    r"|'(?:\\.|[^'\\\n])*'|#[^\n]*")
DECL = re.compile(r"(\boverride\s+(?:\w+\s+)*)?\b(def|object|trait)\s+(\w+)")
IDENT = re.compile(r"[A-Za-z_]\w*")


def strip_comments(text, tokens, comment_starts):
    """Blank out comments (keeping newlines) and leave string literals."""
    def blank(m):
        s = m.group(0)
        if s.startswith(comment_starts):
            return re.sub(r"[^\n]", " ", s)
        return s
    return tokens.sub(blank, text)


def main():
    root = Path(sys.argv[1] if len(sys.argv) > 1 else ".")
    main_src, other_src = {}, {}
    for p in sorted(root.glob("src/main/**/*.scala")):
        main_src[p] = strip_comments(p.read_text(), SCALA_TOKENS, ("//", "/*"))
    for p in sorted(root.glob("src/test/**/*.scala")):
        other_src[p] = ("test", strip_comments(
            p.read_text(), SCALA_TOKENS, ("//", "/*")))
    py_files = sorted(root.glob("perfbench/*.py")) + sorted(root.glob("tools/*.py"))
    for p in py_files:
        other_src[p] = ("py", strip_comments(p.read_text(), PY_TOKENS, ("#",)))

    def count(texts):
        n = {}
        for text in texts:
            for tok in IDENT.findall(text):
                n[tok] = n.get(tok, 0) + 1
        return n

    main_refs = count(main_src.values())
    test_refs = count(t for kind, t in other_src.values() if kind == "test")
    py_refs = count(t for kind, t in other_src.values() if kind == "py")

    decls, n_decls = [], {}
    for p, text in main_src.items():
        for m in DECL.finditer(text):
            name = m.group(3)
            n_decls[name] = n_decls.get(name, 0) + 1
            if not m.group(1):
                line = text.count("\n", 0, m.start()) + 1
                decls.append((p.relative_to(root), line, m.group(2), name))

    for path, line, kind, name in decls:
        outside = main_refs.get(name, 0) - n_decls[name]
        tests = test_refs.get(name, 0)
        if outside == 0 and tests > 0 and not py_refs.get(name):
            print(f"{path}:{line} {kind} {name}  (test refs: {tests})")


if __name__ == "__main__":
    main()
