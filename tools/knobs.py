#!/usr/bin/env python3
"""List every env var and `graft.*` conf key the program reads.

Usage:
  python3 tools/knobs.py [--check] [repo_root]

Scans src/main/**/*.scala and build.sbt, with comments stripped, for
`sys.env.get*("NAME")` and `.get*("graft.…")` / `.getOption("graft.…")`.
Prints one line per knob: its name, its read sites and the files under
src/test, perfbench and tools that name it.

--check exits 1 when a knob has no row in README.md's "Knobs" table, or
when a `graft.*` conf key is named by no file under src/test (a conf
key selects a code path, and a path no spec forces is unchecked).
"""
import re
import sys
from pathlib import Path

from reach import SCALA_TOKENS, strip

ENV_READ = re.compile(r'\bsys\.env\s*(?:\.\s*get\w*\s*)?\(\s*"([^"]+)"')
CONF_READ = re.compile(r'\.\s*get\w*\s*\(\s*"(graft\.[^"]+)"')
TABLE_ROW = re.compile(r"^\|\s*`([^`]+)`")


def knob_table(readme):
    """Names in the first column of README's "## Knobs" section."""
    names, inside = set(), False
    for line in readme.splitlines():
        if line.startswith("## "):
            inside = line.strip() == "## Knobs"
        elif inside and (m := TABLE_ROW.match(line)):
            names.add(m.group(1))
    return names


def main():
    args = sys.argv[1:]
    check = "--check" in args
    rest = [a for a in args if a != "--check"]
    root = Path(rest[0] if rest else ".")

    reads = {}
    sources = sorted(root.glob("src/main/**/*.scala")) + [root / "build.sbt"]
    for p in sources:
        if not p.exists():
            continue
        code = strip(p.read_text(), SCALA_TOKENS, ("//", "/*"), True)
        for pattern in (ENV_READ, CONF_READ):
            for m in pattern.finditer(code):
                line = code.count("\n", 0, m.start()) + 1
                reads.setdefault(m.group(1), []).append(
                    f"{p.relative_to(root)}:{line}")

    named = [p for d in ("src/test", "perfbench", "tools")
             for p in sorted((root / d).rglob("*")) if p.is_file()
             and p.suffix in (".scala", ".py", ".sh", ".md", ".json")]
    texts = {p: p.read_text(errors="replace") for p in named}
    readme = root / "README.md"
    table = knob_table(readme.read_text()) if readme.exists() else set()

    failures = []
    for name in sorted(reads):
        word = re.compile(rf"(?<![\w.]){re.escape(name)}(?![\w])")
        users = [str(p.relative_to(root)) for p, t in texts.items()
                 if word.search(t)]
        print(f"{name}  read: {', '.join(reads[name])}  "
              f"named by: {', '.join(users) or '-'}")
        if name not in table:
            failures.append(f"{name}: no row in README's Knobs table")
        if name.startswith("graft.") and not any(
                u.startswith("src/test/") for u in users):
            failures.append(f"{name}: no file under src/test names it")

    if check:
        for f in failures:
            print(f"FAIL {f}")
        print(f"== {len(reads)} knobs, {len(failures)} failures ==")
        sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
