#!/usr/bin/env python3
"""Size counts for CHANGES.md entries.

    python3 tools/loc.py [ROOT]

Prints two counts over the Scala and Java sources under ROOT/src/main (ROOT
defaults to the checkout holding this script):

- code_lines: non-blank lines that do not start, after indentation, with
  `//`, `*` or `/*`;
- env_names: the distinct `SPARK_GRAFT_*` names those sources mention, each
  followed by its name.
"""
import re
import sys
from pathlib import Path

ENV = re.compile(r"SPARK_GRAFT_[A-Z0-9_]*[A-Z0-9]")


def sources(root):
    return sorted(p for p in (root / "src" / "main").rglob("*")
                  if p.is_file() and p.suffix in (".scala", ".java"))


def main(argv):
    root = Path(argv[1]) if len(argv) > 1 else Path(__file__).resolve().parent.parent
    code, names = 0, set()
    for p in sources(root):
        text = p.read_text(encoding="utf-8")
        names.update(ENV.findall(text))
        for line in text.splitlines():
            s = line.strip()
            if s and not s.startswith(("//", "*", "/*")):
                code += 1
    print(f"code_lines {code}")
    print(f"env_names {len(names)}")
    for n in sorted(names):
        print(f"  {n}")


if __name__ == "__main__":
    main(sys.argv)
