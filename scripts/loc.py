#!/usr/bin/env python3
"""Count the lines of the engine's Scala sources under `src/main`.

Prints two numbers for every `.scala` file below `<root>/src/main`, summed:

  * raw: every line (what `wc -l` counts), and
  * code: the non-blank lines whose first non-space characters are not
    `//`, `/*` or `*` (so scaladoc and line comments are left out).

    python3 scripts/loc.py [<root>]

`<root>` defaults to the checkout this script lives in. Run it on two
checkouts to compare a change with its parent by the same method.
"""
import os
import sys


def count(root):
    raw = code = 0
    for dirpath, _, files in os.walk(os.path.join(root, "src", "main")):
        for name in files:
            if not name.endswith(".scala"):
                continue
            with open(os.path.join(dirpath, name), encoding="utf-8") as f:
                for line in f:
                    raw += 1
                    s = line.strip()
                    if s and not s.startswith(("//", "/*", "*")):
                        code += 1
    return raw, code


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else os.path.dirname(
        os.path.dirname(os.path.abspath(__file__)))
    raw, code = count(root)
    print(f"src/main .scala lines: {raw} raw, {code} non-blank non-comment")


if __name__ == "__main__":
    main()
