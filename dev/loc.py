#!/usr/bin/env python3
"""Count the lines of the `.scala` files under a directory.

Usage:
    python3 dev/loc.py DIR

Prints all lines and code lines. A code line is a non-blank line that does
not start (after indentation) with `//`, `/*` or `*`, so `//` comments,
`/* … */` blocks and scaladoc are left out. The rule looks at each line's
start only: a continuation line that opens with a `*` product is left out
too (7 such lines in `src/main/scala`), and a line with code before a
comment counts as code.
"""
import pathlib
import re
import sys

COMMENT = re.compile(r"\s*(//|/\*|\*)")


def main(root):
    files = sorted(pathlib.Path(root).rglob("*.scala"))
    if not files:
        sys.exit(f"no .scala files under {root}")
    lines = code = 0
    for f in files:
        for line in f.read_text(encoding="utf-8").splitlines():
            lines += 1
            code += bool(line.strip()) and not COMMENT.match(line)
    print(f"{lines:,} lines, {code:,} code lines in {len(files)} files under {root}")


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    main(sys.argv[1])
