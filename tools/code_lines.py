"""Count code lines in Python files: lines that carry a token of a
statement, leaving out blank lines, comments and docstrings.

A docstring here is any statement made of string literals alone (the
module, class and function docstrings, and bare strings used as block
comments). A statement that spans several lines counts every line it
covers, so a wrapped call counts as wrapped.

Usage: python tools/code_lines.py PATH [PATH ...]
Each PATH is a .py file or a directory searched for .py files. Prints
one "<count> <file>" line per file, then "<total> total".
"""

from __future__ import annotations

import io
import os
import sys
import tokenize

_LAYOUT = {tokenize.NL, tokenize.NEWLINE, tokenize.COMMENT, tokenize.INDENT,
           tokenize.DEDENT, tokenize.ENCODING, tokenize.ENDMARKER}


def code_lines(source: str) -> int:
    """Number of lines of ``source`` that hold code."""
    lines: set[int] = set()
    stmt: list[tokenize.TokenInfo] = []

    def close():
        if stmt and not all(t.type == tokenize.STRING for t in stmt):
            for t in stmt:
                lines.update(range(t.start[0], t.end[0] + 1))
        stmt.clear()

    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type == tokenize.NEWLINE:
            close()
        elif tok.type not in _LAYOUT:
            stmt.append(tok)
    close()
    return len(lines)


def _files(paths):
    for path in paths:
        if os.path.isdir(path):
            for root, dirs, names in os.walk(path):
                dirs.sort()
                yield from (os.path.join(root, n) for n in sorted(names)
                            if n.endswith(".py"))
        else:
            yield path


def main(argv: list[str]) -> int:
    if not argv:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    total = 0
    for path in _files(argv):
        with open(path, encoding="utf-8") as fh:
            n = code_lines(fh.read())
        total += n
        print(f"{n} {path}")
    print(f"{total} total")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
