"""Count code lines of Python files: blank lines, comments and docstrings
(any statement that is only a string literal) do not count.

    python tools/code_lines.py PATH...

A PATH may be a file or a directory (every *.py under it).  Prints one
line per file and, for more than one file, a total.
"""

from __future__ import annotations

import sys
import tokenize
from pathlib import Path

_SKIP = {
    tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
    tokenize.DEDENT, tokenize.ENCODING, tokenize.ENDMARKER,
}


def code_lines(path: Path) -> int:
    """Number of physical lines holding a token of a statement that is
    not a bare string literal."""
    lines: set[int] = set()
    statement: list[tokenize.TokenInfo] = []

    def close():
        if any(t.type != tokenize.STRING for t in statement):
            for t in statement:
                lines.update(range(t.start[0], t.end[0] + 1))
        statement.clear()

    with path.open("rb") as f:
        for tok in tokenize.tokenize(f.readline):
            if tok.type in (tokenize.NEWLINE, tokenize.ENDMARKER):
                close()
            elif tok.type not in _SKIP:
                statement.append(tok)
    return len(lines)


def _files(args: list[str]) -> list[Path]:
    out = []
    for a in args:
        p = Path(a)
        out.extend(sorted(p.rglob("*.py")) if p.is_dir() else [p])
    return out


def main(argv: list[str]) -> int:
    if not argv:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    files = _files(argv)
    total = 0
    for p in files:
        n = code_lines(p)
        total += n
        print(f"{n:7d}  {p}")
    if len(files) > 1:
        print(f"{total:7d}  total")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
