"""Count code lines: non-blank, non-comment, non-docstring.

usage: python tools/loc.py [rev]

Prints the count for ``padua_spark/`` and ``__spark_entry__.py`` in the
working tree and, when a git rev is given, at that rev and the change.
A line counts when it carries a token other than a comment or a line
break and does not belong to a module, class or function docstring; a
multi-line string literal counts every line it spans. Reflowing a call
changes the count, so compare like with like.
"""

import ast
import io
import pathlib
import subprocess
import sys
import tokenize

ROOT = pathlib.Path(__file__).resolve().parent.parent
TARGETS = ("padua_spark", "__spark_entry__.py")
_SKIP = {
    tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
    tokenize.DEDENT, tokenize.ENCODING, tokenize.ENDMARKER,
}


def code_lines(src):
    """The number of code lines in the Python source ``src``."""
    docstrings = set()
    for node in ast.walk(ast.parse(src)):
        if isinstance(
            node,
            (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef),
        ) and ast.get_docstring(node, clean=False) is not None:
            doc = node.body[0]
            docstrings.update(range(doc.lineno, doc.end_lineno + 1))
    lines = set()
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type not in _SKIP:
            lines.update(range(tok.start[0], tok.end[0] + 1))
    return len(lines - docstrings)


def _git(*args):
    return subprocess.run(
        ["git", *args], cwd=ROOT, check=True, capture_output=True, text=True,
    ).stdout


def count_tree():
    """{target: code lines} in the working tree."""
    out = {}
    for t in TARGETS:
        p = ROOT / t
        files = sorted(p.rglob("*.py")) if p.is_dir() else [p]
        out[t] = sum(code_lines(f.read_text()) for f in files)
    return out


def count_rev(rev):
    """{target: code lines} at git ``rev``."""
    out = {}
    for t in TARGETS:
        files = [
            f for f in _git("ls-tree", "-r", "--name-only", rev, "--", t)
            .splitlines() if f.endswith(".py")
        ]
        out[t] = sum(code_lines(_git("show", f"{rev}:{f}")) for f in files)
    return out


def main(argv):
    now = count_tree()
    then = count_rev(argv[0]) if argv else None
    for t in TARGETS:
        if then is None:
            print(f"{t}\t{now[t]}")
        else:
            print(f"{t}\t{argv[0]} {then[t]}\ttree {now[t]}\t"
                  f"{now[t] - then[t]:+d}")


if __name__ == "__main__":
    main(sys.argv[1:])
