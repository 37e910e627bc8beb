"""Count code lines: no blank, comment-only or docstring lines.

Usage:
  python tools/code_lines.py [--options] [ROOT ...]

ROOT defaults to bayesian_bm25_js_spark/ and jobs/ under the repo
root. Prints one "<lines>  <file>" row per .py file, then the total, so
two revisions can be compared with diff.

--options counts, instead of lines, the defaulted parameters of public
functions and methods (every def whose name does not start with "_",
nested ones included; keyword-only parameters count when they have a
default): the size of the option surface callers can set.
"""

from __future__ import annotations

import ast
import io
import os
import sys
import tokenize

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DEFAULT_ROOTS = ("bayesian_bm25_js_spark", "jobs")


def docstring_lines(tree: ast.AST) -> set:
    """Line numbers covered by module/class/function docstrings."""
    out = set()
    for node in ast.walk(tree):
        if not isinstance(
            node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)
        ):
            continue
        body = node.body
        if (
            body
            and isinstance(body[0], ast.Expr)
            and isinstance(body[0].value, ast.Constant)
            and isinstance(body[0].value.value, str)
        ):
            out.update(range(body[0].lineno, body[0].end_lineno + 1))
    return out


def code_lines(source: str) -> int:
    """Lines holding at least one token that is not a comment, a
    newline, an indent change or part of a docstring."""
    skip = docstring_lines(ast.parse(source))
    ignored = {
        tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE,
        tokenize.INDENT, tokenize.DEDENT, tokenize.ENDMARKER,
    }
    lines = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type in ignored:
            continue
        for line in range(tok.start[0], tok.end[0] + 1):
            if line not in skip:
                lines.add(line)
    return len(lines)


def defaulted_options(source: str) -> int:
    """Defaulted parameters of the public functions and methods."""
    return sum(
        len(node.args.defaults)
        + sum(d is not None for d in node.args.kw_defaults)
        for node in ast.walk(ast.parse(source))
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
        and not node.name.startswith("_")
    )


def py_files(root: str) -> list:
    if os.path.isfile(root):
        return [root]
    out = []
    for dirpath, dirnames, files in os.walk(root):
        dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
        out += [os.path.join(dirpath, f) for f in sorted(files) if f.endswith(".py")]
    return out


def main(argv=None) -> int:
    args = list(argv if argv is not None else sys.argv[1:])
    count = code_lines
    if "--options" in args:
        args.remove("--options")
        count = defaulted_options
    roots = args or [os.path.join(REPO, r) for r in DEFAULT_ROOTS]
    total = 0
    for root in roots:
        for path in py_files(root):
            with open(path, encoding="utf-8") as f:
                n = count(f.read())
            total += n
            print(f"{n:6d}  {os.path.relpath(path, REPO)}")
    print(f"{total:6d}  total")
    return 0


if __name__ == "__main__":
    sys.exit(main())
