"""Every function in eggopress/ has a caller outside its own body, counted
over eggopress/, __spark_entry__.py and the bench scripts (tests do not
count), and no module defines the same function twice."""

import ast
import os
import re

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(ROOT, "eggopress")
CALLERS = ("__spark_entry__.py", "bench.py", "bench_extra.py")

# function -> why it may have no production caller
EXCEPTIONS = {
    "codec_report": "the per-column codec-mix surface ROADMAP item 5 "
                    "builds on (describe --codecs)",
}


def _sources() -> dict[str, str]:
    files = [os.path.join(d, f) for d, _, fs in os.walk(PKG)
             for f in fs if f.endswith(".py")]
    files += [os.path.join(ROOT, f) for f in CALLERS
              if os.path.exists(os.path.join(ROOT, f))]
    return {f: open(f).read() for f in files}


def _definitions(sources: dict[str, str]):
    """(file, name, first line, last line) of every module-level function
    and method in eggopress/ (dunder methods excluded)."""
    for f, text in sources.items():
        if not f.startswith(PKG):
            continue
        for node in ast.parse(text).body:
            if isinstance(node, ast.FunctionDef):
                yield f, node.name, node.lineno, node.end_lineno
            elif isinstance(node, ast.ClassDef):
                for m in node.body:
                    if isinstance(m, ast.FunctionDef) and not m.name.startswith("__"):
                        yield f, m.name, m.lineno, m.end_lineno


def _unreferenced() -> dict[str, str]:
    """name -> location of each function whose name appears nowhere
    outside its own definition."""
    sources = _sources()
    lines = {f: text.splitlines() for f, text in sources.items()}
    out = {}
    for f, name, first, last in _definitions(sources):
        word = re.compile(rf"\b{re.escape(name)}\b")
        if not any(word.search(line)
                   for g, ls in lines.items()
                   for i, line in enumerate(ls, 1)
                   if not (g == f and first <= i <= last)):
            out[name] = f"{os.path.relpath(f, ROOT)}:{first}"
    return out


def test_every_function_is_referenced():
    dead = {n: loc for n, loc in _unreferenced().items() if n not in EXCEPTIONS}
    assert not dead, f"functions with no reference outside their body: {dead}"


def test_exceptions_are_still_needed():
    """An exception whose function gained a caller (or was deleted) goes."""
    assert set(EXCEPTIONS) <= set(_unreferenced())


def test_no_function_defined_twice():
    for f, text in _sources().items():
        if not f.startswith(PKG):
            continue
        names = [n.name for n in ast.parse(text).body
                 if isinstance(n, ast.FunctionDef)]
        dup = {n for n in names if names.count(n) > 1}
        assert not dup, f"{os.path.relpath(f, ROOT)} redefines {sorted(dup)}"
