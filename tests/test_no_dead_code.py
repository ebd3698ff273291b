"""Every function in eggopress/ has a caller outside its own body, counted
over eggopress/, __spark_entry__.py and the bench scripts and perfbench/
(tests do not count), and no module defines the same function twice.

A reference is a real use in code: a Name, an Attribute or an imported
name (f-string expressions included). Docstrings and comments are not
code, so a function mentioned only there counts as unreferenced."""

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(ROOT, "eggopress")
CALLERS = ("__spark_entry__.py", "bench.py", "bench_extra.py")
BENCH = os.path.join(ROOT, "perfbench")

# function -> why it may have no production caller
EXCEPTIONS = {
    "codec_report": "the per-column codec-mix surface ROADMAP item 5 "
                    "builds on (describe --codecs)",
    "stream_stats": "the watermarked windowed per-source arrival rollup "
                    "(COVERAGE 'streaming stats' row)",
}


def _sources() -> dict[str, str]:
    files = [os.path.join(d, f) for d, _, fs in os.walk(PKG)
             for f in fs if f.endswith(".py")]
    files += [os.path.join(ROOT, f) for f in CALLERS
              if os.path.exists(os.path.join(ROOT, f))]
    if os.path.isdir(BENCH):
        files += [os.path.join(BENCH, f) for f in sorted(os.listdir(BENCH))
                  if f.endswith(".py")]
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


def _references(tree: ast.AST):
    """(name, line) of every Name, Attribute and imported name in tree."""
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            yield node.id, node.lineno
        elif isinstance(node, ast.Attribute):
            yield node.attr, node.lineno
        elif isinstance(node, ast.alias):
            yield node.name.rsplit(".", 1)[-1], node.lineno


def _unreferenced() -> dict[str, str]:
    """name -> location of each function with no reference outside its
    own definition."""
    sources = _sources()
    refs = {f: list(_references(ast.parse(text))) for f, text in sources.items()}
    out = {}
    for f, name, first, last in _definitions(sources):
        if not any(ref == name and not (g == f and first <= line <= last)
                   for g, rs in refs.items() for ref, line in rs):
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
