"""Every environment variable read in eggopress/ is a deliberate setting.

Reads are found in the AST (``os.environ.get``, ``os.environ[...]``,
``os.getenv``), so a new knob fails this test until it gets an entry in
ALLOWED with the reason it must stay configurable."""

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(ROOT, "eggopress")

# env var -> why it is a setting rather than a constant
ALLOWED = {
    "EGGOPRESS_LOCAL_DIR": "deployment: Spark shuffle/spill directory",
    "EGGOPRESS_DRIVER_MEM": "deployment: driver heap size",
    "EGGOPRESS_SCRATCH_DIR": "deployment: dedup intermediates directory",
    "SPARK_GRAFT_CPUS": "deployment: local core count",
    "EGGOPRESS_VALUES_PER_PART": "token-value partition floor; tests lower "
                                 "it to force multi-partition plans",
    "EGGOPRESS_JACCARD_SMALL_MB": "jaccard broadcast gate; tests zero it to "
                                  "force the shuffled plan",
    "EGGOPRESS_BROADCAST_CAP_MB": "broadcast cap, reworked by ROADMAP item 4",
}


def _is_os(node: ast.AST, attr: str) -> bool:
    """node is the expression os.<attr>."""
    return (isinstance(node, ast.Attribute) and node.attr == attr
            and isinstance(node.value, ast.Name) and node.value.id == "os")


def _env_key(node: ast.AST) -> ast.AST | None:
    """The name argument of an env read, or None when node is not one."""
    if isinstance(node, ast.Subscript) and _is_os(node.value, "environ"):
        return node.slice
    if isinstance(node, ast.Call) and node.args and (
            _is_os(node.func, "getenv") or (
                isinstance(node.func, ast.Attribute) and node.func.attr == "get"
                and _is_os(node.func.value, "environ"))):
        return node.args[0]
    return None


def _env_reads() -> dict[str, str]:
    """env var name -> first location it is read at. A read whose name is
    not a string literal maps under '<dynamic>'."""
    out: dict[str, str] = {}
    for d, _, fs in os.walk(PKG):
        for fname in sorted(fs):
            if not fname.endswith(".py"):
                continue
            path = os.path.join(d, fname)
            for node in ast.walk(ast.parse(open(path).read())):
                key = _env_key(node)
                if key is None:
                    continue
                name = (key.value if isinstance(key, ast.Constant)
                        and isinstance(key.value, str) else "<dynamic>")
                out.setdefault(name, f"{os.path.relpath(path, ROOT)}:{node.lineno}")
    return out


def test_every_env_read_is_allowed():
    extra = {n: loc for n, loc in _env_reads().items() if n not in ALLOWED}
    assert not extra, f"env vars read outside the allow-list: {extra}"


def test_allow_list_has_no_stale_entries():
    """An allowed knob the engine no longer reads leaves the list."""
    assert set(ALLOWED) <= set(_env_reads())
