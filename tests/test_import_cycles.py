"""Guard: the `orc_rust_spark` package has no intra-package import cycle.

Every module is parsed with `ast`; top-level AND function-level imports
count, since a deferred import only hides a cycle, it does not remove
it.  `from pkg import name` is an edge to `pkg.name` when that is a
module of the package, else to `pkg` itself.
"""

import ast
from pathlib import Path

PKG = "orc_rust_spark"
ROOT = Path(__file__).resolve().parent.parent / PKG


def _modules() -> dict[str, Path]:
    mods = {}
    for path in ROOT.rglob("*.py"):
        parts = list(path.relative_to(ROOT.parent).with_suffix("").parts)
        if parts[-1] == "__init__":
            parts.pop()
        mods[".".join(parts)] = path
    return mods


def _import_graph(mods: dict[str, Path]) -> dict[str, set[str]]:
    graph: dict[str, set[str]] = {m: set() for m in mods}
    for mod, path in mods.items():
        is_pkg = path.name == "__init__.py"
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(node, ast.Import):
                targets = [a.name for a in node.names]
            elif isinstance(node, ast.ImportFrom):
                if node.level:
                    base = mod.split(".")
                    base = base[:len(base) - node.level + is_pkg]
                    if node.module:
                        base += node.module.split(".")
                    src = ".".join(base)
                else:
                    src = node.module or ""
                targets = [f"{src}.{a.name}" if f"{src}.{a.name}" in mods
                           else src for a in node.names]
            else:
                continue
            graph[mod].update(t for t in targets if t in mods and t != mod)
    return graph


def _cycles(graph: dict[str, set[str]]) -> list[list[str]]:
    """Strongly connected components with more than one module
    (Tarjan's algorithm)."""
    index: dict[str, int] = {}
    low: dict[str, int] = {}
    stack: list[str] = []
    on_stack: set[str] = set()
    out: list[list[str]] = []

    def visit(v: str) -> None:
        index[v] = low[v] = len(index)
        stack.append(v)
        on_stack.add(v)
        for w in sorted(graph[v]):
            if w not in index:
                visit(w)
                low[v] = min(low[v], low[w])
            elif w in on_stack:
                low[v] = min(low[v], index[w])
        if low[v] == index[v]:
            comp = []
            while True:
                w = stack.pop()
                on_stack.discard(w)
                comp.append(w)
                if w == v:
                    break
            if len(comp) > 1:
                out.append(sorted(comp))

    for v in sorted(graph):
        if v not in index:
            visit(v)
    return out


def test_no_import_cycles():
    graph = _import_graph(_modules())
    # the graph must see a top-level relative import and a function-level
    # one (predicate is imported inside read_orc), or the check is vacuous
    assert f"{PKG}.kernels.rle_v2" in graph[f"{PKG}.stripes"]
    assert f"{PKG}.sources.predicate" in graph[f"{PKG}.sources.orc_reader"]
    cycles = _cycles(graph)
    names = [" ↔ ".join(m.partition(".")[2] or m for m in c) for c in cycles]
    assert not cycles, "import cycles: " + "; ".join(names)
