"""Every top-level def in the package is reachable from a root.

Roots are what runs the package: the module-level code of every package
module (the ``QUERIES``/``ORACLES`` registries, constants, ``__init__.py``
re-exports), every def in ``cli.py``, and whatever ``bench.py``,
``__spark_entry__.py``, ``tools/`` and ``perfbench/`` mention.  Tests are
not roots: a def that only its own test calls is a twin of a live form,
and it goes.

A reference is a name, an attribute or an identifier-shaped string (the
``getattr``/monkeypatch targets), resolved by name across the whole
package; an import alone is not a use.  Matching by name over-approximates
reachability, so the check can miss dead code but never flags live code.
Static analysis only (stdlib ``ast``), no Spark session.
"""

from __future__ import annotations

import ast
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "debezium_server_bigquery_spark"

# Unreachable on purpose: each is the only form of its algorithm, and a
# test pins it.
KEEP = {
    "sessionize_stream": "the only stateful streaming sessionizer; test_sessions.py pins it to the batch form",
    "interval_join_stream": "the only stream-stream interval join; test_stream_join.py pins it to the batch twin",
    "pca_project": "the only PCA projection; test_pca.py pins its axis order and recovery",
    "bpe_encode_words": "the only BPE encoder; test_bpe.py pins it to a Python reference",
}


def _refs(nodes) -> set[str]:
    out = set()
    for node in nodes:
        for n in ast.walk(node):
            if isinstance(n, ast.Name):
                out.add(n.id)
            elif isinstance(n, ast.Attribute):
                out.add(n.attr)
            elif isinstance(n, ast.Constant) and isinstance(n.value, str) and n.value.isidentifier():
                out.add(n.value)
    return out


def _parse(path: str) -> ast.Module:
    with open(path) as f:
        return ast.parse(f.read(), path)


def _graph() -> tuple[dict[tuple[str, str, int], set[str]], set[str]]:
    """``(module, name, line) -> names its body references``, and the root names."""
    defs: dict[tuple[str, str, int], set[str]] = {}
    roots: set[str] = set()
    for d, _dirs, files in os.walk(os.path.join(REPO, PKG)):
        for fname in sorted(files):
            if not fname.endswith(".py"):
                continue
            path = os.path.join(d, fname)
            rel = os.path.relpath(path, REPO)
            top = []
            for node in _parse(path).body:
                if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                    defs[(rel, node.name, node.lineno)] = _refs([node])
                    if fname == "cli.py":
                        roots.add(node.name)
                elif isinstance(node, (ast.Import, ast.ImportFrom)):
                    if fname == "__init__.py":  # re-exports: the package API
                        roots |= {a.asname or a.name for a in node.names}
                else:
                    top.append(node)
            roots |= _refs(top)
    scripts = ["bench.py", "__spark_entry__.py"]
    for sub in ("tools", "perfbench"):
        scripts += [os.path.join(sub, f) for f in sorted(os.listdir(os.path.join(REPO, sub)))
                    if f.endswith(".py")]
    for rel in scripts:
        roots |= _refs([_parse(os.path.join(REPO, rel))])
    return defs, roots


def _reachable(defs, start: set[str]) -> set[str]:
    by_name: dict[str, list[set[str]]] = {}
    for (_rel, name, _line), refs in defs.items():
        by_name.setdefault(name, []).append(refs)
    seen, todo = set(), list(start)
    while todo:
        name = todo.pop()
        if name in seen:
            continue
        seen.add(name)
        for refs in by_name.get(name, ()):
            todo.extend(refs - seen)
    return seen


def test_every_top_level_def_is_reachable():
    defs, roots = _graph()
    live = _reachable(defs, roots)
    # a kept def's helpers are live through it
    kept = _reachable(defs, live | set(KEEP))
    dead = sorted(f"{rel}:{line} {name}" for (rel, name, line) in defs if name not in kept)
    assert not dead, f"defs nothing reaches (delete them, or name a caller): {dead}"
    defined = {name for (_rel, name, _line) in defs}
    assert set(KEEP) <= defined, f"keep-list names no def: {sorted(set(KEEP) - defined)}"
    stale = sorted(set(KEEP) & live)
    assert not stale, f"keep-list names a reachable def, drop it from KEEP: {stale}"
