"""Static impact analysis: which registry queries embed a given
operator subtree.

The driver's 50-slot correctness rotation (``__spark_entry__``) fronts
queries whose Spark plan was rewritten after their last driver check.
Until r9 the "every registered consumer that EMBEDS the touched
subtree" scan was a hand review — exactly the kind of step that slips
in a busy round (r9 verdict finding #2, r9 advisor finding on the
missed x66). This module derives it mechanically.

How: an ``ast`` pass over every module in the package builds a
NAME-REFERENCE graph at top-level-definition granularity — nodes are
top-level functions, top-level classes and top-level assigned
constants, and an edge ``A -> B`` exists when A's source (body,
decorators, defaults, a class's bases and methods, or a constant's
value expression) references B through any of:

- a local top-level name (same module),
- a ``from pkg import symbol`` binding,
- a ``module_alias.symbol`` attribute chain (``import m as D`` /
  ``from pkg import mod as D``), including relative imports.

Reference edges deliberately over-approximate calls: a function passed
as a value (``fn=D.minhash_lsh_pairs``) or embedded in a dict of
strategies still creates an edge, and a decorator's oracle f-string
referencing a shared SQL CTE constant (``_IVF_ASSIGN_CTE``) creates an
edge from the registered builder to that constant — so ORACLE-side
rewrites of shared CTEs are scannable too, not just engine functions.
Over-approximation costs at most an extra re-verification slot;
under-approximation would silently starve a rewritten query of its
driver re-hash, so the bias is chosen deliberately.

A class is one node carrying every method's references, so whoever
names the class (constructs it, subclasses it, passes it) reaches all
of them — instance-method calls need no resolution of their own.

Out of scope (documented, not silent): dynamic dispatch through
strings (``getattr``, registry-name lookups) — the engine has none in
operator code; if one ever appears, its consumers need a manual
``_REWRITTEN_IN`` entry.

Nested builders (the ``_register_qs15()`` pattern, where the
registered function is defined inside a register helper) attribute to
their enclosing top-level function via ``__qualname__``, so the graph
stays uniform at top-level granularity.
"""

from __future__ import annotations

import ast
import os
from functools import lru_cache

_PKG_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_PKG = os.path.basename(_PKG_DIR)


def _modules() -> tuple[dict[str, str], frozenset[str]]:
    """(module qualname -> source path, package qualnames) for every
    .py in the package. Package-ness must travel with the name:
    ``pkg.sub`` names both ``pkg/sub/__init__.py`` and a hypothetical
    ``pkg/sub.py``, and relative imports resolve one component
    differently between the two (``from . import x`` inside an
    __init__ is ``pkg.sub.x``, inside a plain module ``pkg.x`` — r10
    advisor finding: conflating them silently severed edges)."""
    out: dict[str, str] = {}
    pkgs: set[str] = set()
    parent = os.path.dirname(_PKG_DIR)
    for dirpath, _dirs, files in os.walk(_PKG_DIR):
        for fname in files:
            if not fname.endswith(".py"):
                continue
            path = os.path.join(dirpath, fname)
            rel = os.path.relpath(path, parent)
            mod = rel[: -len(".py")].replace(os.sep, ".")
            if mod.endswith(".__init__"):
                mod = mod[: -len(".__init__")]
                pkgs.add(mod)
            out[mod] = path
    return out, frozenset(pkgs)


def _target_names(t: ast.expr) -> list[str]:
    """Plain names bound by an assignment target, recursing through
    tuple/list unpacking (``A, B = ...`` and starred elements).
    Attribute/subscript targets bind no module-level name."""
    if isinstance(t, ast.Name):
        return [t.id]
    if isinstance(t, ast.Starred):
        return _target_names(t.value)
    if isinstance(t, (ast.Tuple, ast.List)):
        return [n for e in t.elts for n in _target_names(e)]
    return []


def _dotted(node: ast.expr) -> str | None:
    """Flatten a Name / Attribute chain to ``a.b.c`` (None if the base
    is not a plain Name — e.g. a call result or subscript)."""
    parts: list[str] = []
    while isinstance(node, ast.Attribute):
        parts.append(node.attr)
        node = node.value
    if not isinstance(node, ast.Name):
        return None
    parts.append(node.id)
    return ".".join(reversed(parts))


def _resolve_from(
    mod: str, level: int, target: str | None, is_pkg: bool = False
) -> str:
    """Resolve a possibly-relative ``from`` base to an absolute module.

    ``is_pkg``: ``mod`` names a package (its ``__init__``), whose
    "current package" for level 1 is ``mod`` ITSELF — a plain module's
    is its parent. Python's own import machinery makes the same
    distinction via ``__package__``."""
    if level == 0:
        return target or ""
    base = mod.split(".")
    # level 1 = current package: a.b for module a.b.c, but a.b.c for
    # package a.b.c (strip one component fewer from an __init__)
    keep = len(base) - level + (1 if is_pkg else 0)
    if keep < 1:
        # Python raises ImportError("attempted relative import beyond
        # top-level package") here; producing an empty/truncated base
        # instead would mint phantom graph nodes that silently match
        # nothing — fail loudly per this module's policy (r11 advice).
        raise ValueError(
            f"relative import level {level} escapes package of {mod!r}"
        )
    base = base[:keep]
    return ".".join(base + ([target] if target else []))


#: top-level statements that define one named graph node; a class's
#: node carries its methods' references
_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


class _ModuleScan:
    def __init__(
        self,
        mod: str,
        path: str,
        modules: dict[str, str],
        packages: frozenset[str] = frozenset(),
    ):
        self.mod = mod
        is_pkg = mod in packages
        with open(path, encoding="utf-8") as fh:
            self.tree = ast.parse(fh.read(), filename=path)
        self.alias_mod: dict[str, str] = {}  # local name -> module qualname
        self.alias_sym: dict[str, str] = {}  # local name -> symbol node
        self.local_defs: set[str] = set()
        # imports are collected ANYWHERE in the module, not just at the
        # top level: streaming builders import operators inside their
        # function bodies (lazy import, to keep registration cheap),
        # and missing those severed qs12/qs14/qs15 from bloom_build /
        # heavy_hitters_from_sketch in the first cut of this graph.
        # Treating function-local aliases as module-wide slightly
        # over-approximates (alias shadowing), which is the safe bias.
        for node in ast.walk(self.tree):
            if isinstance(node, ast.Import):
                for a in node.names:
                    if not a.name.startswith(_PKG):
                        continue
                    local = a.asname or a.name.split(".")[0]
                    self.alias_mod[local] = (
                        a.name if a.asname else a.name.split(".")[0]
                    )
            elif isinstance(node, ast.ImportFrom):
                base = _resolve_from(mod, node.level, node.module, is_pkg)
                if not base.startswith(_PKG):
                    continue
                for a in node.names:
                    cand = f"{base}.{a.name}"
                    local = a.asname or a.name
                    if cand in modules:
                        self.alias_mod[local] = cand
                    else:
                        self.alias_sym[local] = cand
        # graph nodes come from the top level ONLY: nested defs and
        # assigns attribute to their enclosing top-level definition
        for node in self.tree.body:
            if isinstance(node, _DEFS):
                self.local_defs.add(node.name)
            elif isinstance(node, ast.Assign):
                for t in node.targets:
                    for name in _target_names(t):
                        self.local_defs.add(name)
            elif isinstance(node, ast.AnnAssign):
                if isinstance(node.target, ast.Name):
                    self.local_defs.add(node.target.id)

    def _refs(self, node: ast.AST) -> set[str]:
        """Resolved package-internal references inside ``node``."""
        out: set[str] = set()
        for sub in ast.walk(node):
            if isinstance(sub, ast.Attribute):
                chain = _dotted(sub)
                if chain is None or "." not in chain:
                    continue
                first, rest = chain.split(".", 1)
                if first in self.alias_mod:
                    out.add(f"{self.alias_mod[first]}.{rest}")
                elif first in self.alias_sym:
                    out.add(self.alias_sym[first])
                elif first in self.local_defs:
                    out.add(f"{self.mod}.{first}")
            elif isinstance(sub, ast.Name):
                if sub.id in self.local_defs:
                    out.add(f"{self.mod}.{sub.id}")
                elif sub.id in self.alias_sym:
                    out.add(self.alias_sym[sub.id])
        return out

    def edges(self) -> dict[str, set[str]]:
        out: dict[str, set[str]] = {}
        for node in self.tree.body:
            if isinstance(node, _DEFS):
                out.setdefault(f"{self.mod}.{node.name}", set()).update(
                    self._refs(node)
                )
            elif isinstance(node, (ast.Assign, ast.AnnAssign)):
                targets = (
                    node.targets
                    if isinstance(node, ast.Assign)
                    else [node.target]
                )
                refs = self._refs(node.value) if node.value else set()
                for t in targets:
                    # tuple/list unpacking (A, B = ...) registers every
                    # element as a node carrying the value's refs — an
                    # unregistered element would silently drop
                    # references flowing THROUGH it (r10 advisor
                    # finding). Per-element refs can't be split
                    # statically, so each element over-approximates
                    # with the full set (the safe bias).
                    for name in _target_names(t):
                        out.setdefault(f"{self.mod}.{name}", set()).update(
                            refs
                        )
        # a node must never self-reference (recursion would be a
        # zero-length cycle in the reverse BFS; harmless but noisy)
        for name, refs in out.items():
            refs.discard(name)
        return out


@lru_cache(maxsize=1)
def reference_graph() -> dict[str, frozenset[str]]:
    """``node -> referenced nodes`` over the whole package (cached)."""
    modules, packages = _modules()
    graph: dict[str, set[str]] = {}
    for mod, path in sorted(modules.items()):
        scan = _ModuleScan(mod, path, modules, packages)
        for name, refs in scan.edges().items():
            graph.setdefault(name, set()).update(refs)
    return {k: frozenset(v) for k, v in graph.items()}


def _query_nodes() -> dict[str, str]:
    """Registry query name -> graph node of its builder (nested
    builders map to their enclosing top-level register helper)."""
    from twitter_kafka_etl_spark.plans import REGISTRY

    return {
        name: f"{spec.build.__module__}.{spec.build.__qualname__.split('.')[0]}"
        for name, spec in REGISTRY.items()
    }


def _match_nodes(target: str, graph) -> set[str]:
    """Nodes matching a target, by exact qualname or dotted suffix
    (``operators.dedup.minhash_lsh_pairs`` or just
    ``dedup.minhash_lsh_pairs``)."""
    return {
        n for n in graph if n == target or n.endswith("." + target)
    }


def consumers_of(*targets: str) -> set[str]:
    """Registry query names whose builder transitively references any
    of ``targets`` (each a function or module-level constant, named by
    qualname or unambiguous dotted suffix). Raises on a target that
    matches nothing — a typo here would silently unfront every
    consumer, which is the failure mode this module exists to kill."""
    graph = reference_graph()
    seeds: set[str] = set()
    for t in targets:
        matched = _match_nodes(t, graph)
        if not matched:
            raise ValueError(
                f"impact target {t!r} matches no definition in the "
                "package reference graph — check the qualname"
            )
        seeds.update(matched)
    # reverse reachability: who reaches a seed?
    reverse: dict[str, set[str]] = {}
    for src, refs in graph.items():
        for dst in refs:
            reverse.setdefault(dst, set()).add(src)
    reached: set[str] = set(seeds)
    frontier = list(seeds)
    while frontier:
        node = frontier.pop()
        for src in reverse.get(node, ()):
            if src not in reached:
                reached.add(src)
                frontier.append(src)
    return {
        name for name, node in _query_nodes().items() if node in reached
    }


def rewritten_queries(ops: dict[str, int]) -> dict[str, int]:
    """Expand ``{operator target: rewrite round}`` to
    ``{query name: rewrite round}`` over the reference graph, taking
    the max round when several touched operators reach one query."""
    out: dict[str, int] = {}
    for target, rnd in ops.items():
        for name in consumers_of(target):
            out[name] = max(out.get(name, 0), rnd)
    return out
