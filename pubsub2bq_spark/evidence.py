"""Implementation-hash evidence for the driver rotation.

The driver's capped per-round correctness run should spend its budget on
keys whose evidence is missing OR stale.  A CORRECTNESS_rN.json green row
only proves the implementation *as of round N*; if the operator is later
rewritten, the row is stale and the key must re-rotate forward (VERDICT r4
"What's wrong" #1, ADVICE r4 #3).

Mechanism: each key's evidence is keyed on an **implementation hash** —
sha256 of the registered function's source text *including its decorator
lines* (so inline oracle literals are covered too).  ``IMPL_EVIDENCE.json``
at the repo root records, per key, the hash the latest driver-green row
actually tested (computed from the git tree of the commit that added that
round's CORRECTNESS file — see scripts/impl_evidence.py).  At runtime the
rotation treats a key as green only when its recorded hash equals the
live hash.

The hash covers the registered function's source INCLUDING its decorator
lines (so inline oracle literals participate) PLUS the transitive closure
of same-module top-level symbols it references — helper functions and
module constants — extracted by AST so the live and historic sides use
byte-identical machinery.  A rewrite confined to a same-module helper
(the r4 ``token_entropy`` case) therefore re-rotates its callers.

Known coarseness (documented, accepted):

* Cross-module helpers are followed ONLY for first-party kernel modules
  (``pubsub2bq_spark.functions.*``): the closure walks ``from
  pubsub2bq_spark.functions.X import name`` bindings, absolute or
  relative (module-level or inside followed function bodies), into the
  kernel module and hashes the imported symbol's closure there,
  recursively across kernel modules (VERDICT r14 #1: the r14
  codec-kernel rewrites were invisible to the same-module-only hash,
  so the rotation never re-checked the callers).
  Shared infra (``tables.load`` / ``materialize`` / ``registry`` etc.)
  stays out of the hash; including it would flush most of the registry
  on any shared-infra edit, starving the 50-key budget.
* Oracles passed as module-level variables ARE covered when the variable
  is referenced from the decorated function's module scope text (it is a
  referenced module symbol), but oracle strings built by module-level
  helper CALLS executed at import time hash the helper's source, not the
  produced string.
"""

from __future__ import annotations

import ast
import hashlib
import inspect
import json
import os
from typing import Any, Callable

EVIDENCE_FILE = "IMPL_EVIDENCE.json"


def _normalize(src: str) -> str:
    return "\n".join(line.rstrip() for line in src.splitlines()).strip()


def impl_hash_of_source(src: str) -> str:
    return hashlib.sha256(_normalize(src).encode("utf-8")).hexdigest()


def unwrap_registered(fn: Callable) -> Callable:
    """Peel the registry's functools.wraps shim to the author's function."""
    while hasattr(fn, "__wrapped__"):
        fn = fn.__wrapped__
    return fn


# Only first-party kernel modules are followed cross-module (see the
# module docstring): narrow enough that shared-infra edits do not flush
# the registry, wide enough that a codec-kernel rewrite re-rotates every
# operator that imports it.
FOLLOW_MODULE_PREFIX = "pubsub2bq_spark.functions"


def _toplevel_symbols(tree: ast.Module, lines: list[str]) -> dict[str, tuple[str, set[str]]]:
    """{name: (source_segment, referenced_names)} for module-level defs,
    classes and simple constant assignments."""
    out: dict[str, tuple[str, set[str]]] = {}

    def seg(node: ast.stmt) -> str:
        start = node.lineno
        if (
            isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
            and node.decorator_list
        ):
            start = min(start, *[d.lineno for d in node.decorator_list])
        return "\n".join(lines[start - 1 : node.end_lineno])

    def refs(node: ast.stmt) -> set[str]:
        return {
            n.id for n in ast.walk(node) if isinstance(n, ast.Name)
        }

    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            out[node.name] = (seg(node), refs(node))
        elif isinstance(node, ast.Assign):
            for tgt in node.targets:
                if isinstance(tgt, ast.Name):
                    out[tgt.id] = (seg(node), refs(node))
        elif isinstance(node, ast.AnnAssign) and isinstance(node.target, ast.Name):
            out[node.target.id] = (seg(node), refs(node))
    return out


def _absolute_module(node: ast.ImportFrom, package: str | None) -> str | None:
    """The dotted module an ImportFrom names; relative imports resolve
    against ``package`` (the importing module's package), and are
    unresolvable (None) when it is unknown or too shallow."""
    if not node.level:
        return node.module or ""
    if not package:
        return None
    parts = package.split(".")
    if node.level - 1 >= len(parts):
        return None
    base = ".".join(parts[: len(parts) - (node.level - 1)])
    return f"{base}.{node.module}" if node.module else base


def _followed_imports(
    tree: ast.Module, package: str | None = None
) -> dict[str, tuple[str, str]]:
    """{local_name: (target_module, original_name)} for every ``from
    pubsub2bq_spark.functions[.X] import name`` binding anywhere in the
    module (module level or inside a function body — kernels are often
    imported lazily inside the mapInPandas bodies for executor pickling).
    Relative imports (``from ..functions.X import name``) are resolved
    against ``package``, the importing module's package. Module-wide
    collection is a deliberate over-approximation: a name imported in
    one function applies to the whole module's ref resolution, which at
    worst hashes slightly more than a symbol truly uses (extra
    staleness, never missed staleness)."""
    out: dict[str, tuple[str, str]] = {}
    for node in ast.walk(tree):
        if not isinstance(node, ast.ImportFrom):
            continue
        mod = _absolute_module(node, package)
        if mod is None:
            continue
        if mod != FOLLOW_MODULE_PREFIX and not mod.startswith(
            FOLLOW_MODULE_PREFIX + "."
        ):
            continue
        for alias in node.names:
            if alias.name == "*":
                continue
            out[alias.asname or alias.name] = (mod, alias.name)
    return out


class _ModuleInfo:
    __slots__ = ("symbols", "imports")

    def __init__(self, module_src: str, package: str | None):
        tree = ast.parse(module_src)
        self.symbols = _toplevel_symbols(tree, module_src.splitlines())
        self.imports = _followed_imports(tree, package)


# Parsed-module memo keyed by (source text, package): fresh_green_keys
# hashes every registry key and most share a handful of operator/kernel
# modules.
_MODINFO_CACHE: dict[tuple[str, str | None], _ModuleInfo] = {}


def _modinfo(module_src: str, module_name: str | None = None) -> _ModuleInfo | None:
    package = module_name.rpartition(".")[0] if module_name else None
    cache_key = (module_src, package)
    info = _MODINFO_CACHE.get(cache_key)
    if info is None:
        try:
            info = _ModuleInfo(*cache_key)
        except SyntaxError:
            return None
        if len(_MODINFO_CACHE) > 64:
            _MODINFO_CACHE.clear()
        _MODINFO_CACHE[cache_key] = info
    return info


def closure_source(
    module_src: str,
    fn_name: str,
    load_module: Callable[[str], str | None] | None = None,
    module_name: str | None = None,
) -> str | None:
    """The function's source (decorators included) followed by the
    sources of every same-module top-level symbol it transitively
    references, sorted by name — then, when ``load_module`` is given, the
    closures of every referenced first-party kernel symbol (imported from
    ``pubsub2bq_spark.functions.*``), recursively across kernel modules,
    sorted by (module, name) and tagged with their module path.  The text
    the implementation hash covers.  None when the function is not a
    top-level def here.  ``load_module`` maps a dotted module name to its
    source text (live tree or a historic git blob) or None;
    ``module_name`` is the root module's dotted name, against whose
    package its relative imports resolve."""
    root_info = _modinfo(module_src, module_name)
    if root_info is None or fn_name not in root_info.symbols:
        return None
    # (module_key, name) pairs; "" is the root module.  External parts
    # are keyed by dotted module name so identical symbol names in two
    # kernel modules cannot collide.
    seen: set[tuple[str, str]] = set()
    infos: dict[str, _ModuleInfo | None] = {"": root_info}
    external: dict[tuple[str, str], str] = {}
    frontier: list[tuple[str, str]] = [("", fn_name)]

    def info_for(mod: str) -> _ModuleInfo | None:
        if mod not in infos:
            src = load_module(mod) if load_module else None
            infos[mod] = _modinfo(src, mod) if src is not None else None
        return infos[mod]

    def follow(mod: str, name: str) -> None:
        """Enqueue a followed binding; when ``name`` resolves to neither
        a symbol nor a re-export in ``mod`` (``from ...functions import
        submodule``), hash the whole submodule."""
        info = info_for(mod)
        if info is not None and (name in info.symbols or name in info.imports):
            frontier.append((mod, name))
            return
        sub = f"{mod}.{name}"
        if (sub, "") not in seen:
            seen.add((sub, ""))
            src = load_module(sub) if load_module else None
            if src is not None:
                external[(sub, "")] = src

    while frontier:
        mod, name = frontier.pop()
        if (mod, name) in seen:
            continue
        info = infos[mod]
        if info is None:
            continue
        if name in info.symbols:
            seen.add((mod, name))
            if mod:
                external[(mod, name)] = info.symbols[name][0]
            for ref in info.symbols[name][1]:
                if ref in info.symbols:
                    frontier.append((mod, ref))
                elif load_module is not None and ref in info.imports:
                    follow(*info.imports[ref])
        elif name in info.imports and load_module is not None:
            seen.add((mod, name))
            follow(*info.imports[name])

    same_module = {n for m, n in seen if m == ""}
    parts = [root_info.symbols[fn_name][0]] + [
        root_info.symbols[n][0] for n in sorted(same_module - {fn_name})
    ]
    for (mod, name), seg in sorted(external.items()):
        parts.append(f"{mod}::{name}\n{seg}")
    return "\n\x00\n".join(parts)


def _live_module_loader(dotted: str) -> str | None:
    """Source text of a first-party module in the live tree."""
    if not dotted.startswith("pubsub2bq_spark"):
        return None
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = os.path.join(root, *dotted.split(".")) + ".py"
    try:
        with open(path) as f:
            return f.read()
    except OSError:
        return None


def live_impl_hash(fn: Callable) -> str | None:
    """Hash of the registered function's current closure source (the
    function + same-module helpers/constants it references + followed
    first-party kernel imports).  Falls back to the bare function source
    for non-top-level defs (test stubs); None when source is unavailable
    entirely."""
    fn = unwrap_registered(fn)
    try:
        module = inspect.getmodule(fn)
        module_src = inspect.getsource(module)
        src = closure_source(
            module_src, fn.__name__, _live_module_loader, module.__name__
        )
        if src is not None:
            return impl_hash_of_source(src)
        return impl_hash_of_source(inspect.getsource(fn))
    except (OSError, TypeError):
        return None


def live_fn_hash(fn: Callable) -> str | None:
    """Hash of ONLY the registered function's own source (decorators
    included) — the narrow hash that distinguishes strong staleness (the
    operator itself was rewritten) from weak staleness (only a referenced
    same-module helper/constant moved)."""
    try:
        return impl_hash_of_source(inspect.getsource(unwrap_registered(fn)))
    except (OSError, TypeError):
        return None


def live_hashes(registry: dict[str, Any]) -> dict[str, str | None]:
    return {key: live_impl_hash(q.spark) for key, q in registry.items()}


def load_evidence(root: str) -> dict[str, dict[str, Any]]:
    """Read IMPL_EVIDENCE.json ({key: {round, hash, kind}}); {} if absent."""
    path = os.path.join(root, EVIDENCE_FILE)
    try:
        with open(path) as f:
            data = json.load(f)
    except (OSError, ValueError):
        return {}
    return {k: v for k, v in data.items() if isinstance(v, dict)}


def fresh_green_keys(
    registry: dict[str, Any], root: str
) -> tuple[set[str], set[str], set[str]]:
    """Split evidenced keys into (fresh, strong_stale, weak_stale).

    *Fresh*: IMPL_EVIDENCE.json records a closure hash equal to the live
    hash of the registered function (and "rows_only" evidence still
    applies — it counts only while the key has no oracle).
    *Strong-stale*: the operator's OWN source changed since its green row
    (fn_hash mismatch) — highest re-check priority.
    *Weak-stale*: only referenced same-module helpers/constants changed
    (closure mismatch with fn_hash intact) — lower priority; behavior may
    have drifted but the operator text is the proven one.
    Keys with no evidence at all appear in none of the sets.
    """
    evidence = load_evidence(root)
    fresh: set[str] = set()
    strong: set[str] = set()
    weak: set[str] = set()
    for key, row in evidence.items():
        if key not in registry:
            continue
        kind = row.get("kind")
        if kind == "rows_only" and registry[key].oracle is not None:
            strong.add(key)
            continue
        if row.get("hash") and row["hash"] == live_impl_hash(registry[key].spark):
            fresh.add(key)
        elif row.get("fn_hash") and row["fn_hash"] == live_fn_hash(
            registry[key].spark
        ):
            weak.add(key)
        else:
            strong.add(key)
    return fresh, strong, weak
