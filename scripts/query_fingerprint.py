"""Per-query code fingerprints for resumable correctness ledgers.

md5 over the source of the module defining the query fn PLUS every
transitively-imported repo-local module (ADVICE r7: hashing only the
defining module missed edits to shared helpers like _shingle.py /
operators/cms.py that other modules import) + the oracle text. A kept
green ledger row whose fingerprint no longer matches is STALE (the
implementation changed after it went green) and must re-run — the
r6/r8 staleness discipline of sf1_gate.py's ledger (ADVICE r8: a
ledger that keeps MATCH rows forever certifies code that has since
changed).
"""

from __future__ import annotations

import ast
import hashlib
import importlib.util
import inspect

_PKG = "developing_img_etl_spark"
_src_cache: dict[str, str | None] = {}


def _module_source(modname: str) -> str | None:
    if modname not in _src_cache:
        try:
            spec = importlib.util.find_spec(modname)
            path = spec.origin if spec else None
            _src_cache[modname] = (
                open(path).read() if path and path.endswith(".py") else None
            )
        except (ImportError, OSError, ValueError, AttributeError):
            _src_cache[modname] = None
    return _src_cache[modname]


def _imported_names(modname: str, src: str) -> set[str]:
    """Candidate module names imported anywhere in ``src`` (incl.
    function-local imports), relative imports resolved against
    ``modname``. `from pkg import x` yields both pkg and pkg.x —
    non-module x just fails find_spec later and is skipped."""
    out: set[str] = set()
    for node in ast.walk(ast.parse(src)):
        if isinstance(node, ast.Import):
            out.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                parent = modname.split(".")[: -node.level]
                base = ".".join([*parent, base] if base else parent)
            if base:
                out.add(base)
            out.update(f"{base}.{a.name}" for a in node.names if base)
    return {n for n in out if n.split(".")[0] == _PKG}


def _closure_sources(root_mod: str) -> str:
    seen: set[str] = set()
    stack = [root_mod]
    while stack:
        m = stack.pop()
        if m in seen:
            continue
        seen.add(m)
        src = _module_source(m)
        if src is not None:
            stack.extend(_imported_names(m, src))
    parts = []
    for m in sorted(seen):
        src = _module_source(m)
        if src is not None:
            parts.append(f"# === {m}\n{src}")
    return "\n".join(parts)


def fingerprint(name: str, queries: dict, oracles: dict) -> str:
    fn = queries[name]
    mod = inspect.getmodule(fn)
    modname = getattr(mod, "__name__", "")
    if modname.split(".")[0] == _PKG:
        src = _closure_sources(modname)
    else:
        try:
            src = inspect.getsource(mod)
        except (OSError, TypeError):
            src = repr(fn)
    return hashlib.md5((src + "\x00" + oracles.get(name, "")).encode()).hexdigest()


def build_fingerprints(queries: dict, oracles: dict) -> dict[str, str]:
    return {name: fingerprint(name, queries, oracles) for name in queries}
