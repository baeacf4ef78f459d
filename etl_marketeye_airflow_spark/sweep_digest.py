"""Per-query change digests for the driver-sweep rotation (stdlib only).

The external driver records ~50 correctness rows per round against a
200+-entry registry, so emission order decides which queries get
re-verified.  A query edited AFTER its last driver check must re-enter
the sweep before merely-stale ones — the r8 verdict's one residual risk
was exactly this blind spot (26 queries changed in r8 whose last driver
check predated the change).

The digest of a query is sha256 over:

  * the query function's source text (``inspect.getsource`` — includes
    the decorator call, so inline oracle literals are covered), plus
  * the EVALUATED oracle SQL string (so edits to oracle-building helpers
    like ``_sql_str_out`` propagate even though the helper's source is
    not part of the function), plus
  * the raw file text of every package module the function imports
    with a package-relative ``from .`` statement inside its body, and of
    every module THOSE import the same way, transitively (queries import
    operators locally, and operators import their helpers: an edit to
    ``operators/loop_kernels.py`` flags the consumers of ``graph.py``
    and ``dedup.py``, an edit to ``conf_scope.py`` those of
    ``sources/tables.py`` and every ``from .conf_scope import`` query).

KNOWN GAP (documented, fail-direction noted): the registry modules
themselves (``queries*.py``, ``_registry_base.py``) are never followed,
and names the registry imports at MODULE level (``_t``/``load_table``,
``_str_decimals`` …) are invisible to a function body — so a change to
``_registry_base.py`` or to the universal ``sources/tables.py`` loaders
does NOT change its consumers' digests unless a body imports the module
itself.  Those edits are rare and reviewed; when they happen, delete
the affected entries from ``tools/sweep_stamps.json`` so the queries
sort as changed.  The failure direction of digest-logic drift between
the stamp file and sort time is over-flagging (queries sort as changed
and get re-checked), never under-flagging a real red.

This module must stay importable with NOTHING but the stdlib: the stamp
tool loads it standalone (``importlib`` by file path) and applies it to
historical git trees.
"""

from __future__ import annotations

import hashlib
import os
import re

# `from .mod import a, b` / `from ..pkg.mod import (a, b)` / `from . import m`
_FROM_REL = re.compile(
    r"^[ \t]*from[ \t]+(\.+)([\w.]*)[ \t]+import[ \t]+(\([^)]*\)|[^\n#]+)", re.M
)
# the registry is digested per function, never as a dependency
_REGISTRY = re.compile(r"^(queries\w*|_registry_base)\.py$")

# Names imported at queries.py module level that still pin a dependency
# worth fingerprinting when they appear in a function body.  (load_table
# / _t are deliberately excluded: every query uses them, and flagging
# the whole registry on a tables.py touch would blow the ~50-row sweep
# budget; see the KNOWN GAP note above.)
_NAME_DEPS = {
    "load_events": "sources/tables.py",
    "load_events_stream": "sources/tables.py",
    "drain_available_now": "streaming/ingest.py",
}


def _imports(text: str, here: str, pkg_dir: str) -> set:
    """Package files that ``text`` (a module in directory ``here``,
    package-relative) imports with relative ``from`` statements."""
    found: set = set()
    for dots, path, names in _FROM_REL.findall(text):
        base = here.split("/") if here else []
        if len(dots) - 1 > len(base):
            continue  # climbs out of the package
        base = base[: len(base) - (len(dots) - 1)] + (path.split(".") if path else [])
        target = "/".join(base)
        if path and os.path.isfile(os.path.join(pkg_dir, target + ".py")):
            found.add(target + ".py")
            continue
        if not os.path.isdir(os.path.join(pkg_dir, target)):
            continue
        for name in names.strip("()").split(","):
            # `from .operators import text as tx` → "text"
            name = name.split(" as ")[0].strip()
            if not name:
                continue
            mod = "/".join(base + [name]) + ".py"
            init = "/".join(base + ["__init__.py"])
            if os.path.isfile(os.path.join(pkg_dir, mod)):
                found.add(mod)
            elif os.path.isfile(os.path.join(pkg_dir, init)):
                found.add(init)  # a name re-exported by the package
    return {f for f in found if not _REGISTRY.match(f)}


def _read(pkg_dir: str, rel: str, cache: dict) -> bytes:
    if rel not in cache:
        try:
            with open(os.path.join(pkg_dir, rel), "rb") as f:
                cache[rel] = f.read()
        except OSError:
            cache[rel] = b"<missing>"
    return cache[rel]


def referenced_modules(fn_source: str, pkg_dir: str, _file_cache: dict | None = None) -> list[str]:
    """Package-relative module paths the function source references,
    directly or through the modules it imports."""
    cache = _file_cache if _file_cache is not None else {}
    mods = _imports(fn_source, "", pkg_dir)
    for name, dep in _NAME_DEPS.items():
        if re.search(r"\b%s\b" % re.escape(name), fn_source):
            mods.add(dep)
    todo = sorted(mods)
    while todo:
        rel = todo.pop()
        text = _read(pkg_dir, rel, cache).decode("utf-8", "replace")
        for dep in _imports(text, os.path.dirname(rel), pkg_dir) - mods:
            mods.add(dep)
            todo.append(dep)
    return sorted(mods)


def query_digest(
    fn_source: str,
    oracle: str,
    pkg_dir: str,
    _file_cache: dict | None = None,
    include_deps: bool = True,
) -> str:
    """16-hex-char digest of (function source, oracle SQL, referenced
    module file texts).  ``pkg_dir`` is the package directory holding
    ``operators/`` etc.; pass ``_file_cache`` (a dict) when digesting
    many queries to read each module file once.

    ``include_deps=False`` gives the NARROW digest (function source +
    oracle only) — a narrow mismatch means the query's own plan or
    oracle text changed since its last driver check (highest re-check
    priority); a full-only mismatch means just a referenced operator
    module changed (re-check, but after the narrow set when the sweep
    budget is tight)."""
    h = hashlib.sha256()
    h.update(fn_source.encode("utf-8", "replace"))
    h.update(b"\x00")
    h.update((oracle or "").encode("utf-8", "replace"))
    cache = _file_cache if _file_cache is not None else {}
    for rel in referenced_modules(fn_source, pkg_dir, cache) if include_deps else ():
        h.update(b"\x00")
        h.update(rel.encode())
        h.update(b"\x00")
        h.update(_read(pkg_dir, rel, cache))
    return h.hexdigest()[:16]
