"""Regenerate plans.DRIVER_VERIFIED_HISTORY from the CORRECTNESS_r*.json
artifacts: the union of query names the driver has hash-verified green in
any prior round. Run after each round's artifact lands; paste the output
into ssidentity_spark/plans/__init__.py (tests/test_registry_window.py
asserts the committed set matches the artifacts exactly).

FRESHNESS GUARD (r12, VERDICT r11 ask #7): history keys by NAME, so a
query edited after its last driver-green round would otherwise keep a
stale pass forever. tools/history_hashes.json stamps each history entry
with a content hash of its plan function source (inspect.getsource) +
its oracle SQL, taken at the round the evidence landed:

- ``--stamp``: refresh the stamp file. Names green in the NEWEST
  artifact are (re)stamped from current source — the tree the driver
  just verified; every other history name keeps its existing stamp
  (re-stamping those would erase the edit signal). Run at round start,
  right after regenerating DRIVER_VERIFIED_HISTORY, before editing.
- ``--stale``: list history entries whose CURRENT hash differs from the
  stamp (or that have no stamp). A stale parked entry must be re-queued
  into the driver window — its standing evidence no longer matches the
  code. tests/test_registry_window.py enforces this: every history name
  parked outside DRIVER_WINDOW must be fresh.

r13 (VERDICT r12 ask #5): the hash now covers the TRANSITIVE HELPER
CLOSURE — the plan function's own source plus the source of every
package-local function/class it references (recursively, through nested
code objects and package-local module attributes) and the repr of every
package-local module constant — so a shared-operator edit (r12's
star-CC prologue) flips every consumer stale automatically. Changing
the hash basis voids all v1 stamps, so the transition ran
``--stamp-rebase`` once (every history entry re-stamped from the r13
tree); the three consumers KNOWN to be executing r12-edited shared code
(dedup_cc_clusters, dedup_cluster_keep_best, pipe_cluster_safe_split)
were manually windowed in the same commit — the rebase documents, not
hides, that gap.

v3 (late r13): the walk also resolves FUNCTION-LOCAL imports (`from
ssidentity_spark.x import y` inside a plan function leaves only the
dotted path in co_names — v2 missed e.g. sim_ivfpq_pinned_topk's pq
import), and constant capture skips checkout-path-derived values
(SNAPSHOT_DIR et al.) so stamps hash code content, not where the tree
is checked out. The v3 sweep (pre-round tree vs final tree, closure
blobs only) found five PARKED queries whose executing closure changed
this round; all five were oracle-re-verified and re-queued into
DRIVER_WINDOW in the same commit as this change.

Known limits (documented, not hidden): dynamic dispatch (getattr by
computed name) and closures over non-literal state are invisible to the
closure walk (none are used in plan functions); and the r12 bootstrap
stamped pre-r12 entries from the r12 tree, so edits made BEFORE r12 are
vacuously fresh (all were locally 3-SF re-gated in r12).
"""

from __future__ import annotations

import glob
import hashlib
import inspect
import json
import os
import re
import sys

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

_STAMPS_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                            "history_hashes.json")


def _root(repo_root: str | None = None) -> str:
    return repo_root or os.path.dirname(
        os.path.dirname(os.path.abspath(__file__))
    )


def _artifacts(root: str) -> list[str]:
    def rnum(p: str) -> int:
        m = re.search(r"_r(\d+)\.json$", p)
        return int(m.group(1)) if m else -1

    return sorted(
        glob.glob(os.path.join(root, "CORRECTNESS_r*.json")), key=rnum
    )


def driver_green_history(repo_root: str | None = None) -> set[str]:
    green: set[str] = set()
    for path in _artifacts(_root(repo_root)):
        with open(path) as f:
            rows = json.load(f)
        for name, rec in rows.items():
            if rec.get("hash_match"):
                green.add(name)
    return green


def newest_green(repo_root: str | None = None) -> set[str]:
    """Names hash-green in the most recent artifact only."""
    paths = _artifacts(_root(repo_root))
    if not paths:
        return set()
    with open(paths[-1]) as f:
        rows = json.load(f)
    return {n for n, rec in rows.items() if rec.get("hash_match")}


_PKG = "ssidentity_spark"
_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _code_names(code) -> set[str]:
    """All global/attribute names referenced by a code object, including
    nested code objects (lambdas, comprehensions, inner defs)."""
    import types

    names = set(code.co_names)
    for const in code.co_consts:
        if isinstance(const, types.CodeType):
            names |= _code_names(const)
    return names


def _closure_parts(obj, names: set[str], parts: dict[str, str], seen: set) -> None:
    """Collect (label -> source/repr) for every package-local function,
    class, or module constant reachable from ``obj`` via the referenced
    ``names``; recurse through package-local functions."""
    import types

    if isinstance(obj, types.FunctionType):
        if getattr(obj, "__module__", "") is None or not obj.__module__.startswith(_PKG):
            return
        key = (obj.__module__, obj.__qualname__)
        if key in seen:
            return
        seen.add(key)
        label = f"{obj.__module__}.{obj.__qualname__}"
        try:
            parts[label] = inspect.getsource(obj)
        except (OSError, TypeError):
            return
        sub = _code_names(obj.__code__)
        g = obj.__globals__
        for nm in sorted(sub):
            if nm not in g:
                # function-local `from ssidentity_spark.x.y import z`
                # leaves the dotted module path in co_names but nothing
                # in __globals__ — resolve it through the import system
                # so locally-imported operators are walked too (v3; the
                # v2 walk missed e.g. sim_ivfpq_pinned_topk's pq import)
                if nm.startswith(_PKG + "."):
                    import importlib

                    try:
                        mod = importlib.import_module(nm)
                    except ImportError:
                        continue
                    _closure_parts(mod, sub, parts, seen)
                continue
            v = g[nm]
            if isinstance(v, (str, bytes, int, float, bool, tuple,
                              frozenset)):
                # IMMUTABLE module-level constants only (tunables, pinned
                # tables): repr is the content; frozensets are ordered for
                # determinism. Mutable containers (list/dict/set) are
                # deliberately NOT hashed — module-level caches
                # (_IVFPQ_MODEL_CACHE) and registries get POPULATED at
                # runtime, so their repr depends on what ran before the
                # hash, not on the code (a parked entry went "stale"
                # mid-suite exactly this way). Live-object reprs (memory
                # addresses) and checkout-path-derived constants are
                # skipped for the same reason: the stamp must hash CODE
                # CONTENT only.
                r = repr(
                    sorted(v, key=repr) if isinstance(v, frozenset) else v
                )
                if " at 0x" not in r and _REPO_ROOT not in r:
                    parts[f"{obj.__module__}.{nm}"] = r
            elif isinstance(v, (list, dict, set)):
                pass  # mutable runtime state — see note above
            else:
                _closure_parts(v, sub, parts, seen)
    elif isinstance(obj, type):
        if not getattr(obj, "__module__", "").startswith(_PKG):
            return
        key = (obj.__module__, obj.__qualname__)
        if key in seen:
            return
        seen.add(key)
        try:
            parts[f"{obj.__module__}.{obj.__qualname__}"] = inspect.getsource(obj)
        except (OSError, TypeError):
            pass
    elif isinstance(obj, types.ModuleType):
        if not getattr(obj, "__name__", "").startswith(_PKG):
            return
        # attribute access on a package-local module: co_names carries the
        # attribute names too, so resolve those that exist on the module
        for nm in sorted(names):
            if hasattr(obj, nm):
                attr = getattr(obj, nm)
                if isinstance(attr, (types.FunctionType, type, types.ModuleType)):
                    _closure_parts(attr, names, parts, seen)
                elif isinstance(attr, (str, bytes, int, float, bool, tuple,
                                       frozenset)):
                    # same rules as the function-globals branch: immutable
                    # content only, no live-object reprs, no checkout paths
                    r = repr(
                        sorted(attr, key=repr)
                        if isinstance(attr, frozenset)
                        else attr
                    )
                    if " at 0x" not in r and _REPO_ROOT not in r:
                        parts[f"{obj.__name__}.{nm}"] = r


# stands in for the checkout root in oracle SQL: snapshot-backed oracles
# embed absolute ``.fixture_snapshots`` paths, and the hash must not
# depend on where the tree is checked out
_ROOT_TOKEN = "<checkout>"


def plan_hash(name: str) -> str:
    """Content hash of a registered query's plan-function source + oracle
    SQL + the transitive source closure of every package-local helper it
    references — the freshness fingerprint for its driver-green evidence
    (v2, r13: shared-operator edits now flip consumers stale)."""
    from ssidentity_spark.registry import REGISTRY, _ensure_loaded

    _ensure_loaded()
    spec = REGISTRY[name]
    parts: dict[str, str] = {}
    _closure_parts(spec.fn, _code_names(spec.fn.__code__), parts, set())
    blob = "\n--part--\n".join(
        f"{label}\n{src}" for label, src in sorted(parts.items())
    )
    oracle = (spec.oracle or "").replace(_REPO_ROOT, _ROOT_TOKEN)
    return hashlib.sha256(
        (blob + "\n--oracle--\n" + oracle).encode()
    ).hexdigest()


def load_stamps() -> dict[str, str]:
    if not os.path.exists(_STAMPS_PATH):
        return {}
    with open(_STAMPS_PATH) as f:
        return json.load(f)


def compute_stale(
    history: set[str], stamps: dict[str, str], current: dict[str, str]
) -> set[str]:
    """Pure core of the guard: history entries whose current content hash
    is missing from or different to the stamped one. ``current`` maps
    name -> hash for every name still registered; a history name no
    longer in the registry is ignored (it cannot be windowed anyway)."""
    return {
        n
        for n in history
        if n in current and stamps.get(n) != current[n]
    }


def stale_history(repo_root: str | None = None) -> set[str]:
    from ssidentity_spark.registry import REGISTRY, _ensure_loaded

    _ensure_loaded()
    history = driver_green_history(repo_root)
    current = {n: plan_hash(n) for n in history if n in REGISTRY}
    return compute_stale(history, load_stamps(), current)


def refresh_stamps(repo_root: str | None = None, rebase: bool = False) -> dict[str, str]:
    """(Re)stamp names green in the newest artifact from CURRENT source;
    carry existing stamps for older history names; drop names that left
    the history or the registry. Writes tools/history_hashes.json.

    ``rebase=True`` re-stamps EVERY history entry from current source —
    required exactly once when the hash basis itself changes (the v1→v2
    closure-hash transition), because v1 stamps can never match a v2
    hash. A rebase erases the edit signal for entries whose helpers
    changed since their last green, so any KNOWN such entries must be
    manually windowed in the same commit (r13: the three star-CC
    consumers)."""
    from ssidentity_spark.registry import REGISTRY, _ensure_loaded

    _ensure_loaded()
    history = driver_green_history(repo_root)
    old = load_stamps()
    fresh = newest_green(repo_root)
    stamps: dict[str, str] = {}
    for n in sorted(history):
        if n not in REGISTRY:
            continue
        if rebase or n in fresh or n not in old:
            stamps[n] = plan_hash(n)
        else:
            stamps[n] = old[n]
    with open(_STAMPS_PATH, "w") as f:
        json.dump(stamps, f, indent=1, sort_keys=True)
        f.write("\n")
    return stamps


if __name__ == "__main__":
    if "--stamp-rebase" in sys.argv:
        stamps = refresh_stamps(rebase=True)
        print(f"REBASED {len(stamps)} history stamps -> {_STAMPS_PATH}")
    elif "--stamp" in sys.argv:
        stamps = refresh_stamps()
        print(f"stamped {len(stamps)} history entries -> {_STAMPS_PATH}")
    elif "--stale" in sys.argv:
        stale = sorted(stale_history())
        print(f"# {len(stale)} stale history entries (re-queue these)")
        for n in stale:
            print(n)
    else:
        names = sorted(driver_green_history())
        print(
            f"# {len(names)} driver-green queries across CORRECTNESS_r*.json"
        )
        for n in names:
            print(f'        "{n}",')
