"""Per-query plan fingerprints — the rotation-discipline ledger.

Round 6 shipped a changed plan (``tfidf_top_terms``: the corpus count
was folded into a broadcast aggregate) without a same-round driver
check, because window composition was a by-hand list and the change
landed after the list was drawn (VERDICT r6, "What's wrong" #3). This
module makes the discipline mechanical:

- ``query_fingerprint(name)`` hashes the query's oracle SQL plus the
  TRANSITIVE source of its builder: the builder function itself and
  every ``flink_anomaly_spark`` function/class it references, followed
  recursively (so editing an operator that a builder calls changes the
  builder's fingerprint, not just edits to the builder body).
- ``PLAN_MANIFEST.json`` (repo root) records each query's fingerprint
  AS OF ITS LAST DRIVER CHECK. The contract test
  (tests/test_driver_contract.py) fails when a query's current
  fingerprint differs from the manifest and the query does not hold a
  ``DRIVER_WINDOW`` slot — i.e. a changed plan MUST be re-checked by
  the driver in the round that changes it.
- At round wrap, after the window is final, refresh manifest entries
  for exactly the window members (they get checked this round):

      python tools/plan_fingerprints.py --refresh-window

  (``--refresh-all`` rewrites every entry — only for initializing the
  ledger or after a round where the FULL local gate stood in for the
  driver.)

Fingerprints are deliberately source-level, not bytecode: comment and
docstring edits DO change them. That is a feature — a false "changed"
costs one redundant window slot; a false "unchanged" costs an
unverified plan on the driver.
"""

from __future__ import annotations

import ast
import hashlib
import importlib
import inspect
import json
import os
import sys
import textwrap
import types

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

MANIFEST_PATH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLAN_MANIFEST.json"
)
_PKG = "flink_anomaly_spark"


def _source_of(obj) -> str | None:
    try:
        return inspect.getsource(obj)
    except (OSError, TypeError):
        return None


def _is_package_obj(obj) -> bool:
    mod = getattr(obj, "__module__", None)
    return isinstance(mod, str) and mod.startswith(_PKG)


#: Module-level names that are RUNTIME STATE, not plan configuration:
#: they mutate as queries execute (e.g. the dedup persist registry grows
#: with every _persist call), so hashing them makes a fingerprint depend
#: on what ELSE ran in the process before it was computed — the ledger
#: then reports phantom drift in any long-lived session (the round-11
#: order-dependent test_changed_plans_hold_window_slots failure). Plan-
#: shaping constants stay hashed; only execution-state registries are
#: excluded.
RUNTIME_STATE_NAMES = {
    ("flink_anomaly_spark.operators.dedup", "_PERSISTED"),
    # set by every lineage checkpoint, cleared by release_cached
    ("flink_anomaly_spark.operators.dedup", "_CHECKPOINTED"),
    # gains an inferred schema on the first read of each parquet file
    ("flink_anomaly_spark.tables", "_SCHEMA_CACHE"),
    ("flink_anomaly_spark.streaming.pipelines", "LAST_STATE_METRICS"),
    # set to the source file size as each streaming source is built —
    # hashing it would make fingerprints depend on which query ran last
    ("flink_anomaly_spark.streaming.pipelines", "_STREAM_SOURCE_BYTES"),
}


def _const_repr(obj) -> str | None:
    """Deterministic repr for module-level constants worth hashing.
    Sets are ordered by repr (iteration order varies with PYTHONHASHSEED,
    which would fabricate phantom drift); mutable containers are hashed
    by their insertion-ordered repr, which is stable given same source."""
    if isinstance(obj, (str, bytes, int, float, complex, bool, type(None))):
        return repr(obj)
    if isinstance(obj, (set, frozenset)):
        return "{" + ", ".join(sorted(repr(x) for x in obj)) + "}"
    if isinstance(obj, (tuple, list, dict)):
        return repr(obj)
    return None


def _walk_code(code: types.CodeType, globalns: dict, seen: set, parts: list) -> None:
    """Collect sources of every package-internal callable reachable from
    ``code``: names resolved through the defining module's globals, plus
    nested code objects (lambdas, inner defs, comprehensions). Module-
    level CONSTANTS referenced by name are hashed by value (round-7
    ADVICE: editing e.g. ``BPE_MAX_MERGES`` or ``_BPE_PAIRS_EXPR``
    changes the Spark plan without changing any function source — the
    ledger must see that)."""
    for name in code.co_names:
        obj = globalns.get(name)
        if obj is None:
            continue
        if isinstance(obj, types.ModuleType):
            # module-level attribute access (e.g. ``dedup.exact_dedup``)
            # is rare in builders; charging the whole module would flag
            # every query on any edit, so follow only direct callables.
            continue
        if (inspect.isfunction(obj) or inspect.isclass(obj)) and _is_package_obj(obj):
            _add_obj(obj, seen, parts)
            continue
        modname = globalns.get("__name__", "")
        if (
            not name.startswith("__")
            and isinstance(modname, str)
            and modname.startswith(_PKG)
            and (modname, name) not in RUNTIME_STATE_NAMES
        ):
            rep = _const_repr(obj)
            if rep is not None:
                key = (modname, f"<const>{name}")
                if key not in seen:
                    seen.add(key)
                    parts.append(f"# {modname}.{name}\n{rep}")
    for const in code.co_consts:
        if isinstance(const, types.CodeType):
            _walk_code(const, globalns, seen, parts)


def _add_obj(obj, seen: set, parts: list) -> None:
    key = (getattr(obj, "__module__", ""), getattr(obj, "__qualname__", repr(obj)))
    if key in seen:
        return
    seen.add(key)
    src = _source_of(obj)
    if src is None:
        return
    parts.append(f"# {key[0]}.{key[1]}\n{src}")
    # builders import their operator INSIDE the function body
    # (``from flink_anomaly_spark.operators.x import f``) — those names
    # are locals, invisible to the co_names/globals walk, so resolve
    # package-internal ImportFrom statements from the source directly
    try:
        tree = ast.parse(textwrap.dedent(src))
    except SyntaxError:
        tree = None
    if tree is not None:
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom) and node.module and node.module.startswith(_PKG):
                try:
                    mod = importlib.import_module(node.module)
                except ImportError:
                    continue
                for alias in node.names:
                    tgt = getattr(mod, alias.name, None)
                    if tgt is not None and (inspect.isfunction(tgt) or inspect.isclass(tgt)):
                        _add_obj(tgt, seen, parts)
    fns = []
    if inspect.isfunction(obj):
        fns = [obj]
    elif inspect.isclass(obj):
        fns = [m for m in vars(obj).values() if inspect.isfunction(m)]
    for fn in fns:
        mod = sys.modules.get(fn.__module__)
        globalns = vars(mod) if mod else {}
        _walk_code(fn.__code__, globalns, seen, parts)
        # functions imported into the builder's module under a different
        # name still resolve via globals; closures resolve via freevars
        if fn.__closure__:
            for cell in fn.__closure__:
                try:
                    cv = cell.cell_contents
                except ValueError:
                    continue
                if (inspect.isfunction(cv) or inspect.isclass(cv)) and _is_package_obj(cv):
                    _add_obj(cv, seen, parts)


def query_source_blob(name: str) -> str:
    """The transitive source text a query's fingerprint hashes: oracle
    SQL + the builder and every package function/class/constant it
    reaches. Exposed separately so tools/bench_gate.py can classify
    queries as Python-worker-backed (mapInPandas/pandas_udf in the
    blob) without duplicating the closure walk."""
    from flink_anomaly_spark.plans.registry import QUERIES, _load_all

    _load_all()
    spec = QUERIES[name]
    seen: set = set()
    parts: list[str] = []
    _add_obj(spec.build, seen, parts)
    return (spec.oracle or "<rows-only>") + "\n".join(sorted(parts))


def query_fingerprint(name: str) -> str:
    return hashlib.sha256(query_source_blob(name).encode()).hexdigest()[:16]


def compute_all() -> dict[str, str]:
    from flink_anomaly_spark.plans.registry import QUERIES, _load_all

    _load_all()
    return {name: query_fingerprint(name) for name in QUERIES}


def load_manifest() -> dict[str, str]:
    if not os.path.exists(MANIFEST_PATH):
        return {}
    return json.load(open(MANIFEST_PATH))


def main() -> int:
    args = sys.argv[1:]
    current = compute_all()
    manifest = load_manifest()
    if "--refresh-all" in args:
        json.dump(current, open(MANIFEST_PATH, "w"), indent=1, sort_keys=True)
        print(f"wrote {len(current)} fingerprints to {MANIFEST_PATH}")
        return 0
    if "--refresh" in args:
        # selective refresh for INSTRUMENTATION-ONLY transitive changes
        # (e.g. run_to_memory gaining state-metric capture): use ONLY
        # after re-verifying each named query against its oracle
        # locally, and record the rationale in the round notes.
        names = args[args.index("--refresh") + 1 :]
        unknown = [n for n in names if n not in current]
        if unknown:
            print(f"unknown queries: {unknown}")
            return 2
        for n in names:
            manifest[n] = current[n]
        json.dump(manifest, open(MANIFEST_PATH, "w"), indent=1, sort_keys=True)
        print(f"refreshed {len(names)} entries in {MANIFEST_PATH}")
        return 0
    if "--refresh-window" in args:
        from flink_anomaly_spark.plans.registry import DRIVER_WINDOW

        for n in DRIVER_WINDOW:
            manifest[n] = current[n]
        # new registrations outside the window would fail the contract
        # test anyway; record them only if present
        json.dump(manifest, open(MANIFEST_PATH, "w"), indent=1, sort_keys=True)
        print(f"refreshed {len(DRIVER_WINDOW)} window entries in {MANIFEST_PATH}")
        return 0
    # default: report drift
    changed = [n for n, fp in current.items() if manifest.get(n) not in (None, fp)]
    new = [n for n in current if n not in manifest]
    print(f"changed since last driver check: {len(changed)}")
    for n in changed:
        print(f"  {n}")
    print(f"never fingerprinted: {len(new)}")
    for n in new:
        print(f"  {n}")
    return 1 if changed or new else 0


if __name__ == "__main__":
    raise SystemExit(main())
