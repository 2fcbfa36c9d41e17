"""Per-query code fingerprints for change-aware driver-window rotation.

VERDICT r08 item 2: a query whose defining code changed since its last
green driver CORRECTNESS row must re-enter the window automatically —
otherwise a behavior change ships with only the builder's local verification
(exactly what happened to the three replay-stream queries in round 8).

Granularity: module-level change detection is too coarse (one edit to
queries/events.py would re-queue ~60 queries and starve the certification
backlog), and bare function-source hashing is too fine (it missed the round-8
`_progress_wm_ms` helper fix, which changed stream behavior without touching
any query function). The fingerprint here is the sha256 over the *static
call closure*: the query function's source plus the source of every
function/class defined under the package that the function's code objects
reference by name, transitively, plus the oracle SQL. A helper edit
re-queues exactly the queries that (statically) reach it.

Known blind spots, accepted and documented: dynamic dispatch through dicts
of callables, string-keyed getattr, and module-level *constant* changes
(e.g. editing a literal lookup table) are invisible unless the constant is
read inside a fingerprinted function's source. Constants referenced by name
from a fingerprinted function ARE included via repr when they are simple
(str/int/float/tuple/dict/list of depth 1).

IMPORTANT — fingerprints are defined over IMPORT-TIME state. A module-level
mutable container referenced from a fingerprinted function (e.g.
catalog._NANOS_PROBE_CACHE and catalog._SCHEMA_CACHE, per-session memos) is
repr'd into the payload, so computing fingerprints in a process that has
already RUN queries hashes the mutated cache and spuriously drifts most of
the registry (caught in r09:
288 false "changed" queries inside the warm pytest process). changed_queries
therefore computes current fingerprints in a FRESH subprocess; in-process
computation is only safe immediately after import.

Usage:
    python tools/fingerprints.py --snapshot [name ...]
        Rewrite QUERY_FINGERPRINTS.json entries for the named queries (all
        driver-green queries when no names given) from the CURRENT tree.
        Run this ONLY when the working tree matches the code the driver
        certified — i.e. immediately after a driver round lands its
        CORRECTNESS_r*.json, before making edits.
    python tools/fingerprints.py --diff
        Print driver-green queries whose current fingerprint differs from
        the snapshot (these re-enter the next window).
"""

from __future__ import annotations

import hashlib
import inspect
import json
import sys
import types
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

SNAPSHOT = REPO / "QUERY_FINGERPRINTS.json"
_PKG_DIR = str(REPO / "uk_procurement_data_pipeline_spark")


def _code_objects(code: types.CodeType):
    yield code
    for const in code.co_consts:
        if isinstance(const, types.CodeType):
            yield from _code_objects(const)


def _const_repr(value) -> str | None:
    """Stable repr for simple module-level constants; None if too complex."""
    if isinstance(value, (str, int, float, bool, bytes)) or value is None:
        return repr(value)
    if isinstance(value, (tuple, list)):
        if all(isinstance(v, (str, int, float, bool, bytes)) for v in value):
            return repr(value)
    if isinstance(value, dict):
        if all(
            isinstance(k, (str, int)) and isinstance(v, (str, int, float, bool))
            for k, v in value.items()
        ):
            return repr(sorted(value.items(), key=repr))
    return None


def _in_package(obj) -> bool:
    try:
        f = inspect.getsourcefile(obj)
    except TypeError:
        return False
    return bool(f) and f.startswith(_PKG_DIR)


def closure_sources(fn) -> dict[str, str]:
    """(module.qualname | module.CONSTNAME) -> source/repr for the static
    call closure of ``fn`` within the package."""
    out: dict[str, str] = {}
    stack: list[object] = [fn]
    visited: set[str] = set()
    while stack:
        obj = stack.pop()
        obj = inspect.unwrap(obj)
        if not (inspect.isfunction(obj) or inspect.isclass(obj)):
            continue
        if not _in_package(obj):
            continue
        key = f"{obj.__module__}.{getattr(obj, '__qualname__', obj.__name__)}"
        if key in visited:
            continue
        visited.add(key)
        try:
            out[key] = inspect.getsource(obj)
        except OSError:
            continue
        mod = sys.modules.get(obj.__module__)
        mod_globals = vars(mod) if mod else {}
        codes: list[types.CodeType] = []
        if inspect.isfunction(obj):
            codes.extend(_code_objects(obj.__code__))
            # Closure cells (decorated/factory-made functions).
            for cell in obj.__closure__ or ():
                try:
                    stack.append(cell.cell_contents)
                except ValueError:
                    pass
        else:  # class: walk its own methods
            for member in vars(obj).values():
                if isinstance(member, (staticmethod, classmethod)):
                    member = member.__func__
                if inspect.isfunction(member):
                    codes.extend(_code_objects(member.__code__))
        names: set[str] = set()
        for c in codes:
            names.update(c.co_names)
        for n in sorted(names):
            tgt = mod_globals.get(n)
            if tgt is None:
                continue
            if inspect.isfunction(tgt) or inspect.isclass(tgt):
                stack.append(tgt)
            elif _const_repr(tgt) is not None:
                out.setdefault(f"{obj.__module__}.{n}", _const_repr(tgt))
        # FUNCTION-LOCAL package imports (r12 fix): `from pkg import
        # indexes` inside a query fn binds a LOCAL name, so the
        # module-globals resolution above never sees it — before this
        # fix, edits to indexes.py did not drift the fingerprints of the
        # catalog-routed queries (a behavior change could have shipped
        # on a stale green row). Parse the source for in-package import
        # statements and resolve referenced attributes through them.
        if inspect.isfunction(obj):
            import ast
            import textwrap

            try:
                tree = ast.parse(textwrap.dedent(out[key]))
            except SyntaxError:
                tree = None
            for node in ast.walk(tree) if tree else ():
                if not (
                    isinstance(node, ast.ImportFrom)
                    and node.module
                    and node.module.startswith(
                        "uk_procurement_data_pipeline_spark"
                    )
                ):
                    continue
                import importlib

                try:
                    src_mod = importlib.import_module(node.module)
                except ImportError:
                    src_mod = None
                for alias in node.names:
                    tgt = getattr(src_mod, alias.name, None) if src_mod else None
                    if tgt is None and src_mod is not None:
                        # submodule not yet imported (lazy in-function
                        # import) — import it for the walk
                        try:
                            tgt = importlib.import_module(
                                f"{node.module}.{alias.name}"
                            )
                        except ImportError:
                            tgt = None
                    if inspect.isfunction(tgt) or inspect.isclass(tgt):
                        stack.append(tgt)
                    elif inspect.ismodule(tgt) and tgt.__name__.startswith(
                        "uk_procurement_data_pipeline_spark"
                    ):
                        # module alias: pull the attributes the code
                        # actually references (co_names carries them)
                        for n in sorted(names):
                            t2 = getattr(tgt, n, None)
                            if inspect.isfunction(t2) or inspect.isclass(t2):
                                stack.append(t2)
    return out


def query_fingerprint(spec) -> str:
    parts = closure_sources(spec.fn)
    payload = json.dumps(
        {
            "closure": {k: hashlib.sha256(v.encode()).hexdigest()
                        for k, v in sorted(parts.items())},
            "oracle": spec.oracle,
        },
        sort_keys=True,
    )
    return hashlib.sha256(payload.encode()).hexdigest()


def current_fingerprints(names=None) -> dict[str, str]:
    from uk_procurement_data_pipeline_spark.queries import registry

    reg = registry()
    names = list(reg) if names is None else list(names)
    return {n: query_fingerprint(reg[n]) for n in names if n in reg}


def load_snapshot() -> dict[str, str]:
    if SNAPSHOT.exists():
        return json.loads(SNAPSHOT.read_text())
    return {}


def changed_queries(green: set[str]) -> list[str]:
    """Driver-green queries whose code differs from (or is absent in) the
    snapshot — these must re-enter the driver window.

    Runs the fingerprint computation in a FRESH interpreter so the result
    reflects import-time (static) state: a warm process that has executed
    queries mutates module-level memo caches that sit inside closures (see
    module docstring), which would spuriously drift nearly every query.
    """
    import subprocess

    proc = subprocess.run(
        [sys.executable, str(Path(__file__).resolve()), "--current-json"],
        input=json.dumps(sorted(green)),
        capture_output=True,
        text=True,
        cwd=str(REPO),
        check=False,
    )
    if proc.returncode != 0:
        # check=True would swallow the captured stderr (ADVICE r09); embed
        # it so import/env failures in the worker are diagnosable.
        raise RuntimeError(
            f"fingerprint worker exited {proc.returncode}; "
            f"stderr:\n{proc.stderr.strip()[-4000:]}"
        )
    cur = json.loads(proc.stdout)
    snap = load_snapshot()
    return [n for n in sorted(cur) if snap.get(n) != cur[n]]


def main(argv: list[str]) -> int:
    if "--current-json" in argv:
        # Fresh-process worker for changed_queries(): names as a JSON list
        # on stdin, {name: fingerprint} JSON on stdout. Nothing else may
        # print to stdout in this mode. Worker mode never needs the
        # CORRECTNESS_r*.json scan — keep it above _all_checked() so every
        # changed_queries subprocess skips that startup cost (ADVICE r09).
        names = json.loads(sys.stdin.read() or "null")
        print(json.dumps(current_fingerprints(names), sort_keys=True))
        return 0
    from tools.regen_coverage import _all_checked

    green = _all_checked()
    if "--snapshot" in argv:
        names = [a for a in argv if not a.startswith("--")] or sorted(green)
        snap = load_snapshot()
        snap.update(current_fingerprints(names))
        # Drop entries for queries no longer registered.
        from uk_procurement_data_pipeline_spark.queries import registry

        reg = set(registry())
        snap = {n: h for n, h in sorted(snap.items()) if n in reg}
        SNAPSHOT.write_text(json.dumps(snap, indent=1, sort_keys=True) + "\n")
        print(f"snapshot: {len(snap)} fingerprints written to {SNAPSHOT.name}")
        return 0
    changed = changed_queries(green)
    print(f"changed since certification ({len(changed)}):")
    for n in changed:
        print(f"  {n}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
