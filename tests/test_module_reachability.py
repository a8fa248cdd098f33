"""Orphan-module guard: every package module is reachable from the engine.

Walks the ``import`` / ``from ... import`` statements of the package with
``ast`` (module-level, function-level and relative imports alike) from the
engine's entry points: the batch pipeline, the query registry and its four
suite modules, the stream jobs, the parity checker, the session factory and
the cache registry. A module the walk never reaches has no production
caller; it must be wired in, deleted, or listed in ``KEPT_UNREACHED`` with
the reason it stays.

The same walk then goes one level down, into the top-level functions of
the reached ``streaming`` and ``operators`` modules: a function no package
module (outside its own body) and no ``perfbench`` module names must be
listed in ``KEPT_UNREFERENCED`` with the reason it stays.

The ``suite`` modules get the same check, by reachability rather than by
mention: a top-level suite function must be reached from a ``@register``ed
query, from a name the suite modules use at module level (the oracle
strings, constants, decorators), or from a non-suite package module or a
``perfbench`` module, following the names each reached function's body
uses. Helpers only other unreached helpers (or tests) call are flagged;
``KEPT_UNREACHED_SUITE`` lists the ones kept on purpose. No Spark session
is needed.
"""

from __future__ import annotations

import ast
import pathlib

import edu_data_pipeline_spark as pkg

PKG_DIR = pathlib.Path(pkg.__file__).parent
PKG = PKG_DIR.name

ROOTS = (
    "pipeline",
    "suite",
    "suite.analytics_suite",
    "suite.cleaning_suite",
    "suite.curation_suite",
    "suite.scale_suite",
    "streaming.jobs",
    "parity",
    "session",
    "caches",
)

# Unreached on purpose, one line of reason each.
KEPT_UNREACHED = {
    "operators.prometheus": "Prometheus text registry; to be fed by engine stage spans",
    "streaming.kafka_io": "the reference's Kafka topics as stream source and sink",
    "operators.enrich": "stubbed AI enrichment of the reference",
    "operators.reports": "the reference's summary report",
    "schemas": "reference DDL for the schema conformance check",
    "plans.inspect": "plan-assertion helper the tests use",
}

# Top-level functions of reached streaming/ and operators/ modules that no
# package or perfbench code references, one line of reason each.
KEPT_UNREFERENCED = {
    "streaming.jobs.simulated_event_stream": "S6 reference rate producer, tested",
    "streaming.jobs.foreach_batch_upsert": "S7 reference upsert sink, tested",
    "streaming.jobs.foreach_batch_fanout": "S8/S9 one-read clean, DLQ and alert sinks, tested",
    "streaming.jobs.rolling_student_metrics": "A7/A8 reference running metrics and anomaly flag, tested",
    "streaming.jobs.count_bounded_metrics": "A7 reference count-bounded window, exact, tested",
    "streaming.jobs.active_students_window": "docx active-students window, tested",
    "streaming.jobs.session_metrics_stream": "docx per-student session windows, tested",
    "streaming.jobs.dedup_event_stream": "event-id dedup that survives a restart, tested",
    "streaming.jobs.run_available_now": "scheduled drain of the stream backlog, tested",
    "streaming.jobs.enrich_stream_with_dim": "stream-static student enrichment, tested",
    "streaming.jobs.stream_stream_attribution": "watch-to-completion interval join, tested",
    "operators.transform.course_summary": "A2 reference course aggregate, tested",
    "operators.metrics.observe_cleaning": "observed cleaning gauges for the run record, tested",
    "operators.bpe.segment_words": "applies learn_bpe's merges; round-trip tested",
    "operators.multimodal.resize_media": "media resize stage beside extract_features, tested",
    "operators.multimodal.sample_frames": "video frame sampling stage, tested",
}

# Top-level functions of suite modules that no registered query, suite
# module-level code, non-suite package module or perfbench module reaches,
# one line of reason each.
KEPT_UNREACHED_SUITE: dict[str, str] = {}


PERFBENCH_DIR = PKG_DIR.parent / "perfbench"


def _all_modules() -> dict[str, pathlib.Path]:
    """Dotted name (relative to the package, '' for its root) -> file."""
    out = {}
    for path in PKG_DIR.rglob("*.py"):
        parts = list(path.relative_to(PKG_DIR).with_suffix("").parts)
        if parts[-1] == "__init__":
            parts.pop()
        out[".".join(parts)] = path
    return out


def _with_parents(name: str) -> list[str]:
    """A module plus every package ``__init__`` importing it runs."""
    parts = name.split(".") if name else []
    return [".".join(parts[:i]) for i in range(len(parts) + 1)]


def _imports(name: str, path: pathlib.Path, modules: dict) -> set[str]:
    is_pkg = path.name == "__init__.py"
    here = name.split(".") if name else []
    found = set()

    def absolute(dotted: str | None) -> str | None:
        if not dotted:
            return None
        if dotted == PKG:
            return ""
        if dotted.startswith(PKG + "."):
            return dotted[len(PKG) + 1:]
        return None

    for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
        if isinstance(node, ast.Import):
            for alias in node.names:
                found.add(absolute(alias.name))
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                base = here if is_pkg else here[:-1]
                base = base[: len(base) - (node.level - 1)]
                if node.module:
                    base = base + node.module.split(".")
                mod = ".".join(base)
            else:
                mod = absolute(node.module)
            if mod is None:
                continue
            found.add(mod)
            for alias in node.names:
                sub = f"{mod}.{alias.name}" if mod else alias.name
                if sub in modules:
                    found.add(sub)
    return {m for m in found if m is not None and m in modules}


def _reached(roots=ROOTS) -> set[str]:
    modules = _all_modules()
    seen: set[str] = set()
    todo = [m for root in roots for m in _with_parents(root)]
    while todo:
        name = todo.pop()
        if name in seen:
            continue
        seen.add(name)
        for dep in _imports(name, modules[name], modules):
            todo.extend(_with_parents(dep))
    return seen


def test_roots_and_kept_modules_exist():
    modules = _all_modules()
    missing = sorted(
        m for m in (*ROOTS, *KEPT_UNREACHED) if m not in modules
    )
    assert not missing, f"named modules no longer exist: {missing}"


def test_every_module_is_reached_or_kept():
    reached = _reached()
    # importing a kept module runs its package __init__ files too
    kept = {p for m in KEPT_UNREACHED for p in _with_parents(m)}
    orphans = sorted(
        m for m in _all_modules() if m not in reached and m not in kept
    )
    assert not orphans, (
        "package modules no entry point imports (wire in, delete, or add "
        "to KEPT_UNREACHED with a reason): " + ", ".join(orphans)
    )


def test_kept_modules_are_really_unreached():
    reached = _reached()
    stale = sorted(m for m in KEPT_UNREACHED if m in reached)
    assert not stale, (
        "KEPT_UNREACHED names modules an entry point does import (drop "
        "them from the set): " + ", ".join(stale)
    )


def _names(tree: ast.AST, skip: ast.AST | None = None) -> set[str]:
    """Every name a tree refers to (variables, attributes, imported
    names), leaving out the subtree ``skip``."""
    out: set[str] = set()
    todo = [tree]
    while todo:
        node = todo.pop()
        if node is skip:
            continue
        if isinstance(node, ast.Name):
            out.add(node.id)
        elif isinstance(node, ast.Attribute):
            out.add(node.attr)
        elif isinstance(node, ast.alias):
            out.add(node.name.rsplit(".", 1)[-1])
        todo.extend(ast.iter_child_nodes(node))
    return out


def _unreferenced_functions() -> set[str]:
    """``module.function`` for each top-level function of a reached
    ``streaming``/``operators`` module that no package module (outside the
    function's own body) and no perfbench module names."""
    modules = _all_modules()
    trees = {
        path: ast.parse(path.read_text(), filename=str(path))
        for path in (*modules.values(), *PERFBENCH_DIR.rglob("*.py"))
    }
    seen = {path: _names(tree) for path, tree in trees.items()}
    out = set()
    for name in _reached():
        if not name.startswith(("streaming.", "operators.")):
            continue
        path = modules[name]
        for fn in trees[path].body:
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            if fn.name in _names(trees[path], skip=fn) or any(
                fn.name in names for p, names in seen.items() if p != path
            ):
                continue
            out.add(f"{name}.{fn.name}")
    return out


def test_every_function_is_referenced_or_kept():
    orphans = sorted(_unreferenced_functions() - set(KEPT_UNREFERENCED))
    assert not orphans, (
        "functions no package or perfbench code references (wire in, "
        "delete, or add to KEPT_UNREFERENCED with a reason): "
        + ", ".join(orphans)
    )


def test_kept_functions_are_really_unreferenced():
    stale = sorted(set(KEPT_UNREFERENCED) - _unreferenced_functions())
    assert not stale, (
        "KEPT_UNREFERENCED names functions that are referenced or no "
        "longer exist (drop them from the set): " + ", ".join(stale)
    )


def test_stream_jobs_do_not_import_the_registry():
    suite = sorted(
        m for m in _reached(("streaming.jobs",))
        if m == "suite" or m.startswith("suite.")
    )
    assert not suite, f"streaming.jobs reaches the query registry: {suite}"


def _is_register(dec: ast.expr) -> bool:
    target = dec.func if isinstance(dec, ast.Call) else dec
    name = target.attr if isinstance(target, ast.Attribute) else getattr(
        target, "id", None
    )
    return name == "register"


def _unreached_suite_functions() -> set[str]:
    """``module.function`` for each top-level function of a ``suite``
    module that the registry, suite module-level code, non-suite package
    code and perfbench do not reach, directly or through the bodies of
    reached suite functions."""
    modules = _all_modules()
    suite = {
        name: ast.parse(path.read_text(), filename=str(path))
        for name, path in modules.items()
        if name == "suite" or name.startswith("suite.")
    }
    funcs: dict[str, list[tuple[str, ast.AST]]] = {}
    roots: set[str] = set()
    for name, tree in suite.items():
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                funcs.setdefault(node.name, []).append((name, node))
                # decorators and defaults run at import, like module code
                for part in (*node.decorator_list, node.args):
                    roots |= _names(part)
                if any(_is_register(d) for d in node.decorator_list):
                    roots.add(node.name)
            else:
                roots |= _names(node)
    others = [
        path for name, path in modules.items() if name not in suite
    ] + list(PERFBENCH_DIR.rglob("*.py"))
    for path in others:
        roots |= _names(ast.parse(path.read_text(), filename=str(path)))
    reached: set[str] = set()
    todo = [n for n in roots if n in funcs]
    while todo:
        fn = todo.pop()
        if fn in reached:
            continue
        reached.add(fn)
        for _, node in funcs[fn]:
            todo.extend(n for n in _names(node) if n in funcs)
    return {
        f"{mod}.{fn}"
        for fn, defs in funcs.items()
        if fn not in reached
        for mod, _ in defs
    }


def test_every_suite_function_is_reached_or_kept():
    orphans = sorted(_unreached_suite_functions() - set(KEPT_UNREACHED_SUITE))
    assert not orphans, (
        "suite functions no registered query, suite module-level code, "
        "package or perfbench code reaches (wire in, delete, or add to "
        "KEPT_UNREACHED_SUITE with a reason): " + ", ".join(orphans)
    )


def test_kept_suite_functions_are_really_unreached():
    stale = sorted(set(KEPT_UNREACHED_SUITE) - _unreached_suite_functions())
    assert not stale, (
        "KEPT_UNREACHED_SUITE names suite functions that are reached or no "
        "longer exist (drop them from the set): " + ", ".join(stale)
    )
