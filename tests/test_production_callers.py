"""Every top-level def and class in the package has a production caller,
or a written reason to stay.

A def is live when it is a registered builder (``@register`` or
``@_register_if_runnable``), or when production code refers to it by
name, attribute or import alias outside the def's own body. Production
code is the package, ``bench.py``, ``__spark_entry__.py`` and the
non-test files of ``perfbench/``; ``tools/`` and ``tests/`` are not.
A module-level ``f.attr = ...`` statement (``f.__doc__ =
f.__doc__.format(...)``) belongs to ``f``'s body. A def that only the
tests or the tools use is deleted, or it gets an ``ALLOWLIST`` entry
with a one-line reason; a reason that starts with ``open:`` parks a
def that waits for a caller, and does not count. The guard reads the
syntax tree, so a docstring or a comment that names a def is not a
caller.

The check looks at direct references only: deleting a def can leave
helpers that only it used, and the next run reports those."""

from __future__ import annotations

import ast
import textwrap
from collections.abc import Iterable
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = "reddit_can_bigdata_spark"
REGISTRARS = {"register", "_register_if_runnable"}

#: an allowlist reason that starts with this does not count
_OPEN = "open:"

#: kept without a production caller, keyed by module path inside the
#: package and def name
ALLOWLIST: dict[str, str] = {
    # references the tests compare against
    "functions.vader.vader_compound_py": "reference: the pure-Python VADER the expression and join paths must match",
    "operators.graph.betweenness_exact": "reference: driver-side Brandes that g3b with every source must reproduce",
    # fixtures and plan-assertion helpers
    "multimodal.binaryops.synthetic_media": "fixture: deterministic media table for the sample_frames tests",
    "operators.similarity.ivf_centroids_trained": "fixture: tools/make_ivf_fixture.py trains the committed IVF codebook with it",
    "operators.approx.cms_estimate": "test support: the CMS point query that checks cms_event_type_sketch",
    "plans.inspect.has_pushed_filter": "test support: plan assertion helper",
    "plans.inspect.read_schemas": "test support: plan assertion helper",
    "plans.inspect.join_kinds": "test support: plan assertion helper",
    "plans.inspect.count_exchanges": "test support: plan assertion helper",
    # deployment and public API
    "streaming.pipeline.kafka_stream": "deployment: the reference's Kafka source (S1/S2); its connector is not installed here",
    "functions.vader.load_vader_lexicon": "public API: the drop-in path for the full published VADER lexicon",
    "registry.all_oracles": "public API: named in the package docstring",
}


_TOP = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _module_name(path: Path, root: Path) -> str:
    parts = list(path.relative_to(root).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _bindings(tree: ast.Module) -> dict[str, str]:
    """Local name -> dotted path, for every import in the module."""
    out: dict[str, str] = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for alias in node.names:
                name = alias.name if alias.asname else alias.name.split(".")[0]
                out[alias.asname or name] = name
        elif isinstance(node, ast.ImportFrom):
            for alias in node.names:
                out[alias.asname or alias.name] = f"{node.module}.{alias.name}"
    return out


def _owner(stmt: ast.stmt, top: set[str]) -> str | None:
    """The top-level def a module-level statement belongs to: the def
    itself, or the def that an ``f.attr = ...`` assigns onto
    (``f.__doc__ = f.__doc__.format(...)``); None for any other."""
    if isinstance(stmt, _TOP):
        return stmt.name
    if isinstance(stmt, ast.Assign):
        bases = {
            t.value.id if isinstance(t, ast.Attribute) and isinstance(t.value, ast.Name) else None
            for t in stmt.targets
        }
        if len(bases) == 1 and bases <= top:
            return bases.pop()
    return None


def _references(tree: ast.Module, module: str) -> Iterable[tuple[str, str | None]]:
    """(dotted target, dotted top-level def it sits in, or None) per
    reference. An attribute on anything but an imported or top-level
    name yields ``*.attr``, which matches a def of that name anywhere."""
    binds = _bindings(tree)
    top = {s.name for s in tree.body if isinstance(s, _TOP)}

    def resolve(name: str) -> str | None:
        if name in binds:
            return binds[name]
        return f"{module}.{name}" if name in top else None

    for stmt in tree.body:
        name = _owner(stmt, top)
        owner = f"{module}.{name}" if name else None
        for node in ast.walk(stmt):
            if isinstance(node, ast.ImportFrom):
                for alias in node.names:
                    yield binds[alias.asname or alias.name], owner
            elif isinstance(node, ast.Name):
                target = resolve(node.id)
                if target:
                    yield target, owner
            elif isinstance(node, ast.Attribute):
                chain = []
                base: ast.expr = node
                while isinstance(base, ast.Attribute):
                    chain.insert(0, base.attr)
                    base = base.value
                target = resolve(base.id) if isinstance(base, ast.Name) else None
                if target is None:
                    yield f"*.{chain[-1]}", owner
                else:
                    for i in range(1, len(chain) + 1):
                        yield ".".join([target, *chain[:i]]), owner


def _registered(node: ast.stmt) -> bool:
    for deco in getattr(node, "decorator_list", []):
        func = deco.func if isinstance(deco, ast.Call) else deco
        name = func.attr if isinstance(func, ast.Attribute) else getattr(func, "id", "")
        if name in REGISTRARS:
            return True
    return False


def production_files(root: Path) -> list[Path]:
    entry = [root / n for n in ("bench.py", "__spark_entry__.py")]
    bench = [
        p for p in sorted((root / "perfbench").glob("*.py"))
        if not p.name.startswith("test_")
    ]
    return [*sorted((root / PKG).rglob("*.py")), *(p for p in entry if p.exists()), *bench]


def unreferenced(root: Path, allowlist: dict[str, str]) -> tuple[list[str], list[str]]:
    """(package defs with no production caller and no allowlist entry,
    each with its line count; allowlist entries that are live or name
    no def). Names are dotted paths inside the package. An entry whose
    reason starts with ``open:`` does not allowlist its def."""
    defs: dict[str, ast.stmt] = {}
    refs: list[tuple[str, str | None]] = []
    for path in production_files(root):
        tree = ast.parse(path.read_text(), str(path))
        module = _module_name(path, root)
        if module.split(".")[0] == PKG:
            defs.update((f"{module}.{s.name}", s) for s in tree.body if isinstance(s, _TOP))
        refs.extend(_references(tree, module))
    live = {q for q, node in defs.items() if _registered(node)}
    for target, owner in refs:
        if target.startswith("*."):
            live.update(q for q in defs if q.endswith(target[1:]) and q != owner)
        elif target in defs and target != owner:
            live.add(target)
    short = {q: q[len(PKG) + 1 :] for q in defs}
    allowed = {name for name, why in allowlist.items() if not why.startswith(_OPEN)}
    dead = [
        f"{short[q]} ({node.end_lineno - node.lineno + 1} lines)"
        for q, node in defs.items()
        if q not in live and short[q] not in allowed
    ]
    stale = [
        name for name in allowlist
        if name not in short.values() or f"{PKG}.{name}" in live
    ]
    return dead, stale


def test_every_package_def_has_a_production_caller():
    dead, stale = unreferenced(ROOT, ALLOWLIST)
    assert not dead, (
        f"{len(dead)} package defs that no production code references "
        f"(delete them, or allowlist them with a reason): {dead}"
    )
    assert not stale, f"stale allowlist entries (live or gone): {stale}"


_SYNTHETIC = {
    f"{PKG}/__init__.py": '"""Prose may name `mod.orphan`; that is not a caller."""\n',
    f"{PKG}/registry.py": "def register(name):\n    return lambda fn: fn\n",
    f"{PKG}/mod.py": '''
        from reddit_can_bigdata_spark.registry import register


        def orphan():
            """Only this docstring, a test and a tool mention orphan()."""
            return orphan


        @register("q")
        def builder(spark, sf_dir):
            return None


        def used_by_bench():
            return 1


        def kept():
            return _helper()


        def _helper():
            return 2
    ''',
    "bench.py": "from reddit_can_bigdata_spark.mod import used_by_bench\n",
    "tools/tool.py": "from reddit_can_bigdata_spark.mod import orphan\n",
    "tests/test_mod.py": (
        "from reddit_can_bigdata_spark import mod\n\n\n"
        "def test_orphan():\n    assert mod.orphan()\n"
    ),
}


def _synthetic_tree(root: Path) -> Path:
    for rel, src in _SYNTHETIC.items():
        path = root / rel
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(textwrap.dedent(src))
    return root


def test_guard_reports_a_def_only_prose_tests_and_tools_mention(tmp_path):
    """``orphan`` is reported; the registered builder, the def bench.py
    imports and the helper of an allowlisted def are not."""
    dead, stale = unreferenced(_synthetic_tree(tmp_path), {"mod.kept": "why"})
    assert dead == ["mod.orphan (3 lines)"]
    assert stale == []


def test_guard_fails_on_stale_allowlist_entries(tmp_path):
    allow = {"mod.orphan": "why", "mod.used_by_bench": "why", "mod.gone": "why"}
    dead, stale = unreferenced(_synthetic_tree(tmp_path), allow)
    assert dead == ["mod.kept (2 lines)"]
    assert stale == ["mod.used_by_bench", "mod.gone"]


def test_guard_counts_a_defs_own_attribute_assignment_as_its_body(tmp_path):
    """``formatted.__doc__ = formatted.__doc__.format(...)`` at module
    level is part of ``formatted``, not a caller of it."""
    root = _synthetic_tree(tmp_path)
    (root / PKG / "fmt.py").write_text(textwrap.dedent('''
        def formatted():
            """Doc {x}."""
            return 3


        formatted.__doc__ = formatted.__doc__.format(x=1)
    '''))
    dead, stale = unreferenced(root, {"mod.kept": "why"})
    assert dead == ["fmt.formatted (3 lines)", "mod.orphan (3 lines)"]
    assert stale == []


def test_guard_rejects_an_open_allowlist_reason(tmp_path):
    """An ``open:`` entry parks a def without a caller; the guard
    reports that def as if the entry were not there."""
    allow = {"mod.kept": "open: waits for a caller", "mod.orphan": "fixture: why"}
    dead, stale = unreferenced(_synthetic_tree(tmp_path), allow)
    assert dead == ["mod.kept (2 lines)"]
    assert stale == []
