"""Every engine definition is reached by something other than a test.

The scan takes the top-level functions, classes and UPPERCASE constants
of ``streaming_ecom_analytics_spark/``, plus the methods of its
classes, skipping the registered ``q_*`` queries (the registry reaches
them). A definition counts as reached when code in a Python file
outside the tests refers to it, other than inside its own definition.
References are read from the syntax tree: a name (``helper``), an
attribute (``module.helper``) or a ``from ... import helper``; a method
counts only as an attribute. Comments, docstrings and other strings
are not references.

A definition that only tests reach is either wired into a path or
deleted with its tests. The allowlist names the few kept on purpose,
each with its reason.
"""

from __future__ import annotations

import ast
from collections import Counter
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
ENGINE = REPO / "streaming_ecom_analytics_spark"

ALLOWED = {
    "cdc_upsert_materializer": "the base of the streaming views' planned "
    "update-mode upsert (ROADMAP item 3)",
    "VersionedTable.compact": "maintenance API of the versioned table format",
    "VersionedTable.history": "maintenance API of the versioned table format",
    "VersionedTable.vacuum": "maintenance API of the versioned table format",
    "StreamingPipeline.await_all": "the blocking wait for a pipeline run "
    "as a long-lived service (available_now=False)",
    "kafka_packages_hint": "the --packages line KAFKA.md gives a cluster "
    "operator; no Kafka connector ships here",
    "hyperplane_bucket": "the Column-form reference that the engine's "
    "_hyperplane_bucket_sql is checked bit-equal against",
    "kafka_source": "the Kafka consume side that file_events_source names "
    "for production; needs the connector jar KAFKA.md describes",
    "parse_events": "the Kafka consume side's decoder, and the inverse of "
    "serialize_events that the wire round-trip tests decode with",
}


def _is_test(path: Path) -> bool:
    rel = path.relative_to(REPO)
    return rel.parts[0] == "tests" or path.name.startswith("test_") or path.name == "conftest.py"


def _sources() -> list[Path]:
    return [
        p
        for p in REPO.rglob("*.py")
        if not any(part.startswith(".") for part in p.relative_to(REPO).parts)
        and not _is_test(p)
    ]


def _definitions(tree: ast.Module):
    """(qualified name, bare name, is method, node) for one module."""
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            if node.name.startswith("q_"):
                continue
            yield node.name, node.name, False, node
            if isinstance(node, ast.ClassDef):
                for m in node.body:
                    if isinstance(m, (ast.FunctionDef, ast.AsyncFunctionDef)) and (
                        not m.name.startswith("__")
                    ):
                        yield f"{node.name}.{m.name}", m.name, True, m
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            for t in targets:
                if isinstance(t, ast.Name) and t.id.isupper():
                    yield t.id, t.id, False, node


def _references(node: ast.AST) -> tuple[Counter[str], Counter[str]]:
    """(names, attributes) referred to under ``node``; imported names
    count as names."""
    names: Counter[str] = Counter()
    attrs: Counter[str] = Counter()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            names[n.id] += 1
        elif isinstance(n, ast.Attribute):
            attrs[n.attr] += 1
        elif isinstance(n, ast.ImportFrom):
            names.update(a.name for a in n.names)
    return names, attrs


def _count(refs: tuple[Counter[str], Counter[str]], name: str, is_method: bool) -> int:
    names, attrs = refs
    return attrs[name] + (0 if is_method else names[name])


def _unreached(definitions, sources: list[ast.Module]) -> set[str]:
    """Qualified names of ``definitions`` that no code in ``sources``
    refers to outside the definition itself."""
    names: Counter[str] = Counter()
    attrs: Counter[str] = Counter()
    for tree in sources:
        n, a = _references(tree)
        names.update(n)
        attrs.update(a)
    return {
        qual
        for qual, name, is_method, node in definitions
        if _count((names, attrs), name, is_method)
        == _count(_references(node), name, is_method)
    }


def test_collector_reads_code_not_prose():
    engine = ast.parse(
        "def helper(n):\n"
        '    """helper recurses."""\n'
        "    return helper(n - 1)\n"
        "\n"
        "class Box:\n"
        "    def open(self):\n"
        "        return self\n"
    )
    defs = list(_definitions(engine))
    prose = ast.parse(
        '"""Calls helper() and Box().open()."""\n'
        "# helper(1); Box().open(); from engine import helper\n"
        'label = "helper"\n'
    )
    assert _unreached(defs, [engine, prose]) == {"helper", "Box", "Box.open"}
    for code in ("helper(1)", "engine.helper", "from engine import helper"):
        assert "helper" not in _unreached(defs, [engine, ast.parse(code)]), code
    # a method counts only through an attribute
    assert "Box.open" in _unreached(defs, [engine, ast.parse("open(path)")])
    assert "Box.open" not in _unreached(defs, [engine, ast.parse("Box().open()")])


def test_only_allowlisted_definitions_are_reached_by_tests_alone():
    trees = {path: ast.parse(path.read_text()) for path in _sources()}
    definitions = [
        d for path in sorted(ENGINE.rglob("*.py")) for d in _definitions(trees[path])
    ]
    unreached = _unreached(definitions, list(trees.values()))

    assert unreached - set(ALLOWED) == set(), (
        "reached only by tests: wire each into a path or delete it with its tests"
    )
    assert set(ALLOWED) - unreached == set(), (
        "allowlisted but now reached: drop the entry"
    )
