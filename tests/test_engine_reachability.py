"""Every engine definition is reached by something other than a test.

The scan takes the top-level functions, classes and UPPERCASE constants
of ``streaming_ecom_analytics_spark/``, plus the methods of its
classes, skipping the registered ``q_*`` queries (the registry reaches
them). A definition counts as reached when its name occurs in a Python
file outside the tests, other than in its own definition: as a word
for a top-level name, as ``.name`` for a method. Occurrences in
comments and docstrings count, so the check errs towards "reached".

A definition that only tests reach is either wired into a path or
deleted with its tests. The allowlist names the few kept on purpose,
each with its reason.
"""

from __future__ import annotations

import ast
import re
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


def _definitions():
    """(qualified name, bare name, is method, file, first line, last line)."""
    for path in sorted(ENGINE.rglob("*.py")):
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                if node.name.startswith("q_"):
                    continue
                yield node.name, node.name, False, path, node.lineno, node.end_lineno
                if isinstance(node, ast.ClassDef):
                    for m in node.body:
                        if isinstance(m, (ast.FunctionDef, ast.AsyncFunctionDef)) and (
                            not m.name.startswith("__")
                        ):
                            qual = f"{node.name}.{m.name}"
                            yield qual, m.name, True, path, m.lineno, m.end_lineno
            elif isinstance(node, (ast.Assign, ast.AnnAssign)):
                targets = node.targets if isinstance(node, ast.Assign) else [node.target]
                for t in targets:
                    if isinstance(t, ast.Name) and t.id.isupper():
                        yield t.id, t.id, False, path, node.lineno, node.end_lineno


_WORD = re.compile(r"\w+")
_ATTR = re.compile(r"\.(\w+)")


def test_only_allowlisted_definitions_are_reached_by_tests_alone():
    words: Counter[str] = Counter()
    attrs: Counter[str] = Counter()
    lines: dict[Path, list[str]] = {}
    for path in _sources():
        text = path.read_text()
        lines[path] = text.splitlines()
        words.update(_WORD.findall(text))
        attrs.update(_ATTR.findall(text))

    unreached = set()
    for qual, name, is_method, path, first, last in _definitions():
        own = "\n".join(lines[path][first - 1 : last])
        if is_method:
            outside = attrs[name] - _ATTR.findall(own).count(name)
        else:
            outside = words[name] - _WORD.findall(own).count(name)
        if outside == 0:
            unreached.add(qual)

    assert unreached - set(ALLOWED) == set(), (
        "reached only by tests: wire each into a path or delete it with its tests"
    )
    assert set(ALLOWED) - unreached == set(), (
        "allowlisted but now reached: drop the entry"
    )
