"""The top-level scripts stay runnable without running them.

No test executes bench.py, the jobs or the tools, so a stale path in the
README or a call to a ``get_spark`` parameter that no longer exists would
only fail when someone runs the script. These checks read the files:
the README's Layout and Running blocks name only paths that exist, every
script compiles, every ``get_spark(...)`` call binds to its signature, and
every package module is imported by something other than a test.
"""

from __future__ import annotations

import ast
import glob
import inspect
import os
import re

import pytest

from web_template_forensics_spark.session import get_spark

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SCRIPTS = sorted(
    os.path.relpath(p, REPO)
    for pattern in (
        "bench.py",
        "__spark_entry__.py",
        "jobs/*.py",
        "tools/*.py",
        "perfbench/*.py",
    )
    for p in glob.glob(os.path.join(REPO, pattern))
)


def _readme_block(heading: str) -> str:
    """The first fenced block under ``## <heading>`` in README.md."""
    with open(os.path.join(REPO, "README.md"), encoding="utf-8") as fh:
        text = fh.read()
    section = text.split(f"\n## {heading}\n", 1)[1]
    return section.split("```", 2)[1]


def _readme_paths() -> list[str]:
    # Layout: an unindented line starts with a repo-relative path; an
    # indented .py name is relative to the package directory above it.
    layout = [
        line.split()[0]
        for line in _readme_block("Layout").splitlines()
        if line[:1].strip() and line.split()[0].endswith(".py")
    ]
    running = re.findall(r"[\w./-]+\.py\b", _readme_block("Running"))
    return sorted(set(layout) | set(running))


def test_readme_names_scripts():
    paths = _readme_paths()
    assert {"bench.py", "perfbench/run.py", "tests/test_oracle_full.py"} <= set(paths)


@pytest.mark.parametrize("path", _readme_paths())
def test_readme_path_exists(path):
    assert os.path.isfile(os.path.join(REPO, path)), path


@pytest.mark.parametrize("path", SCRIPTS)
def test_script_compiles(path):
    with open(os.path.join(REPO, path), encoding="utf-8") as fh:
        compile(fh.read(), path, "exec")


def _get_spark_calls(path: str) -> list[ast.Call]:
    with open(os.path.join(REPO, path), encoding="utf-8") as fh:
        tree = ast.parse(fh.read(), path)
    return [
        node
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and getattr(node.func, "id", getattr(node.func, "attr", None)) == "get_spark"
    ]


def test_get_spark_calls_bind_to_signature():
    sig = inspect.signature(get_spark)
    calls = {path: _get_spark_calls(path) for path in SCRIPTS}
    assert calls["bench.py"] and calls["perfbench/run.py"]
    for path, nodes in calls.items():
        for node in nodes:
            if any(isinstance(a, ast.Starred) for a in node.args) or any(
                kw.arg is None for kw in node.keywords
            ):
                continue  # *args / **kwargs cannot be checked statically
            try:
                sig.bind(*node.args, **{kw.arg: kw.value for kw in node.keywords})
            except TypeError as e:
                pytest.fail(f"{path}:{node.lineno}: get_spark{sig}: {e}")


PKG = "web_template_forensics_spark"


def _module_name(path: str) -> str:
    parts = os.path.relpath(path, REPO)[: -len(".py")].split(os.sep)
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


def _imported_modules(path: str) -> set[str]:
    """Dotted names a file imports, relative imports resolved; for
    ``from m import x`` both ``m`` and ``m.x`` (x may be a submodule)."""
    with open(path, encoding="utf-8") as fh:
        tree = ast.parse(fh.read(), path)
    package = _module_name(path)
    if not path.endswith("__init__.py"):
        package = package.rpartition(".")[0]
    out = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            out.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                parts = package.split(".")
                base = parts[: len(parts) - node.level + 1]
                mod = ".".join(base + ([node.module] if node.module else []))
            else:
                mod = node.module
            out.add(mod)
            out.update(f"{mod}.{a.name}" for a in node.names)
    return out


def test_every_package_module_has_a_non_test_importer():
    """A package module that only tests import is a test-only twin
    living in the package: every leaf module must be imported by other
    package code, a job, a tool, perfbench, bench.py or the entry."""
    package_files = glob.glob(os.path.join(REPO, PKG, "**", "*.py"), recursive=True)
    importers = package_files + [os.path.join(REPO, p) for p in SCRIPTS]
    imports = {path: _imported_modules(path) for path in importers}
    orphans = [
        _module_name(leaf)
        for leaf in sorted(package_files)
        if not leaf.endswith("__init__.py")
        and not any(
            _module_name(leaf) in mods for path, mods in imports.items() if path != leaf
        )
    ]
    assert not orphans, orphans
