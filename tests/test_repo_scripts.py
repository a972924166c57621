"""The top-level scripts stay runnable without running them, and the
operators take no option nobody sets.

No test executes bench.py, the jobs, the tools or perfbench, so a stale
path in the README or a call to a parameter that no longer exists would
only fail when someone runs the script. These checks read the files:
the README's Layout and Running blocks name only paths that exist, every
script compiles, every script call to a package function binds to its
signature, every package module is imported by something other than a
test, and every defaulted operator parameter is passed by some call.
"""

from __future__ import annotations

import ast
import glob
import importlib
import inspect
import os
import re

import pytest

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


PKG = "web_template_forensics_spark"


def _parse(path: str) -> ast.Module:
    with open(os.path.join(REPO, path), encoding="utf-8") as fh:
        return ast.parse(fh.read(), path)


def _package_calls(path: str) -> list[tuple[ast.Call, str, object]]:
    """(call, name, function) for every call in ``path`` to a function
    the file imports from the package, by ``from pkg.m import f`` or as
    ``m.f`` after ``import pkg.m as m``."""
    tree = _parse(path)
    funcs, mods = {}, {}
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and not node.level and node.module.startswith(PKG):
            for a in node.names:
                funcs[a.asname or a.name] = (node.module, a.name)
        elif isinstance(node, ast.Import):
            mods.update((a.asname, a.name) for a in node.names if a.asname and a.name.startswith(PKG))
    out = []
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call):
            continue
        f = node.func
        if isinstance(f, ast.Name) and f.id in funcs:
            module, name = funcs[f.id]
        elif isinstance(f, ast.Attribute) and getattr(f.value, "id", None) in mods:
            module, name = mods[f.value.id], f.attr
        else:
            continue
        obj = getattr(importlib.import_module(module), name, None)
        if inspect.isfunction(obj):
            out.append((node, name, obj))
    return out


def test_package_calls_bind_to_signature():
    """A signature edit that breaks bench.py, a job, a tool or perfbench
    fails here instead of in a benchmark run."""
    calls = {path: _package_calls(path) for path in SCRIPTS}
    names = {path: {name for _, name, _ in found} for path, found in calls.items()}
    assert "get_spark" in names["bench.py"] and "get_spark" in names["perfbench/run.py"]
    assert {
        "pip_join",
        "tile_rollup",
        "checkpointed_write",
        "pages_to_geo_fused",
        "run_pages_pipeline",
    } <= names["perfbench/workloads.py"]
    for path, found in calls.items():
        for node, name, fn in found:
            if any(isinstance(a, ast.Starred) for a in node.args) or any(
                kw.arg is None for kw in node.keywords
            ):
                continue  # *args / **kwargs cannot be checked statically
            sig = inspect.signature(fn)
            try:
                sig.bind(*node.args, **{kw.arg: kw.value for kw in node.keywords})
            except TypeError as e:
                pytest.fail(f"{path}:{node.lineno}: {name}{sig}: {e}")


OPTION_MODULES = ("operators/*.py", "streaming/*.py", "plans/multimodal_fixture.py")


def _defaulted_params() -> dict[str, tuple[str, list[str], list[str]]]:
    """Public function name -> (module, positional names, defaulted names)
    over the operator modules."""
    out = {}
    for pattern in OPTION_MODULES:
        for path in sorted(glob.glob(os.path.join(REPO, PKG, pattern))):
            rel = os.path.relpath(path, REPO)
            for node in _parse(rel).body:
                if not isinstance(node, ast.FunctionDef) or node.name.startswith("_"):
                    continue
                a = node.args
                pos = [x.arg for x in a.posonlyargs + a.args]
                defaulted = pos[len(pos) - len(a.defaults):] + [
                    k.arg for k, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None
                ]
                if defaulted:
                    out[node.name] = (rel, pos, defaulted)
    return out


def test_every_operator_option_is_passed():
    """A defaulted parameter that no call in the repo passes, tests
    included, is an option nobody uses: delete it with the branch behind
    it. Calls match by name, by position and by keyword; ``*args`` and
    ``**kwargs`` pass nothing."""
    params = _defaulted_params()
    passed: dict[str, set[str]] = {name: set() for name in params}
    files = glob.glob(os.path.join(REPO, PKG, "**", "*.py"), recursive=True)
    files += glob.glob(os.path.join(REPO, "tests", "*.py"))
    for path in files + [os.path.join(REPO, p) for p in SCRIPTS]:
        for node in ast.walk(_parse(path)):
            if not isinstance(node, ast.Call):
                continue
            name = getattr(node.func, "id", getattr(node.func, "attr", None))
            if name not in params:
                continue
            n_pos = next(
                (i for i, a in enumerate(node.args) if isinstance(a, ast.Starred)),
                len(node.args),
            )
            passed[name].update(params[name][1][:n_pos])
            passed[name].update(kw.arg for kw in node.keywords if kw.arg)
    unused = [
        f"{module}:{name}({p})"
        for name, (module, _, defaulted) in sorted(params.items())
        for p in defaulted
        if p not in passed[name]
    ]
    assert not unused, f"{len(unused)} options no call passes: {unused}"


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
