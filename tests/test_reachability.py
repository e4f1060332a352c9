"""Every module of the package is reached from what the system runs.

An AST import walk starts at the driver contract (``__spark_entry__.py``),
the query bench (``bench.py``) and the benchmark (``vbench/*.py``) and
follows every ``import`` / ``from ... import`` it finds, function-local ones
included.  A module that nothing reaches is code no query, oracle or
benchmark exercises: delete it, or declare the query that uses it.
"""

import ast
import os

ROOT = os.path.join(os.path.dirname(__file__), "..")
PKG = "bigvectorbench_spark"

EXEMPT = {
    # Tier-1 tests of reached operators build their seeded inputs with it
    # (test_properties, the random_filter_ratio tests), as does
    # scripts/create_filter_dataset.py.
    f"{PKG}.fixtures",
    # Unreached, kept with their tests (test_sources, test_skew_bucketing)
    # for one more change so that a single change never drops more than a
    # few dozen tier-1 tests at once; ROADMAP lists their removal.
    f"{PKG}.sources.vectors",
    f"{PKG}.plans.skew",
}


def _package_modules(root):
    mods = {}
    for dirpath, _, files in os.walk(os.path.join(root, PKG)):
        for f in files:
            if not f.endswith(".py"):
                continue
            path = os.path.join(dirpath, f)
            rel = os.path.relpath(path, root)[:-3].split(os.sep)
            if rel[-1] == "__init__":
                rel = rel[:-1]
            mods[".".join(rel)] = path
    return mods


def _imported_names(tree, package):
    """Dotted names a file imports, relative imports resolved against
    ``package`` (the package the importing file sits in, or None for a
    script).  ``from a import b`` yields both ``a`` and ``a.b``: the second
    is a submodule when one exists under that name."""
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                yield a.name
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                pkg = package.split(".") if package else []
                pkg = pkg[: len(pkg) - node.level + 1]
                base = ".".join(pkg + ([base] if base else []))
            yield base
            for a in node.names:
                yield f"{base}.{a.name}"


def reached_modules(root=ROOT):
    mods = _package_modules(root)
    roots = [os.path.join(root, "__spark_entry__.py"),
             os.path.join(root, "bench.py")]
    vb = os.path.join(root, "vbench")
    roots += sorted(os.path.join(vb, f) for f in os.listdir(vb)
                    if f.endswith(".py"))
    todo = [(p, None) for p in roots]
    seen = set()
    while todo:
        path, module = todo.pop()
        with open(path) as fh:
            tree = ast.parse(fh.read(), path)
        package = module
        if module and os.path.basename(path) != "__init__.py":
            package = module.rpartition(".")[0]
        for name in _imported_names(tree, package):
            parts = name.split(".")
            # importing a.b.c also runs a/__init__ and a/b/__init__
            for i in range(1, len(parts) + 1):
                m = ".".join(parts[:i])
                if m in mods and m not in seen:
                    seen.add(m)
                    todo.append((mods[m], m))
    return seen, set(mods)


def test_every_package_module_is_reached():
    seen, mods = reached_modules()
    assert EXEMPT <= mods, "an exemption names a module that no longer exists"
    unreached = sorted(mods - seen - EXEMPT)
    assert not unreached, f"modules nothing reaches: {unreached}"


def test_walk_resolves_relative_and_from_imports(tmp_path):
    """The walk itself: relative imports, ``from pkg import submodule`` and
    function-local imports all count; a module nobody names stays
    unreached."""
    pkg = tmp_path / PKG
    (pkg / "sub").mkdir(parents=True)
    (pkg / "__init__.py").write_text("from .sub import a\n")
    (pkg / "sub" / "__init__.py").write_text("")
    (pkg / "sub" / "a.py").write_text("def f():\n    from . import b\n")
    (pkg / "sub" / "b.py").write_text("from ..sub.c import x\n")
    (pkg / "sub" / "c.py").write_text("x = 1\n")
    (pkg / "lonely.py").write_text("")
    (tmp_path / "vbench").mkdir()
    (tmp_path / "vbench" / "run.py").write_text("")
    (tmp_path / "bench.py").write_text("")
    (tmp_path / "__spark_entry__.py").write_text(f"import {PKG}\n")
    seen, mods = reached_modules(str(tmp_path))
    assert mods - seen == {f"{PKG}.lonely"}
