"""Every module, function, class and method of the package is reached
from what the system runs.

Two AST walks start at the driver contract (``__spark_entry__.py``), the
query bench (``bench.py``) and the benchmark (``vbench/*.py``):

- the import walk follows every ``import`` / ``from ... import`` it finds,
  function-local ones included, and fails on a package module nothing
  imports;
- the name walk follows names: ``bench.py`` and ``vbench`` are reached
  whole, the driver contract through its three functions (``entry``,
  ``queries``, ``oracle_sql``) and its module-level code, and so is the
  module-level code of every module a reached body imports; a top-level
  function or class is reached when a reached body names it (directly,
  through an import alias or as ``module.attr``), and a method when its
  class is reached and a reached body names it as an attribute (dunders
  come with the class).  An attribute of a module outside the package
  (``np.load``, ``json.load``) or of a DataFrame ``.read``/``.write``
  chain (``df.write.save()``) names no package method.  Re-exports in an
  ``__init__`` bind a name but do not use it.

A definition only tests reach is code no query, oracle or benchmark runs:
delete it, or declare the query that uses it.  The contract's own
top-level definitions are held to the same rule.
"""

import ast
import os

ROOT = os.path.join(os.path.dirname(__file__), "..")
PKG = "bigvectorbench_spark"
ENTRY = "__spark_entry__"
# What the driver calls in the contract file.
CONTRACT = ("entry", "queries", "oracle_sql")

EXEMPT = {
    # Tier-1 tests of reached operators build their seeded inputs with it
    # (test_properties, the random_filter_ratio tests), as does
    # scripts/create_filter_dataset.py.
    f"{PKG}.fixtures",
}

# Definitions the system does not call that stay, each with its reason.
EXEMPT_DEFS = {
    # Test-data generator: test_multimodal's media table, with the PNG
    # encoder it uses for the image payloads.
    f"{PKG}.operators.multimodal.synthetic_media",
    f"{PKG}.operators.multimodal.png_encode",
    # Reference path: test_dedup compares the reached minhash_sets kernel
    # against this expression form.
    f"{PKG}.operators.dedup.minhash_from_hashes",
    # Correctness checks tests run on reached operators' output.
    f"{PKG}.operators.groundtruth.verify_distances",
    f"{PKG}.operators.knn.assert_unique_candidates",
}

_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


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


def _parse(path):
    with open(path) as fh:
        return ast.parse(fh.read(), path)


def _root_files(root):
    vb = os.path.join(root, "vbench")
    return ([os.path.join(root, f"{ENTRY}.py"),
             os.path.join(root, "bench.py")]
            + sorted(os.path.join(vb, f) for f in os.listdir(vb)
                     if f.endswith(".py")))


def _absolute(node, package):
    """The module an ``ImportFrom`` names, relative levels resolved against
    ``package`` (the package the importing file sits in, or None for a
    script)."""
    base = node.module or ""
    if node.level:
        pkg = package.split(".") if package else []
        pkg = pkg[: len(pkg) - node.level + 1]
        base = ".".join(pkg + ([base] if base else []))
    return base


def _package_of(module, path):
    if module and os.path.basename(path) != "__init__.py":
        return module.rpartition(".")[0]
    return module


def _imported_names(tree, package):
    """Dotted names a file imports.  ``from a import b`` yields both ``a``
    and ``a.b``: the second is a submodule when one exists under that
    name."""
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                yield a.name
        elif isinstance(node, ast.ImportFrom):
            base = _absolute(node, package)
            yield base
            for a in node.names:
                yield f"{base}.{a.name}"


def reached_modules(root=ROOT):
    mods = _package_modules(root)
    todo = [(p, None) for p in _root_files(root)]
    seen = set()
    while todo:
        path, module = todo.pop()
        for name in _imported_names(_parse(path), _package_of(module, path)):
            parts = name.split(".")
            # importing a.b.c also runs a/__init__ and a/b/__init__
            for i in range(1, len(parts) + 1):
                m = ".".join(parts[:i])
                if m in mods and m not in seen:
                    seen.add(m)
                    todo.append((mods[m], m))
    return seen, set(mods)


class _Module:
    """One parsed file: its top-level definitions (``f``, ``C`` and
    ``C.m``) and the dotted target of every name it imports."""

    def __init__(self, name, path):
        self.name, self.tree = name, _parse(path)
        self.package = _package_of(name, path)
        self.defs, self.binds = {}, {}
        for node in self.tree.body:
            if isinstance(node, _DEFS):
                self.defs[node.name] = node
                if isinstance(node, ast.ClassDef):
                    for m in node.body:
                        if isinstance(m, _DEFS):
                            self.defs[f"{node.name}.{m.name}"] = m
        for node in ast.walk(self.tree):
            if isinstance(node, ast.Import):
                for a in node.names:
                    self.binds[a.asname or a.name.split(".")[0]] = (
                        a.name if a.asname else a.name.split(".")[0])
            elif isinstance(node, ast.ImportFrom):
                base = _absolute(node, self.package)
                for a in node.names:
                    self.binds[a.asname or a.name] = f"{base}.{a.name}"


def _foreign(mod, node):
    """True when the attribute ``node`` cannot be a package method: its
    receiver is a module outside the package, or the chain it ends passes
    through a DataFrame ``.read``/``.write``."""
    v, called = node.value, False
    while isinstance(v, (ast.Attribute, ast.Call)):
        if isinstance(v, ast.Call):
            v, called = v.func, True
        elif v.attr in ("read", "write"):
            return True
        else:
            v = v.value
    return (not called and isinstance(v, ast.Name) and v.id in mod.binds
            and not mod.binds[v.id].startswith(PKG))


def reached_defs(root=ROOT, extra_roots=()):
    """(reached, all) sets of ``module.qualname`` for the top-level
    functions, classes and methods of the package and the contract file.
    ``extra_roots`` are definitions walked as if the system called them."""
    mods = {m: _Module(m, p) for m, p in _package_modules(root).items()}
    mods[ENTRY] = _Module(ENTRY, os.path.join(root, f"{ENTRY}.py"))
    loaded, reached, attrs, todo = set(), set(), set(), []

    def load(dotted):
        parts = dotted.split(".")
        for i in range(1, len(parts) + 1):
            m = ".".join(parts[:i])
            if m in mods and m not in loaded:
                loaded.add(m)
                todo.append((mods[m], [s for s in mods[m].tree.body
                                       if not isinstance(s, _DEFS)]))

    def resolve(dotted, depth=0):
        """A dotted name -> ("mod", m), ("def", m, qualname) or None;
        chases re-exports through the modules that import the name."""
        if dotted in mods:
            return ("mod", dotted)
        m, _, n = dotted.rpartition(".")
        if m not in mods:
            return None
        if n in mods[m].defs:
            return ("def", m, n)
        if n in mods[m].binds and depth < 20:
            return resolve(mods[m].binds[n], depth + 1)
        return ("mod", m)

    def reach(m, qual):
        if f"{m}.{qual}" in reached:
            return
        reached.add(f"{m}.{qual}")
        load(m)
        node = mods[m].defs[qual]
        if isinstance(node, ast.ClassDef):
            todo.append((mods[m], [*node.bases, *node.keywords,
                                   *node.decorator_list,
                                   *[s for s in node.body
                                     if not isinstance(s, _DEFS)]]))
            for s in node.body:
                if isinstance(s, _DEFS) and s.name.startswith("__"):
                    reach(m, f"{qual}.{s.name}")
        else:
            todo.append((mods[m], [node]))

    def target(mod, node):
        if isinstance(node, ast.Name):
            if node.id in mod.binds:
                return resolve(mod.binds[node.id])
            if node.id in mod.defs and mod.name in mods:
                return ("def", mod.name, node.id)
        elif isinstance(node, ast.Attribute):
            base = target(mod, node.value)
            if base and base[0] == "mod":
                return resolve(f"{base[1]}.{node.attr}")
        return None

    def walk(mod, nodes):
        for top in nodes:
            for node in ast.walk(top):
                if isinstance(node, ast.Import):
                    for a in node.names:
                        load(a.name)
                elif isinstance(node, ast.ImportFrom):
                    base = _absolute(node, mod.package)
                    load(base)
                    for a in node.names:
                        hit = resolve(f"{base}.{a.name}")
                        if hit and hit[0] == "mod":
                            load(hit[1])
                elif isinstance(node, (ast.Name, ast.Attribute)):
                    if isinstance(node, ast.Attribute) and not _foreign(mod, node):
                        attrs.add(node.attr)
                    hit = target(mod, node)
                    if hit and hit[0] == "mod":
                        load(hit[1])
                    elif hit:
                        reach(hit[1], hit[2])

    load(ENTRY)
    for name in CONTRACT:
        if name in mods[ENTRY].defs:
            reach(ENTRY, name)
    for path in _root_files(root):
        rm = _Module(os.path.basename(path)[:-3], path)
        if rm.name != ENTRY:
            walk(rm, [rm.tree])
    for name in extra_roots:
        hit = resolve(name)
        if hit and hit[0] == "def":
            reach(hit[1], hit[2])
    grew = True
    while grew:
        while todo:
            walk(*todo.pop())
        grew = False
        for m, mod in mods.items():
            for qual in mod.defs:
                cls, _, meth = qual.partition(".")
                if (meth and meth in attrs and f"{m}.{cls}" in reached
                        and f"{m}.{qual}" not in reached):
                    reach(m, qual)
                    grew = True
    every = {f"{m}.{q}" for m, mod in mods.items() for q in mod.defs}
    return reached, every


def test_every_package_module_is_reached():
    seen, mods = reached_modules()
    assert EXEMPT <= mods, "an exemption names a module that no longer exists"
    unreached = sorted(mods - seen - EXEMPT)
    assert not unreached, f"modules nothing reaches: {unreached}"


def test_every_package_function_is_reached():
    reached, every = reached_defs()
    assert EXEMPT_DEFS <= every, (
        f"exemptions that no longer exist: {sorted(EXEMPT_DEFS - every)}")
    stale = sorted(EXEMPT_DEFS & reached)
    assert not stale, f"exempt definitions the system reaches: {stale}"
    # an exempt definition's callees are kept with it
    reached, _ = reached_defs(extra_roots=EXEMPT_DEFS)
    unreached = sorted(
        d for d in every - reached - EXEMPT_DEFS
        if not any(d.startswith(f"{m}.") for m in EXEMPT))
    assert not unreached, f"definitions only tests reach: {unreached}"


def _tree(tmp_path, files):
    for rel, text in files.items():
        p = tmp_path / rel
        p.parent.mkdir(parents=True, exist_ok=True)
        p.write_text(text)
    (tmp_path / "vbench").mkdir(exist_ok=True)
    for rel in ("vbench/run.py", "bench.py"):
        if not (tmp_path / rel).exists():
            (tmp_path / rel).write_text("")
    return str(tmp_path)


def test_walk_resolves_relative_and_from_imports(tmp_path):
    """The import walk: relative imports, ``from pkg import submodule`` and
    function-local imports all count; a module nobody names stays
    unreached."""
    root = _tree(tmp_path, {
        f"{PKG}/__init__.py": "from .sub import a\n",
        f"{PKG}/sub/__init__.py": "",
        f"{PKG}/sub/a.py": "def f():\n    from . import b\n",
        f"{PKG}/sub/b.py": "from ..sub.c import x\n",
        f"{PKG}/sub/c.py": "x = 1\n",
        f"{PKG}/lonely.py": "",
        "__spark_entry__.py": f"import {PKG}\n",
    })
    seen, mods = reached_modules(root)
    assert mods - seen == {f"{PKG}.lonely"}


def test_name_walk_follows_bodies_tables_and_methods(tmp_path):
    """The name walk: calls through aliases and ``module.attr``, functions
    named in a module-level table, methods named as attributes, and
    re-exports that bind without using.  ``np.save`` and
    ``df.write...save()`` do not reach ``Index.save``.  In the contract
    file only what ``entry`` reaches counts: ``_stray`` stays unreached."""
    root = _tree(tmp_path, {
        f"{PKG}/__init__.py": "from .ops import dead, run\n",
        f"{PKG}/ops.py": (
            "from .util import helper\n"
            "def run():\n    return helper() + _TABLE['t']()\n"
            "def _in_table():\n    return 1\n"
            "_TABLE = {'t': _in_table}\n"
            "def dead():\n    return 2\n"
            "class Index:\n"
            "    def __init__(self):\n        pass\n"
            "    def search(self):\n        return self._scan()\n"
            "    def _scan(self):\n        return 3\n"
            "    def decode(self):\n        return 4\n"
            "    def save(self):\n        return 5\n"),
        f"{PKG}/util.py": "def helper():\n    return 0\n"
                          "def unused():\n    return 5\n",
        "__spark_entry__.py": (
            f"import numpy as np\nimport {PKG}.ops as o\nfrom {PKG} import run\n"
            "def entry(df):\n    run()\n    np.save('x', 1)\n"
            "    df.write.mode('overwrite').save()\n"
            "    return _leg(o.Index())\n"
            "def _leg(ix):\n    return ix.search()\n"
            "def _stray():\n    return 6\n"),
    })
    reached, every = reached_defs(root)
    assert every - reached == {f"{PKG}.ops.dead", f"{PKG}.ops.Index.decode",
                               f"{PKG}.ops.Index.save", f"{PKG}.util.unused",
                               "__spark_entry__._stray"}
    assert f"{PKG}.ops._in_table" in reached
    assert "__spark_entry__._leg" in reached
