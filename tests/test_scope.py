"""Scope guard: the product is what its entry points reach.

Product files are ``camelot_spark/``, ``jobs/``, ``tools/``,
``perfbench/`` (without its own tests), ``__spark_entry__.py`` and
``bench*.py``. Every module under ``camelot_spark/`` must be imported
by a product file other than itself, and every top-level ``def`` or
``class`` there must be referenced (an AST ``Name`` or ``Attribute``,
outside its own body) by a product file. Code only tests reach is
deleted, moved under ``tests/``, or kept in ``KEEP`` with its reason.
Spark-free.
"""

import ast
import glob
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

KEEP = {
    "decode_avi": "every decoder stays: user media may be any container layout",
    "_open_along_axis": "reference implementation the raster kernel tests compare against",
    "xxh64_long": "reference implementation Spark's xxhash64 is tested against",
    "spark_xxhash64_str": "reference implementation Spark's xxhash64 is tested against",
    "spark_xxhash64_str_int": "reference implementation Spark's xxhash64 is tested against",
    "get_table_index": "scalar reference assign_indices_batch is tested against; "
                       "perfbench's tracer wraps it by name",
    "_sqdist": "Spark fold-order reference the numpy PQ distance folds are tested against",
    "empty_textlines": "three-line constructor a test builds pages with",
    "replicate": "decision pending: corpus tiler only the Spark pipeline tests call",
    "media_features": "decision pending: array form of the registry's media_features_hist, "
                      "only tests call it",
    "encode_gif": "encoder decision pending: move under tests/ as a decoder-input helper",
    "encode_jpeg_progressive": "encoder decision pending: move under tests/ as a decoder-input helper",
    "encode_png": "encoder decision pending: move under tests/ as a decoder-input helper",
}


def _product_files():
    files = set(glob.glob(os.path.join(REPO, "bench*.py")))
    files.add(os.path.join(REPO, "__spark_entry__.py"))
    for top in ("camelot_spark", "jobs", "tools", "perfbench"):
        files.update(glob.glob(os.path.join(REPO, top, "**", "*.py"), recursive=True))
    tests_dir = os.path.join(REPO, "perfbench", "tests") + os.sep
    return sorted(f for f in files if not f.startswith(tests_dir))


def _module_name(path):
    rel = os.path.relpath(path, REPO)[:-3].split(os.sep)
    if rel[-1] == "__init__":
        rel = rel[:-1]
    return ".".join(rel)


def _parse(path):
    with open(path, encoding="utf-8") as f:
        return ast.parse(f.read(), filename=path)


def _imported_modules(path, tree):
    """Absolute names of every module ``path`` imports, anywhere in
    the file; ``from pkg import name`` also counts ``pkg.name``."""
    package = _module_name(path)
    if not path.endswith("__init__.py"):
        package = package.rpartition(".")[0]
    out = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            out.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = package.split(".")
            if node.level:
                base = base[:len(base) - node.level + 1]
                mod = ".".join(base + ([node.module] if node.module else []))
            else:
                mod = node.module
            out.add(mod)
            out.update(f"{mod}.{a.name}" for a in node.names)
    return out


def _referenced_names(tree):
    """Every Name/Attribute identifier in ``tree``, except those inside
    the body of the top-level definition of the same name."""
    out = set()

    def visit(node, owner):
        if isinstance(node, ast.Name) and node.id != owner:
            out.add(node.id)
        elif isinstance(node, ast.Attribute) and node.attr != owner:
            out.add(node.attr)
        for child in ast.iter_child_nodes(node):
            visit(child, owner)

    for stmt in tree.body:
        owner = (stmt.name if isinstance(
            stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)) else None)
        visit(stmt, owner)
    return out


def _scan():
    """(parsed product files, camelot_spark module name → path,
    identifiers referenced anywhere in the product)."""
    trees = {p: _parse(p) for p in _product_files()}
    modules = {_module_name(p): p for p in trees
               if p.startswith(os.path.join(REPO, "camelot_spark") + os.sep)}
    referenced = set()
    for tree in trees.values():
        referenced |= _referenced_names(tree)
    return trees, modules, referenced


def _definitions(tree):
    return [stmt.name for stmt in tree.body if isinstance(
        stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))]


def test_every_module_is_imported_by_another_product_file():
    trees, modules, _ = _scan()
    imported = set()
    for path, tree in trees.items():
        mine = _module_name(path)
        imported.update(m for m in _imported_modules(path, tree) if m != mine)
    unreached = sorted(m for m, p in modules.items()
                       if not p.endswith("__init__.py") and m not in imported)
    assert not unreached, f"modules no product file imports: {unreached}"


def test_every_definition_is_referenced_by_a_product_file():
    trees, modules, referenced = _scan()
    unreached = sorted(f"{m}.{name}" for m, p in modules.items()
                       for name in _definitions(trees[p])
                       if name not in referenced and name not in KEEP)
    assert not unreached, f"definitions no product file references: {unreached}"


def test_keep_lists_only_unreferenced_definitions():
    """A KEEP entry whose name a product file now references, or that
    no longer exists, is stale."""
    trees, modules, referenced = _scan()
    defined = {name for p in modules.values() for name in _definitions(trees[p])}
    stale = sorted(n for n in KEEP if n in referenced or n not in defined)
    assert not stale, f"stale KEEP entries: {stale}"
