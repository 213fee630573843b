"""Scope guard: the product is what its entry points reach.

Product files are ``camelot_spark/``, ``jobs/``, ``tools/``,
``perfbench/`` (without its own tests), ``__spark_entry__.py`` and
``bench*.py``. Every module under ``camelot_spark/`` must be imported
by a product file other than itself, and every top-level ``def`` or
``class`` there must be referenced (an AST ``Name`` or ``Attribute``,
outside its own body) by a product file. Every public method of a
class there must be referenced as an ``Attribute`` by a product file.
Every parameter with a default must be passed by at least one product
call of that name: a setting with one product value is a module
constant, which a test monkeypatches when it needs another. Code only tests
reach is deleted, moved under ``tests/``, or kept in ``KEEP`` with its
reason: a bare name exempts that definition, ``func.param`` one
parameter. Spark-free.
"""

import ast
import functools
import glob
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_ENCODER = ("decoder-input generator for the codec round-trip tests; "
            "moving it under tests/ removes no lines")

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
    "encode_gif": _ENCODER,
    "encode_jpeg_progressive": _ENCODER,
    "encode_png": _ENCODER,
    "add_stream_table.row_h": "tests/test_golden.py builds its tall-row golden with row_h=80.0",
    "encode_jpeg.subsampling": _ENCODER,
    "encode_jpeg.restart_interval": _ENCODER,
    "encode_jpeg.non_interleaved": _ENCODER,
    "encode_jpeg.split_scans": _ENCODER,
    "encode_jpeg.gray_factors": _ENCODER,
    "encode_avi.fps": _ENCODER,
    "encode_avi.quality": _ENCODER,
    "encode_avi.audio_rate": _ENCODER,
    "encode_avi.with_index": _ENCODER,
    "encode_wav.n_channels": _ENCODER,
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


@functools.cache
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


_FUNC = (ast.FunctionDef, ast.AsyncFunctionDef)


def _is_static(fn):
    return any(isinstance(d, ast.Name) and d.id == "staticmethod"
               for d in fn.decorator_list)


def _unpassed_parameters():
    """``func.param`` → its dotted path, for every defaulted parameter
    that no product call of that name passes."""
    trees, modules, _ = _scan()
    calls, loaded = _calls_and_bare_loads(trees)
    out = {}
    for m, p in modules.items():
        for stmt in trees[p].body:
            if isinstance(stmt, _FUNC) and stmt.name not in loaded:
                targets = [(stmt, stmt.name, 0, m)]
            elif isinstance(stmt, ast.ClassDef):
                targets = [(fn, stmt.name if fn.name == "__init__" else fn.name,
                            0 if _is_static(fn) else 1, f"{m}.{stmt.name}")
                           for fn in stmt.body if isinstance(fn, _FUNC)]
            else:
                continue
            for fn, callee, implicit, where in targets:
                for param in _unpassed(fn, calls.get(callee), implicit):
                    out[f"{fn.name}.{param}"] = f"{where}.{fn.name}.{param}"
    return out


def _calls_and_bare_loads(trees):
    """(call name → (most positional arguments, keyword names, whether
    some call spreads ``*args``/``**kwargs``), names loaded outside
    call position)."""
    calls, loaded = {}, set()
    for tree in trees.values():
        callees = set()
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            callees.add(id(node.func))
            f = node.func
            name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
            if name is None:
                continue
            npos, kws, spread = calls.get(name, (0, set(), False))
            calls[name] = (
                max(npos, len(node.args)),
                kws | {k.arg for k in node.keywords if k.arg},
                spread or any(isinstance(a, ast.Starred) for a in node.args)
                or any(k.arg is None for k in node.keywords))
        loaded.update(node.id for node in ast.walk(tree)
                      if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load)
                      and id(node) not in callees)
    return calls, loaded


def _unpassed(fn, call, implicit):
    """Defaulted parameters of ``fn`` that ``call`` never reaches;
    ``implicit`` counts the bound ``self``/``cls``."""
    npos, kws, spread = call or (0, set(), False)
    if spread:
        return []
    a = fn.args
    pos = a.posonlyargs + a.args
    first = len(pos) - len(a.defaults)
    out = [arg.arg for i, arg in enumerate(pos[first:], first)
           if arg.arg not in kws and npos <= i - implicit]
    out += [arg.arg for arg, d in zip(a.kwonlyargs, a.kw_defaults)
            if d is not None and arg.arg not in kws]
    return out


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
    stale = sorted(n for n in KEEP if "." not in n and (n in referenced or n not in defined))
    assert not stale, f"stale KEEP entries: {stale}"


def test_every_public_method_is_referenced_by_a_product_file():
    trees, modules, _ = _scan()
    attrs = {node.attr for tree in trees.values() for node in ast.walk(tree)
             if isinstance(node, ast.Attribute)}
    unreached = sorted(f"{m}.{cls.name}.{fn.name}" for m, p in modules.items()
                       for cls in trees[p].body if isinstance(cls, ast.ClassDef)
                       for fn in cls.body if isinstance(fn, _FUNC)
                       and not fn.name.startswith("_") and fn.name not in attrs)
    assert not unreached, f"methods no product file references: {unreached}"


def test_every_defaulted_parameter_is_passed_by_a_product_call():
    unpassed = sorted(where for key, where in _unpassed_parameters().items()
                      if key not in KEEP and key.partition(".")[0] not in KEEP)
    assert not unpassed, f"parameters no product call passes: {unpassed}"


def test_keep_lists_only_unpassed_parameters():
    """A ``func.param`` KEEP entry that a product call now passes, or
    whose parameter no longer has a default, is stale."""
    unpassed = _unpassed_parameters()
    stale = sorted(k for k in KEEP if "." in k and k not in unpassed)
    assert not stale, f"stale KEEP entries: {stale}"
