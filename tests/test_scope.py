"""Scope guard: the product is what its entry points reach.

Product files are ``camelot_spark/``, ``jobs/``, ``tools/``,
``perfbench/`` (without its own tests), ``__spark_entry__.py`` and
``bench*.py``. Every module under ``camelot_spark/`` must be imported
by a product file other than itself, and every top-level ``def`` or
``class`` there must be referenced (an AST ``Name`` or ``Attribute``,
outside its own body) by a product file. Every public method of a
class there must be referenced as an ``Attribute`` by a product file.

Each setting has a single owner. Over the functions and methods of
``camelot_spark/``, ``jobs/``, ``tools/`` and ``__spark_entry__.py``,
every product call is recorded with its positional and keyword
argument ASTs, and two rules read those records:

- (A) a parameter needs at least two product values. A default counts
  as a value when some call takes it; a non-literal argument counts as
  varying. A parameter that only ever gets one value becomes a module
  constant (which a test monkeypatches when it needs another) or a
  literal.
- (B) a default needs a product call that takes it. If none does, the
  default goes, and so does every branch only the default reached.

Known limit: calls are matched by bare callee name, so ``list.append(x)``
counts as a call of ``SnapshotLog.append``, and a call that spreads
``*args``/``**kwargs`` exempts every function of its name.

Code only tests reach is deleted, moved under ``tests/``, or kept in
``KEEP`` with its reason: a bare name exempts that definition,
``func.param`` one parameter. A reason is safety code (a reference
that tests compare against, a decoder, or an encoder that makes
decoder inputs) or a fold that would need an edit under
``perfbench/``. Spark-free.
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
    "encode_gif": _ENCODER,
    "encode_jpeg_progressive": _ENCODER,
    "encode_png": _ENCODER,
    "encode_jpeg.quality": _ENCODER,
    "encode_jpeg.subsampling": _ENCODER,
    "encode_jpeg.restart_interval": _ENCODER,
    "encode_jpeg.non_interleaved": _ENCODER,
    "encode_jpeg.split_scans": _ENCODER,
    "encode_jpeg.gray_factors": _ENCODER,
    "encode_avi.fps": _ENCODER,
    "encode_avi.quality": _ENCODER,
    "encode_avi.audio_rate": _ENCODER,
    "encode_avi.with_index": _ENCODER,
    "encode_avi.audio": _ENCODER,
    "encode_wav.sample_rate": _ENCODER,
    "encode_wav.n_channels": _ENCODER,
    "_enc_ac_first.al": _ENCODER,
    "_enc_ac_refine.al": _ENCODER,
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


_SETTABLE = ("camelot_spark", "jobs", "tools", "__spark_entry__.py")


def _checked_functions(trees, loaded):
    """(function AST, callee name, implicit leading parameters, dotted
    owner) for every function and method whose settings the guard
    checks, in ``_SETTABLE``: top-level functions no product file
    loads as a bare name (those are called indirectly) and every
    method of a class. ``implicit`` counts the bound ``self``/``cls``;
    ``__init__`` is called by its class name."""
    out = []
    for p, tree in trees.items():
        if os.path.relpath(p, REPO).split(os.sep)[0] not in _SETTABLE:
            continue
        m = _module_name(p)
        for stmt in tree.body:
            if isinstance(stmt, _FUNC) and stmt.name not in loaded:
                out.append((stmt, stmt.name, 0, m))
            elif isinstance(stmt, ast.ClassDef):
                out += [(fn, stmt.name if fn.name == "__init__" else fn.name,
                         0 if _is_static(fn) else 1, f"{m}.{stmt.name}")
                        for fn in stmt.body if isinstance(fn, _FUNC)]
    return out


def _calls_and_bare_loads(trees):
    """(call name → list of product calls, each its positional
    argument ASTs and keyword name → argument AST, or None for a call
    that spreads ``*args``/``**kwargs``; names loaded outside call
    position)."""
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
            spread = (any(isinstance(a, ast.Starred) for a in node.args)
                      or any(k.arg is None for k in node.keywords))
            calls.setdefault(name, []).append(
                None if spread else (node.args, {k.arg: k.value for k in node.keywords}))
        loaded.update(node.id for node in ast.walk(tree)
                      if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load)
                      and id(node) not in callees)
    return calls, loaded


def _is_literal(node):
    try:
        ast.literal_eval(node)
    except (ValueError, TypeError, SyntaxError):
        return False
    return True


def _parameter_hits(fn, calls, implicit):
    """(rule A hits, rule B hits) of ``fn`` over its product ``calls``:
    parameters with fewer than two product values, and defaults no
    product call takes."""
    if any(c is None for c in calls):
        return [], []
    a = fn.args
    pos = (a.posonlyargs + a.args)[implicit:]
    defaults = dict(zip([p.arg for p in pos][len(pos) - len(a.defaults):], a.defaults))
    defaults.update((p.arg, d) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None)
    one_value, untaken = [], []
    for i, param in enumerate(pos + a.kwonlyargs):
        name = param.arg
        passed, taken = [], False
        for args, kws in calls:
            if i < len(pos) and i < len(args):
                passed.append(args[i])
            elif name in kws:
                passed.append(kws[name])
            elif name in defaults:
                taken = True
        if name in defaults and not taken:
            untaken.append(name)
        if all(map(_is_literal, passed)):
            values = {ast.dump(v) for v in passed}
            if taken:
                values.add(ast.dump(defaults[name]))
            if len(values) < 2 and (passed or taken):
                one_value.append(name)
    return one_value, untaken


@functools.cache
def _settings():
    """(rule A hits, rule B hits), each a list of (``func.param``, its
    dotted path)."""
    trees, _, _ = _scan()
    calls, loaded = _calls_and_bare_loads(trees)
    one_value, untaken = [], []
    for fn, callee, implicit, where in _checked_functions(trees, loaded):
        a, b = _parameter_hits(fn, calls.get(callee, []), implicit)
        for hits, params in ((one_value, a), (untaken, b)):
            hits += [(f"{fn.name}.{p}", f"{where}.{fn.name}.{p}") for p in params]
    return one_value, untaken


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


def _kept(key):
    return key in KEEP or key.partition(".")[0] in KEEP


def test_every_parameter_has_two_product_values():
    """Rule (A)."""
    one_value = sorted(where for key, where in _settings()[0] if not _kept(key))
    assert not one_value, f"parameters with one product value: {one_value}"


def test_every_default_is_taken_by_a_product_call():
    """Rule (B)."""
    untaken = sorted(where for key, where in _settings()[1] if not _kept(key))
    assert not untaken, f"defaults no product call takes: {untaken}"


def test_keep_lists_only_parameter_hits():
    """A ``func.param`` KEEP entry that neither rule names is stale."""
    hits = {key for rule in _settings() for key, _ in rule}
    stale = sorted(k for k in KEEP if "." in k and k not in hits)
    assert not stale, f"stale KEEP entries: {stale}"
