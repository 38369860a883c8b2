"""Guard against engine surface that only tests call.

Every public top-level function, class or UPPER_CASE constant in
``slower_whisper_spark/`` must be referenced by a Python file outside
``tests/`` (the engine itself, the CLI, ``__spark_entry__.py``, ``bench*.py``,
``scripts/``, ``perfbench/``), or be listed in ``KEEP`` with the reason it
stays.  A package ``__init__.py`` re-export is not a reference, and neither
is a definition naming itself.  Every engine name those non-test files import
must resolve, private ones included.  Every True/False parameter of a public
engine function, method or constructor must be passed somewhere outside
``tests/``, or be listed in ``KEEP_FLAGS`` with the reason it stays: a flag
no caller sets keeps a second code path that only tests run.  Run this after
adding or removing a public engine function or flag.
"""

import ast
import importlib
import pathlib

ROOT = pathlib.Path(__file__).resolve().parents[1]
PKG = ROOT / "slower_whisper_spark"

KEEP = {
    "compute_baseline": "six drift tests build their reference baselines with it",
    "pushed_filters": "plan-shape tests of live operators assert scan pushdown with it",
    "read_schema_columns": "plan-shape tests assert column pruning with it",
    "has_broadcast_join": "plan-shape tests assert broadcast joins with it",
    "wholestage_codegen_ids": "plan-shape tests assert codegen fusion with it",
    "write_warc_files": "the WARC test-fixture writer (render_warc_record per file)",
    "list_warc_files": "lists what write_warc_files wrote, for the WARC tests",
    "deterministic_sample": "the plain-filter form of sample_bucket, pinned by "
                            "the coordinated-sampling tests",
    "parse_json_column": "the from_json + corrupt-record router the JSON-ingest "
                         "tests pin",
    "list_partitions": "metadata-only partition listing the snapshot tests compare "
                       "against partition_snapshots",
    "turn_lifecycle": "streaming twin of turn_lifecycle_batch, which a query in "
                      "__spark_entry__.py checks; the parity test pins the pair",
    "merge_turn_updates": "the documented sink-side merge rule for turn_lifecycle "
                          "output, pinned by its ghost-redelivery test",
}

# "<function>.<param>", "<Class>.<param>" (constructor) or
# "<Class>.<method>.<param>" -> why the flag stays with no caller setting it
KEEP_FLAGS = {
    "ForeignKey.allow_null": "rule DSL semantics recorded in spec()",
    "Vectorized.allow_null": "rule DSL semantics recorded in spec()",
    "HashInvariant.missing_is_violation": "rule DSL semantics recorded in spec()",
    "cosine_topk.exclude_self": "self-join semantics: whether a row is its own neighbour",
    "lsh_bucketed_topk.exclude_self": "self-join semantics: whether a row is its own neighbour",
    "ivf_topk.exclude_self": "self-join semantics: whether a row is its own neighbour",
    "ivf_topk_partitioned.exclude_self": "self-join semantics: whether a row is its own neighbour",
    "explode_child.outer": "posexplode_outer semantics: parents with empty or NULL "
                           "arrays keep a row (the presence check)",
    "SuiteRegistry.load.strict": "integrity contract: False loads a spec whose hash no "
                                 "longer matches the lockfile instead of raising",
    "write_warc_files.compress": "the .gz WARC fixture writer",
    "read.merge_schema": "pins the first-footer schema where footer listing is budgeted",
    "extract_links.from_binary": "reads a binary html column, as extract_html_text("
                                 "from_binary=True) does on the WARC leg",
    "ValidationRunner.run.resume": "False re-validates every planned partition, "
                                   "whatever the manifest records",
}


def _sources():
    for path in sorted(ROOT.rglob("*.py")):
        rel = path.relative_to(ROOT)
        if rel.parts[0] == "tests" or any(p.startswith(".") for p in rel.parts):
            continue
        yield path, ast.parse(path.read_text(), filename=str(path))


def _names(node, skip=()):
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.rsplit(".", 1)[-1])
    return out - set(skip)


def _defined(node):
    """Names a top-level statement defines: a def, a class, or UPPER_CASE
    constants."""
    if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [node.name]
    if isinstance(node, (ast.Assign, ast.AnnAssign)):
        targets = node.targets if isinstance(node, ast.Assign) else [node.target]
        return [t.id for t in targets if isinstance(t, ast.Name) and t.id.isupper()]
    return []


def _public_defs_and_references():
    defs, refs = {}, set()
    for path, tree in _sources():
        in_pkg = PKG in path.parents
        reexports = in_pkg and path.name == "__init__.py"
        for node in tree.body:
            defined = _defined(node)
            if defined:
                for name in defined:
                    if in_pkg and not name.startswith("_"):
                        defs[name] = path.relative_to(ROOT).as_posix()
                refs |= _names(node, skip=defined)
            elif not (reexports and isinstance(node, ast.ImportFrom)):
                refs |= _names(node)
    return defs, refs


def test_every_public_engine_def_has_a_caller_outside_tests():
    defs, refs = _public_defs_and_references()
    orphans = sorted(f"{path}: {name}" for name, path in defs.items()
                     if name not in refs and name not in KEEP)
    assert not orphans, ("public engine names used only by tests; delete "
                         "them or list them in KEEP with a reason:\n  "
                         + "\n  ".join(orphans))


def test_keep_names_are_live_orphans():
    defs, refs = _public_defs_and_references()
    stale = sorted(n for n in KEEP if n not in defs or n in refs)
    assert not stale, f"KEEP entries that are gone or now have a caller: {stale}"


def _flag_params():
    """``{key: (callee name, parameter, position or None)}`` for every
    parameter with a True/False default of a public engine function, method
    or constructor (a dataclass field counts as a constructor parameter).
    The callee name is what a call site spells: the function, the method or
    the class."""
    out = {}

    def is_bool(node):
        return isinstance(node, ast.Constant) and isinstance(node.value, bool)

    def visit(body, cls=None, dataclass=False):
        for node in body:
            if isinstance(node, ast.ClassDef) and not node.name.startswith("_") and cls is None:
                visit(node.body, node.name, any("dataclass" in _names(d) for d in node.decorator_list))
            elif isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                if node.name.startswith("_") and node.name != "__init__":
                    continue
                if cls is None:
                    callee, key = node.name, node.name
                elif node.name == "__init__":
                    callee, key = cls, cls
                else:
                    callee, key = node.name, f"{cls}.{node.name}"
                a = node.args
                positional = a.posonlyargs + a.args
                defaults = [None] * (len(positional) - len(a.defaults)) + a.defaults
                skip = 1 if cls is not None else 0  # self
                for i, (arg, d) in enumerate(zip(positional, defaults)):
                    if is_bool(d):
                        out[f"{key}.{arg.arg}"] = (callee, arg.arg, i - skip)
                for arg, d in zip(a.kwonlyargs, a.kw_defaults):
                    if is_bool(d):
                        out[f"{key}.{arg.arg}"] = (callee, arg.arg, None)
            elif dataclass and isinstance(node, ast.AnnAssign) and is_bool(node.value):
                out[f"{cls}.{node.target.id}"] = (cls, node.target.id, None)

    for path, tree in _sources():
        if PKG in path.parents:
            visit(tree.body)
    return out


def _passed_arguments():
    """``(callee name, keyword)`` and ``(callee name, position)`` of every
    call outside ``tests/``."""
    passed = set()
    for _, tree in _sources():
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
            passed |= {(name, k.arg) for k in node.keywords if k.arg}
            for i, arg in enumerate(node.args):
                if isinstance(arg, ast.Starred):
                    break
                passed.add((name, i))
    return passed


def _unset_flags():
    """Keys of the flags that no call outside ``tests/`` passes."""
    passed = _passed_arguments()
    return {
        key for key, (callee, param, pos) in _flag_params().items()
        if (callee, param) not in passed and (pos is None or (callee, pos) not in passed)
    }


def test_every_flag_is_set_by_a_caller_outside_tests():
    unset = sorted(_unset_flags() - set(KEEP_FLAGS))
    assert not unset, ("True/False parameters no caller outside tests sets; delete "
                       "the flag and its branch, or list it in KEEP_FLAGS with a "
                       "reason:\n  " + "\n  ".join(unset))


def test_keep_flags_are_live():
    stale = sorted(set(KEEP_FLAGS) - _unset_flags())
    assert not stale, f"KEEP_FLAGS entries that are gone or now have a caller: {stale}"


def test_every_all_name_imports():
    missing = []
    for path in sorted(PKG.rglob("*.py")):
        tree = ast.parse(path.read_text())
        exported = [
            elt.value
            for node in tree.body
            if isinstance(node, ast.Assign)
            and any(isinstance(t, ast.Name) and t.id == "__all__" for t in node.targets)
            for elt in node.value.elts
        ]
        if not exported:
            continue
        rel = path.relative_to(ROOT).with_suffix("")
        parts = rel.parts[:-1] if rel.name == "__init__" else rel.parts
        module = importlib.import_module(".".join(parts))
        missing += [f"{module.__name__}.{n}" for n in exported if not hasattr(module, n)]
    assert not missing, f"__all__ names that do not import: {missing}"


def test_engine_names_imported_outside_tests_resolve():
    """``__spark_entry__.py``, the bench scripts, ``scripts/`` and
    ``perfbench/`` import engine names, private ones among them (the
    ``ann_lsh`` and IVF oracles build on ``similarity._hyperplanes`` and
    ``_ivf_centroids``); renaming or deleting one must fail here, not when
    that query runs."""
    missing = []
    for path, tree in _sources():
        if PKG in path.parents:
            continue
        for node in ast.walk(tree):
            if isinstance(node, ast.Import):
                pairs = [(a.name, None) for a in node.names]
            elif isinstance(node, ast.ImportFrom) and node.module:
                pairs = [(node.module, a.name) for a in node.names]
            else:
                continue
            for mod, name in pairs:
                if mod.split(".")[0] != PKG.name:
                    continue
                where = f"{path.relative_to(ROOT).as_posix()}:{node.lineno}"
                try:
                    module = importlib.import_module(mod)
                    if name is not None and not hasattr(module, name):
                        importlib.import_module(f"{mod}.{name}")
                except ImportError:
                    missing.append(f"{where}: {mod}{'' if name is None else '.' + name}")
    assert not missing, "engine names imported outside tests that do not resolve:\n  " + "\n  ".join(missing)
