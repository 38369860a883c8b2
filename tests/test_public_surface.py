"""Guard against engine surface that only tests call.

Every public top-level function, class or UPPER_CASE constant in
``slower_whisper_spark/`` must be referenced by a Python file outside
``tests/`` (the engine itself, the CLI, ``__spark_entry__.py``, ``bench*.py``,
``scripts/``, ``perfbench/``), or be listed in ``KEEP`` with the reason it
stays.  A package ``__init__.py`` re-export is not a reference, and neither
is a definition naming itself.  Every engine name those non-test files import
must resolve, private ones included.  Run this after adding or removing a
public engine function.
"""

import ast
import importlib
import pathlib

ROOT = pathlib.Path(__file__).resolve().parents[1]
PKG = ROOT / "slower_whisper_spark"

KEEP = {
    "profile": "stats tests and plan tests profile tables through it; it "
               "composes the same stat_agg_exprs/unpivot_stats the suite runs",
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
