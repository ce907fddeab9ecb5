"""Every top-level package name has a caller outside ``tests/`` or a stated reason.

The scan reads the package, ``__spark_entry__.py``, ``bench.py``, ``scripts/``
and ``perfbench/``. A reference is a Name, an Attribute, an import alias or an
identifier-shaped string constant (so ``getattr`` and string tables count). A
definition's own body does not count as its caller, and the bodies of names
found dead stop counting too, repeated until nothing new turns up.
"""

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = "llm_text_to_knowledge_graph_spark"
SCANNED = [PKG, "__spark_entry__.py", "bench.py", "scripts", "perfbench"]

KEEP = {
    "export.ndex.upload_to_ndex": "reference export step: NDEx upload, off by default",
    "export.ndex.upload_partition": "reference export step: per-partition NDEx upload",
    "export.cx2.write_cx2": "reference export step: CX2 JSON file sink",
    "operators.doc_meta.network_name": "reference export step: NDEx network name per article",
    "eval.spark_eval.precision_recall": "reference E5 P/R step; the pipeline PR gate scores with it",
    "operators.dedup.simhash64": "reference implementation the vectorised simhash is pinned against",
    "functions.bel.extract_label": "reference implementation the BEL fast path is pinned against",
    "functions.bel.extract_type": "reference implementation the BEL fast path is pinned against",
    "operators.quality_model.train_quality_model": "derives the frozen DEFAULT_QUALITY_WEIGHTS",
    "schemas.*": "declared table contracts",
    "functions.bel.BEL_RELATIONS": "declared BEL relation vocabulary",
    "eval.real_gold_bel.SELVENTA_DEV_PAPER_PMIDS": "test data: the Selventa dev paper set",
    "streaming.incremental.incremental_graph": "the streaming KG build",
    "streaming.incremental.incremental_triples": "the streaming KG build's triples-only form",
    "streaming.incremental.read_incremental_nodes": "reader of the streaming KG build",
    "streaming.incremental.read_incremental_edges": "reader of the streaming KG build",
    "plans.ids.salted_join": "skew-join helper the roadmap keeps",
    "plans.bucketing.exchange_count": "plan probe that several tests use",
}


def _files():
    for entry in SCANNED:
        path = ROOT / entry
        yield from [path] if path.is_file() else sorted(path.rglob("*.py"))


def _refs(node):
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            yield n.id
        elif isinstance(n, ast.Attribute):
            yield n.attr
        elif isinstance(n, ast.alias):
            yield n.name.rsplit(".", 1)[-1]
        elif isinstance(n, ast.Constant) and isinstance(n.value, str) and n.value.isidentifier():
            yield n.value


def _defined(stmt):
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        names = [stmt.name]
    elif isinstance(stmt, (ast.Assign, ast.AnnAssign)):
        targets = stmt.targets if isinstance(stmt, ast.Assign) else [stmt.target]
        names = [t.id for t in targets if isinstance(t, ast.Name)]
    else:
        names = []
    return [n for n in names if not n.startswith("__")]  # __all__ and friends are module code


def _kept(key):
    return key in KEEP or key.rsplit(".", 1)[0] + ".*" in KEEP


def scan():
    """Return (every package definition, the ones with no caller)."""
    defs, always = {}, []  # "module.name" -> the references in its body
    for path in _files():
        tree = ast.parse(path.read_text(encoding="utf-8"))
        if not path.is_relative_to(ROOT / PKG):
            always.extend(_refs(tree))
            continue
        mod = ".".join(path.relative_to(ROOT / PKG).with_suffix("").parts)
        for stmt in tree.body:
            names = _defined(stmt)
            defs.update({f"{mod}.{name}": list(_refs(stmt)) for name in names})
            if not names:
                always.extend(_refs(stmt))
    dead = set()
    while True:
        refs = set(always)
        for key, body in defs.items():
            if key not in dead:
                own = key.rsplit(".", 1)[1]
                refs.update(r for r in body if r != own)
        new = {k for k in defs if k not in dead and not _kept(k) and k.rsplit(".", 1)[1] not in refs}
        if not new:
            return defs, dead
        dead |= new


def test_every_package_name_has_a_caller_or_a_reason():
    defs, dead = scan()
    assert all(reason.strip() for reason in KEEP.values())
    modules = {d.rsplit(".", 1)[0] + ".*" for d in defs}
    assert [k for k in KEEP if k not in defs and k not in modules] == []  # no stale keep
    assert not dead, "no caller outside tests/: " + ", ".join(sorted(dead))
