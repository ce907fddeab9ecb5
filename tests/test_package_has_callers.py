"""Every package name and optional parameter has a caller outside ``tests/``.

The scan reads the package, ``__spark_entry__.py``, ``bench.py``, ``scripts/``
and ``perfbench/``, each file parsed once for both checks.

Names: a reference is a Name, an Attribute, an import alias or an
identifier-shaped string constant (so ``getattr`` and string tables count). A
definition's own body does not count as its caller, and the bodies of names
found dead stop counting too, repeated until nothing new turns up.

Optional parameters: every parameter with a default of a package function or
method (a class call is a call of ``__init__``) must be passed by some call, by
keyword, by position (a ``*`` splat covers the rest) or through a ``**`` splat;
``functools.partial(f, ...)`` is a call of ``f``. Calls match by the callee's
bare name. A call that passes an enclosing function's own optional parameter on
unchanged (``build_edges(hash_seed=hash_seed)``) counts only while that outer
parameter is itself kept, repeated until nothing new turns up, unless the two
defaults differ: deleting the outer one would leave its default as a constant.
"""

import ast
from functools import lru_cache
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

# Optional parameters no call sets, each with its class of reason: safety,
# deployment setting, reference behaviour a test compares against, or a test
# seam into a path the default runs at scale.
KEEP_PARAMS = {
    "operators.delta.snapshot_delta(hash_seed)": "safety: re-seed protocol for a 64-bit id collision",
    "operators.graph.build_nodes(hash_seed)": "safety: re-seed protocol; nodes and edges must share the seed",
    "plans.checkpoint.TableStore(retain)": "safety: how many committed snapshots a table keeps",
    "plans.checkpoint.TableStore.read(snapshot_id)": "safety: read back a retained snapshot",
    "plans.checkpoint.IcebergTableStore.read(snapshot_id)": "safety: read back a retained snapshot",
    "export.ndex.upload_to_ndex(server)": "deployment: NDEx server URL",
    "export.ndex.upload_to_ndex(transport)": "deployment: HTTP transport; the default refuses network I/O",
    "export.ndex.upload_partition(server)": "deployment: NDEx server URL",
    "export.ndex.upload_partition(transport)": "deployment: HTTP transport; the default refuses network I/O",
    "export.ndex.NdexClient.save_new_cx2_network(visibility)": "deployment: PRIVATE or PUBLIC network on NDEx",
    "plans.checkpoint.make_table_store(catalog)": "deployment: Iceberg catalog name",
    "plans.checkpoint.make_table_store(namespace)": "deployment: Iceberg namespace",
    "eval.real_gold.load_gold(path)": "deployment: path to the reference gold file",
    "sources.warc.read_warc(stream)": "deployment: ingest a WARC directory as files land",
    "eval.bel_eval.match_group(method)": "reference: the reference's Hungarian assignment the greedy match is checked against",
    "operators.triples.parse_triples(keep_unary)": "reference: unary statements of the Selventa corpus parse check",
    "plans.ids.dense_ids(buckets)": "test seam: 8 buckets put many keys in each bucket on test-sized input, as 256 do at scale",
    "operators.graph_query.strongly_connected_components(max_prop_iter)": "test seam: an exhausted propagation budget raises",
}

# Optional parameters that only a test sets, kept for now: deleting one
# deletes the test that pins it. Each entry names that test.
PINNED_BY_TESTS = {
    "functions.urls.registered_domain_col(extra_suffixes)": "test_url_functions::test_registered_domain_extra_suffixes",
    "operators.dedup.ngram_jaccard_pairs(max_doc_freq)": "test_native_fastpaths::test_stop_gram_cap_*",
    "operators.resolution.alias_pairs(max_shingle_freq)": "test_resolution::test_hot_shingle_cap_only_loses_recall",
    "operators.retrieval.rrf_fuse(weights)": "test_rrf::test_rrf_weights_and_top, test_rrf_weight_arity",
    "operators.retrieval.rrf_fuse(top)": "test_rrf::test_rrf_weights_and_top",
    "operators.sketches.cms_build(weight_col)": "test_sketches::test_cms_weighted",
    "operators.rag.rag_context(k)": "test_rag::test_rag_context_topk_cut_is_deterministic",
    "operators.textstats.repetition_stats(n)": "test_training_data_ops::test_repetition_stats_trigram",
    "streaming.joins.interval_join_streams(how)": "test_streaming_join::test_interval_join_left_outer_emits_unmatched",
    "operators.kge.transe_energy(norm)": "test_kge::test_transe_energy_replay[l2sq], test_bad_norm",
    "operators.walks.random_walks(directed)": "test_walks::test_walks_match_independent_replay[True]",
}


@lru_cache(maxsize=1)
def _parsed():
    """[(package module name, or None outside the package; its AST)] per scanned file."""
    out = []
    for entry in SCANNED:
        path = ROOT / entry
        for f in [path] if path.is_file() else sorted(path.rglob("*.py")):
            mod = None
            if f.is_relative_to(ROOT / PKG):
                mod = ".".join(f.relative_to(ROOT / PKG).with_suffix("").parts)
            out.append((mod, ast.parse(f.read_text(encoding="utf-8"))))
    return out


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
    for mod, tree in _parsed():
        if mod is None:
            always.extend(_refs(tree))
            continue
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


def _optional(fn, in_class):
    """[(positional index or None for keyword-only, name, default source)] of
    fn's defaulted parameters."""
    a = fn.args
    pos = a.posonlyargs + a.args
    if in_class and not any(getattr(d, "id", None) == "staticmethod" for d in fn.decorator_list):
        pos = pos[1:]  # self / cls
    first = len(pos) - len(a.defaults)
    positional = [(i + first, p.arg, ast.unparse(d))
                  for i, (p, d) in enumerate(zip(pos[first:], a.defaults))]
    kw = [(None, k.arg, ast.unparse(d)) for k, d in zip(a.kwonlyargs, a.kw_defaults)
          if d is not None]
    return positional + kw


def _walk(node, mod, qual=(), in_class=False, scope=()):
    """Yield ("param", callee, index, name, (key, default source)) per optional
    package parameter and ("call", node, scope) per call; scope maps each
    enclosing function's optional parameter names to (key, default source),
    innermost first."""
    for child in ast.iter_child_nodes(node):
        if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
            opt = {}
            if mod is not None:
                init = in_class and child.name == "__init__"
                callee = qual[-1] if init else child.name
                label = ".".join(qual if init else (*qual, child.name))
                for index, name, default in _optional(child, in_class):
                    opt[name] = (f"{mod}.{label}({name})", default)
                    yield "param", callee, index, name, opt[name]
            yield from _walk(child, mod, (*qual, child.name), False, (opt, *scope))
        elif isinstance(child, ast.ClassDef):
            yield from _walk(child, mod, (*qual, child.name), True, scope)
        else:
            if isinstance(child, ast.Call):
                yield "call", child, scope
            yield from _walk(child, mod, qual, in_class, scope)


def _callee(func):
    return getattr(func, "id", None) or getattr(func, "attr", None)


def scan_params():
    """Return (every optional package parameter, the ones no kept call sets,
    stale KEEP_PARAMS / PINNED_BY_TESTS entries)."""
    by_callee, calls = {}, []
    for mod, tree in _parsed():
        for item in _walk(tree, mod):
            if item[0] == "param":
                by_callee.setdefault(item[1], []).append(item[2:])
            else:
                calls.append(item[1:])
    sets = []  # (parameter key, the outer parameter key it passes on, or None)
    for call, scope in calls:
        func, args = call.func, call.args
        if _callee(func) == "partial" and args:
            func, args = args[0], args[1:]
        star = next((i for i, a in enumerate(args) if isinstance(a, ast.Starred)), None)
        splat = any(k.arg is None for k in call.keywords)
        for index, name, (key, default) in by_callee.get(_callee(func), []):
            values = [k.value for k in call.keywords if k.arg == name]
            if index is not None and index < len(args):
                values.append(args[index])
            if splat or (None not in (index, star) and index >= star):
                sets.append((key, None))
            for v in values:
                outer = [s[v.id] for s in scope if isinstance(v, ast.Name) and v.id in s]
                same = outer and outer[0][1] == default
                sets.append((key, outer[0][0] if same else None))
    params = {key for entries in by_callee.values() for _, _, (key, _) in entries}
    kept = {**KEEP_PARAMS, **PINNED_BY_TESTS}
    live = set(kept)
    while True:
        new = {k for k, outer in sets if k not in live and (outer is None or outer in live)}
        if not new:
            break
        live |= new
    reached = {k for k, outer in sets if outer is None or (outer in live and outer != k)}
    stale = [k for k in kept if k not in params or k in reached]
    return params, sorted(params - live), stale


def test_every_optional_parameter_has_a_caller_or_a_reason():
    params, unset, stale = scan_params()
    classes = ("safety:", "deployment:", "reference:", "test seam:")
    assert [k for k, why in KEEP_PARAMS.items() if not why.startswith(classes)] == []
    assert all(PINNED_BY_TESTS.values())
    assert stale == [], "kept entry is not an unset optional parameter"
    assert not unset, (
        f"{len(unset)} of {len(params)} optional parameters have no caller "
        "outside tests/: " + ", ".join(unset)
    )
