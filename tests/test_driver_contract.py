"""Driver-contract invariants that live outside any single operator:
the README's advertised query count must track the registry (ADVICE r9
— the count drifted 227 vs 228 when q82 landed after the README edit),
the package imports without warnings, a default no caller overrides is
a constant, stated once, and every package def runs from a program.
"""

from __future__ import annotations

import ast
import pathlib
import re
import subprocess
import sys

from fanstats_producer_spark import registry

REPO = pathlib.Path(__file__).resolve().parent.parent


def test_readme_count_matches():
    """README's "**N of N**" oracle-coverage claim equals the number of
    registered keys, so the doc can never silently drift again."""
    text = (REPO / "README.md").read_text()
    m = re.search(r"\*\*(\d+) of (\d+)\*\*", text)
    assert m, "README.md lost its '**N of N**' oracle-coverage claim"
    n = len(registry.QUERIES)
    assert (int(m.group(1)), int(m.group(2))) == (n, n), (
        f"README claims {m.group(0)} but registry has {n} keys — "
        "update the README count"
    )


def test_registry_loads_without_warnings():
    """Loading every query module warns nothing, so a real warning in a
    tier-1 summary or a sweep log is never lost among known ones."""
    registry.load_all()
    out = subprocess.run(
        [
            sys.executable, "-W", "error::UserWarning", "-c",
            "from fanstats_producer_spark import registry; "
            "registry.load_all(); print(len(registry.QUERIES))",
        ],
        cwd=REPO, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert int(out.stdout.split()[-1]) == len(registry.QUERIES) == 260


# --- Defaulted-parameter audit ------------------------------------------------
# A defaulted parameter of a package function (not _pbshim/) that no call
# in the package, scripts/, perfbench/, bench.py or __spark_entry__.py sets,
# by keyword or by position, is a constant in disguise: state it once as a
# module constant (or a literal, for a column name) instead.  Calls are
# matched by function name (`f(...)`, `mod.f(...)`, `partial(f, ...)`); a
# `*args`/`**kwargs` call sets everything it could reach.  Only functions
# some non-test code calls by name are audited, so constructors (a call
# names the class) fall outside the rule; a function nothing outside
# tests/ reaches is the reachability audit's case (below).
#
# The exceptions are the seams tests set: a forced-path arm or a
# parametrized case.  Each entry names a test that sets the parameter,
# and the audit checks that test still does.
_AUDIT_CALLERS = (
    "fanstats_producer_spark",
    "scripts",
    "perfbench",
    "bench.py",
    "__spark_entry__.py",
)
_TEST_SET = {
    "streaming.jobs.streaming_sequence_packing.seq_len":
        "test_streaming.py::test_s27_packing_carries_offset_and_absorbs_replay",
    "streaming.jobs.streaming_weighted_sample.k":
        "test_streaming.py::test_s30_weighted_reservoir_slicing_invariant_and_replay_safe",
    "streaming.jobs.streaming_quantile_monitor.k":
        "test_streaming.py::test_s31_quantile_monitor_slicing_invariant_and_replay_safe",
    "operators.dedup.minhash_lsh_pairs.jaccard_distance":
        "test_xlayer.py::test_minhash_lsh_recall_vs_exact",
    "operators.dedup.minhash_native_pairs.threshold":
        "test_xlayer.py::test_minhash_native_recall_vs_exact",
    "operators.dedup.connected_components.max_iterations":
        "test_xlayer.py::test_connected_components_long_chain_pointer_jumping",
    "operators.dedup.connected_components.driver_threshold":
        "test_xlayer.py::test_connected_components_chain_and_clique",
    "operators.dedup.edit_verified_pairs.rel_num":
        "test_xlayer.py::test_edit_verify_zero_threshold_keeps_only_exact",
    "operators.dedup.edit_verified_pairs.rel_den":
        "test_xlayer.py::test_edit_verify_zero_threshold_keeps_only_exact",
    "operators.dedup.semdedup.scorer":
        "test_xlayer.py::test_semdedup_blas_scorer_matches_fold",
    "operators.quality_checks._exact_tail_quantile.exact_tail_limit":
        "test_corpus_extra.py::test_tail_quantile_approx_fallback",
    "operators.multimodal.encode_wav.rate":
        "test_xlayer.py::test_wav_codec_roundtrip_and_wave_module_interop",
    "operators.multimodal.encode_avi.fps":
        "test_xlayer.py::test_avi_codec_roundtrip_and_dispatch",
    "operators.graph.pagerank_ranks.driver_threshold":
        "test_corpus_extra.py::test_pagerank_driver_fast_path_matches_broadcast",
    "operators.joins.interval_overlap_join.bin_size":
        "test_scale.py::test_interval_overlap_join_bins_emit_each_pair_once",
    "operators.corpus.prepare_corpus.chunk_size":
        "test_xlayer.py::test_corpus_pipeline_stages",
    "operators.corpus.prepare_corpus.stride":
        "test_xlayer.py::test_corpus_pipeline_stages",
    "operators.corpus.prepare_corpus.budget":
        "test_xlayer.py::test_corpus_pipeline_stages",
    "operators.similarity.lsh_simjoin.euclid_threshold":
        "test_xlayer.py::test_lsh_simjoin_contains_closest_pairs",
    "operators.similarity.decontam_blas.band":
        "test_streaming.py::test_s26b_blas_arm_matches_hof_arm_bitwise",
    "operators.similarity.mmr_rerank.driver_threshold":
        "test_xlayer.py::test_x102_mmr_driver_fast_path_matches_distributed_arm",
    "operators.sketches.sketch_topk.k":
        "test_xlayer.py::test_topk_sketch_merge_matches_exact_counts",
    "operators.llm_data.bpe_train.max_types":
        "test_llm_data.py::test_bpe_train_prunes_type_table_before_collect",
    "functions.chunking.pack_documents.budget":
        "test_xlayer.py::test_packing_budget_respected",
}


def _py_files(*names: str):
    for name in names:
        path = REPO / name
        files = [path] if path.is_file() else sorted(path.rglob("*.py"))
        for f in files:
            if "_pbshim" not in f.parts:
                yield f, ast.parse(f.read_text())


def _defaulted(fn: ast.FunctionDef):
    """(name, position or None if keyword-only) per defaulted parameter."""
    a = fn.args
    pos = a.posonlyargs + a.args
    first = len(pos) - len(a.defaults)
    out = [(p.arg, first + i) for i, p in enumerate(pos[first:])]
    out += [(p.arg, None) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d]
    return out


def _calls(tree: ast.AST):
    """(called name, call node, positional args) for every call."""
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call):
            continue
        func, args = node.func, node.args
        if getattr(func, "id", getattr(func, "attr", None)) == "partial" and args:
            func, args = args[0], args[1:]
        name = getattr(func, "id", getattr(func, "attr", None))
        if name:
            yield name, node, args


def _sets(fn: ast.FunctionDef, param: str, pos, node: ast.Call, args) -> bool:
    if any(k.arg in (param, None) for k in node.keywords):
        return True
    if pos is None:
        return False
    if any(isinstance(a, ast.Starred) for a in args):
        return True
    bound = fn.args.posonlyargs + fn.args.args
    method = bound and bound[0].arg in ("self", "cls")
    return len(args) + (1 if method else 0) > pos


def _unset_defaults() -> dict[str, tuple]:
    """`module.function.param` -> (def node, position) for each defaulted
    parameter the audit rule flags."""
    calls: dict[str, list] = {}
    for _, tree in _py_files(*_AUDIT_CALLERS):
        for name, node, args in _calls(tree):
            calls.setdefault(name, []).append((node, args))
    found = {}
    pkg = REPO / "fanstats_producer_spark"
    for path, tree in _py_files("fanstats_producer_spark"):
        mod = ".".join(path.relative_to(pkg).with_suffix("").parts)
        for fn in ast.walk(tree):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            if fn.name == "__init__" or fn.name not in calls:
                continue
            for param, pos in _defaulted(fn):
                if not any(_sets(fn, param, pos, *c) for c in calls[fn.name]):
                    found[f"{mod}.{fn.name}.{param}"] = (fn, pos)
    return found


def test_every_defaulted_parameter_has_a_caller_that_sets_it():
    found = _unset_defaults()
    unlisted = sorted(set(found) - set(_TEST_SET))
    assert not unlisted, (
        f"{len(unlisted)} defaulted parameters no non-test caller sets; "
        "make each a module constant (or a literal column name):\n"
        + "\n".join(unlisted)
    )
    assert len(_TEST_SET) <= 24
    stale = sorted(set(_TEST_SET) - set(found))
    assert not stale, f"allowlisted but set by a non-test caller: {stale}"
    for key, where in _TEST_SET.items():
        fn, pos = found[key]
        param = key.rsplit(".", 1)[1]
        file, test = where.split("::")
        tree = ast.parse((REPO / "tests" / file).read_text())
        body = [
            t for t in ast.walk(tree)
            if isinstance(t, ast.FunctionDef) and t.name == test
        ]
        assert body, f"{key}: {where} does not exist"
        assert any(
            name == fn.name and _sets(fn, param, pos, node, args)
            for name, node, args in _calls(body[0])
        ), f"{key}: {where} no longer sets it"


# --- Reachability audit -------------------------------------------------------
# Every top-level function or class in the package (not _pbshim/) runs from
# a program entry.  The roots are the registered @query builders,
# module-level code (with decorators, defaults and base classes, so
# pipeline's `__main__` guard reaches `main`), and everything scripts/,
# perfbench/ (not its tests), bench.py and __spark_entry__.py reference.
# A reached def reaches the names, attributes and import aliases it
# references; a reached class reaches its methods.  Names match bare, as
# the defaulted-parameter audit matches calls: a collision can keep a def
# alive, but a live def is never flagged.  A def only tests reach is a
# capability no program runs: delete it, or wire it into a program.
#
# The exceptions are the probes tests drive.  Each entry names a test
# that calls the def, and the audit checks that test still does.
_PROGRAMS = ("scripts", "perfbench", "bench.py", "__spark_entry__.py")
_TEST_PROBES = {
    "plans.checks.pushed_filters":
        "test_plans.py::test_filter_pushdown_reaches_scan",
    "plans.checks.read_schema":
        "test_plans.py::test_column_pruning_reaches_scan",
    "plans.checks.has_broadcast_join":
        "test_plans.py::test_small_dim_join_broadcasts",
    "plans.checks.has_sort_merge_join":
        "test_plans.py::test_small_dim_join_broadcasts",
    "plans.checks.n_shuffle_exchanges":
        "test_plans.py::test_decontaminate_is_single_pass_inverted_index",
    "plans.checks.partition_filters":
        "test_plans.py::test_partition_pruning",
    "plans.checks.scan_metrics":
        "test_plans.py::test_partition_pruning",
    "plans.checks.whole_stage_codegen_ids":
        "test_plans.py::test_whole_stage_codegen_covers_agg",
    "streaming.jobs.read_event_stream":
        "test_streaming.py::test_stream_ingest_to_partitioned_sink",
    "sources.ndjson.read_tweets":
        "test_ingest.py::test_read_pinned_schema",
}
_DEF = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _names(*nodes: ast.AST) -> set[str]:
    """Every name, attribute and import alias the nodes reference."""
    out = set()
    for node in nodes:
        for n in ast.walk(node):
            if isinstance(n, ast.Name):
                out.add(n.id)
            elif isinstance(n, ast.Attribute):
                out.add(n.attr)
            elif isinstance(n, ast.alias):
                out |= {n.name.rsplit(".", 1)[-1], n.asname or n.name}
    return out


def _import_time(stmts: list[ast.stmt]):
    """The nodes a module evaluates when it is imported: all but def
    bodies and import statements."""
    for st in stmts:
        if isinstance(st, (ast.FunctionDef, ast.AsyncFunctionDef)):
            yield from st.decorator_list
            yield from st.args.defaults
            yield from filter(None, st.args.kw_defaults)
        elif isinstance(st, ast.ClassDef):
            yield from st.decorator_list + st.bases + st.keywords
            yield from _import_time(st.body)
        elif not isinstance(st, (ast.Import, ast.ImportFrom)):
            yield st


def _unreached() -> dict[str, ast.AST]:
    """`module.def` -> node for each top-level package def no program
    entry reaches."""
    defs: dict[str, list] = {}
    aliases: dict[str, set] = {}
    roots: set[str] = set()
    pkg = REPO / "fanstats_producer_spark"
    for path, tree in _py_files("fanstats_producer_spark"):
        mod = ".".join(path.relative_to(pkg).with_suffix("").parts)
        for st in tree.body:
            if isinstance(st, _DEF):
                defs.setdefault(st.name, []).append((mod, st))
                if "query" in _names(*st.decorator_list):
                    roots.add(st.name)
            elif isinstance(st, ast.ImportFrom):
                for a in st.names:
                    if a.asname:
                        aliases.setdefault(a.asname, set()).add(a.name)
        roots |= _names(*_import_time(tree.body))
    for path, tree in _py_files(*_PROGRAMS):
        if "tests" not in path.relative_to(REPO).parts:
            roots |= _names(tree)
    reached: set[str] = set()
    todo = list(roots)
    while todo:
        name = todo.pop()
        if name not in reached:
            reached.add(name)
            todo += aliases.get(name, ())
            for _, node in defs.get(name, ()):
                todo += _names(node)
    return {
        f"{mod}.{name}": node
        for name, nodes in defs.items() if name not in reached
        for mod, node in nodes
    }


def test_every_package_def_is_reached_from_a_program_entry():
    found = _unreached()
    unlisted = sorted(set(found) - set(_TEST_PROBES))
    assert not unlisted, (
        f"{len(unlisted)} package defs no key, producer run or script "
        "reaches; delete each, or run it from a program:\n"
        + "\n".join(unlisted)
    )
    assert len(_TEST_PROBES) <= 10
    stale = sorted(set(_TEST_PROBES) - set(found))
    assert not stale, f"allowlisted but reached or gone: {stale}"
    for key, where in _TEST_PROBES.items():
        file, test = where.split("::")
        tree = ast.parse((REPO / "tests" / file).read_text())
        body = [
            t for t in ast.walk(tree)
            if isinstance(t, ast.FunctionDef) and t.name == test
        ]
        assert body, f"{key}: {where} does not exist"
        assert any(
            name == found[key].name for name, _, _ in _calls(body[0])
        ), f"{key}: {where} no longer calls it"


# --- Shared oracle rules ------------------------------------------------------
# Each near-dup rule's DuckDB oracle SQL is stated once, by a builder in
# operators/dedup.py next to the Spark code it mirrors and built from the
# constants that code reads: the MinHash chain (_MH_CHAIN), the closure
# (_CLOSURE_SQL) and the k-shingle expression (_shingles_sql).  The fan-session
# gap and s23's PSI bucket width are each one constant in streaming/jobs.py,
# so no oracle writes them as literals.
# A second copy of any of these lets the two engines drift apart.
_STATED_ONCE = (
    "2654435761",
    "reach(node, r) AS (",
    "range(1, greatest(len(toks) -",
    # one Kneser-Ney level, one word n-gram extractor (kn_bits, _word_grams)
    "- 3 AS DOUBLE)",
    "unnest(list_transform(range(1, len(t)",
    # one x04 and one x61 pair rule (scale_closure_check reads both)
    "ON a.shingle = b.shingle AND a.doc_id < b.doc_id",
    "list_cosine_similarity(va.v, vb.v)",
    # one cosine top-k, one recall@k and one PQ sub-distance frame for the
    # dense vector-search keys (similarity.py, each with its DuckDB twin)
    'F.col("cos_sim_e6").desc(), F.col("neighbor_id")',
    "ORDER BY cos_sim_e6 DESC, neighbor_id) AS rnk",
    'alias("n_exact")',
    "COUNT(*) AS n_exact",
    'F.lit(j).alias("j")',
    "arg_min(cid",
    # one PSI, one contingency frame and one chi² cell for the drift
    # battery (quality_checks.py, each with its DuckDB twin)
    "F.log(p_live / p_ref)",
    "ln(p_live / p_ref)",
    "COUNT(*) FILTER (WHERE half = 0) AS n_ref",
    "rows_ AS (SELECT lang",
    '(F.col("o") - e) * (F.col("o") - e) / e',
)
_STATED_NOWHERE = (
    "INTERVAL 30 MINUTE",
    "1800000",
    '- 3).cast("double")',
    'F.slice(F.col("t"), 2, F.size("t") - 1)',
    "zip_with(slice(t, 1, size(t) - 1),",
    "1073741824",
    "/ 8.0)",
)


def test_shared_oracle_rules_are_stated_once():
    files = sorted((REPO / "fanstats_producer_spark").rglob("*.py"))
    files += sorted((REPO / "scripts").glob("*.py"))
    texts = {str(f.relative_to(REPO)): f.read_text() for f in files}
    bad = []
    for frag in _STATED_ONCE + _STATED_NOWHERE:
        hits = {path: t.count(frag) for path, t in texts.items() if frag in t}
        want = 1 if frag in _STATED_ONCE else 0
        if sum(hits.values()) != want:
            bad.append(f"{frag!r} x{sum(hits.values())}, want {want}: {hits}")
    assert not bad, (
        "shared oracle rules restated; build each from its one builder "
        "or constant:\n" + "\n".join(bad)
    )
