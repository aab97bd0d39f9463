"""Every place the package hands rows to a Python worker, pinned by an AST
scan: Arrow batches cross as pyarrow (``arrow_udf``, ``mapInArrow``,
``applyInArrow``); only the stateful streaming operators and the UDTF
remain other kinds of site, and ``pandas`` is imported by the stateful
module alone. Each site names the test that feeds it hostile input (a
NULL, a ragged or an empty value), so a new site fails here until it is
listed with one."""

from __future__ import annotations

import ast
from pathlib import Path

_ROOT = Path(__file__).resolve().parent.parent
_PKG = _ROOT / "weather_data_ingestion_gcp_spark"

#: calls that start a Python worker over the rows of a plan
_BOUNDARY = {
    "arrow_udf",
    "mapInArrow",
    "applyInArrow",
    "udtf",
    "applyInPandasWithState",
    "transformWithStateInPandas",
    # gone: the pandas spellings, kept here so a reintroduced one is found
    "pandas_udf",
    "mapInPandas",
    "applyInPandas",
    "udf",
}

_HOSTILE_VECTORS = "test_ops_extensions.py::test_hostile_vectors_give_null_cells_no_pairs_or_value_error"

#: (module, outermost enclosing def or assigned name, call) -> its hostile-input test
SITES = {
    ("operators/similarity.py", "dot_pandas", "arrow_udf"): f"{_HOSTILE_VECTORS}[dot_pandas]",
    ("operators/similarity.py", "kmeans_assign", "arrow_udf"): f"{_HOSTILE_VECTORS}[kmeans_assign]",
    ("operators/similarity.py", "kmeans_assign", "mapInArrow"): f"{_HOSTILE_VECTORS}[kmeans_assign]",
    ("operators/similarity.py", "random_hyperplane_bands", "arrow_udf"):
        f"{_HOSTILE_VECTORS}[random_hyperplane_bands]",
    ("operators/similarity.py", "scalar_quantize_stats", "arrow_udf"):
        f"{_HOSTILE_VECTORS}[scalar_quantize_stats]",
    ("operators/similarity.py", "mmr_select", "arrow_udf"): f"{_HOSTILE_VECTORS}[mmr_select]",
    ("operators/similarity.py", "block_cosine_pairs", "applyInArrow"):
        f"{_HOSTILE_VECTORS}[semantic_dedup_prune]",
    ("plans/embeddings.py", "pca_power_iteration", "mapInArrow"):
        f"{_HOSTILE_VECTORS}[pca_power_iteration]",
    ("plans/embeddings.py", "decontaminate_semantic_topmatch", "applyInArrow"):
        "test_decontamination.py::test_semantic_decontamination_excludes_zero_norm",
    ("operators/multimodal.py", "_map_payloads", "mapInArrow"):
        "test_ops_extensions.py::test_null_payload_keeps_its_row_with_null_cells",
    ("operators/text.py", "winnow_fingerprints", "arrow_udf"):
        "test_ops_extensions.py::test_winnow_null_and_short_texts_get_no_fingerprints",
    ("operators/grouped.py", "grouped_zscore", "applyInArrow"):
        "test_ops_extensions.py::test_grouped_zscore_keeps_int_key_and_id_types",
    ("functions/udtfs.py", "weighted_mean_udaf", "arrow_udf"):
        "test_udtf_surface.py::test_weighted_mean_udaf_skips_nulls_and_nulls_a_zero_weight_group",
    ("operators/sketch.py", "mg_partial_candidates", "mapInArrow"):
        "test_sketch.py::test_mg_heavy_hitters_keeps_a_null_key",
    ("functions/udtfs.py", "ChunkSpansUDTF", "udtf"):
        "test_udtf_surface.py::test_chunk_udtf_degenerate_inputs",
    ("streaming/stateful.py", "user_running_stats", "applyInPandasWithState"):
        "test_streaming_stateful.py::test_stateful_running_totals_across_batches",
    ("streaming/stateful.py", "streaming_heavy_hitter_candidates", "applyInPandasWithState"):
        "test_streaming_stateful.py::test_streaming_mg_candidates_bounded_and_heavy_survives",
    ("streaming/stateful.py", "user_activity_profile", "transformWithStateInPandas"):
        "test_streaming_stateful.py::test_transform_with_state_typed_state_vars",
}


def _call_name(node: ast.Call) -> str | None:
    f = node.func
    return f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)


def _sites(tree: ast.Module):
    """``(owner, call)`` per boundary call: the owner is the outermost
    ``def``/``class`` around it, else the name a module-level assignment
    binds."""

    def walk(node, owner):
        for child in ast.iter_child_nodes(node):
            inner = owner
            if owner is None and isinstance(child, (ast.FunctionDef, ast.ClassDef)):
                inner = child.name
            elif owner is None and isinstance(child, ast.Assign):
                inner = ast.unparse(child.targets[0])
            if isinstance(child, ast.Call) and _call_name(child) in _BOUNDARY:
                yield inner, _call_name(child)
            yield from walk(child, inner)

    yield from walk(tree, None)


def _scan():
    sites, pandas_importers = [], set()
    for path in sorted(_PKG.rglob("*.py")):
        rel = path.relative_to(_PKG).as_posix()
        tree = ast.parse(path.read_text())
        sites += [(rel, owner, call) for owner, call in _sites(tree)]
        for node in ast.walk(tree):
            names = (
                [a.name for a in node.names] if isinstance(node, ast.Import)
                else [node.module or ""] if isinstance(node, ast.ImportFrom)
                else []
            )
            if any(n.split(".")[0] == "pandas" for n in names):
                pandas_importers.add(rel)
    return sites, pandas_importers


def test_python_boundary_sites_are_pinned():
    sites, pandas_importers = _scan()
    assert not [s for s in sites if s[2] in ("pandas_udf", "mapInPandas", "applyInPandas")]
    assert pandas_importers == {"streaming/stateful.py"}
    assert len(sites) == len(set(sites))
    assert set(sites) == set(SITES), (
        "a Python-boundary site was added or removed; list it in SITES with "
        "the test that feeds it hostile input"
    )


def test_every_boundary_site_has_a_hostile_input_test():
    defined = {}
    for ref in set(SITES.values()):
        file, _, name = ref.partition("::")
        test, _, param = name.rstrip("]").partition("[")
        if file not in defined:
            tree = ast.parse((_ROOT / "tests" / file).read_text())
            defined[file] = {
                n.name: ast.unparse(n) for n in tree.body if isinstance(n, ast.FunctionDef)
            }
        assert test in defined[file], ref
        assert not param or repr(param) in defined[file][test].replace('"', "'"), ref
