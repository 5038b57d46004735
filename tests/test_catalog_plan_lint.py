"""Catalog-wide physical-plan lint: structural rules that must hold for
EVERY registered query, enforced mechanically rather than by spot-check.

Rules (SURVEY.md §2.10 / SCALE.md):
- No CartesianProduct, ever. Broadcast nested-loop joins are allowed
  only for queries that deliberately broadcast a tiny side (probes,
  centroids, scalar thresholds, calendar spines) — whitelisted by name.
- No BatchEvalPython (row-at-a-time Python UDF) anywhere — Python
  crosses the boundary only through Arrow (ArrowEvalPython / mapInPandas
  / FlatMapGroupsInPandas).

Queries whose BUILDER already executes work (streaming replays, BPE
training loops, ORC roundtrips, driver-coordinated iteration) are
exercised by their own gates; planning them here would re-run that work,
so they are skipped by name, not silently."""

from __future__ import annotations

import pytest

from gee_datapipeline_spark.plans import QUERIES
from gee_datapipeline_spark.plans.registry import _load_all

from conftest import SF_SMOKE, gate_reference_queries

_load_all()

# Builders that execute (stream, collect, checkpoint, write) during
# construction — covered by their own gate entries + unit tests.
EXECUTING_BUILDERS = {
    "streaming_session_incidents",
    "streaming_windowed_composite",
    "streaming_dedup",
    "streaming_correlate",
    "streaming_correlate_outer",
    "streaming_road_enrich",   # runs a streaming query at build time
    "bpe_vocab_merges",
    "bpe_encode_pieces",
    "orc_roundtrip",
    "pagerank_trade_network",  # eager-checkpoints its edge table
    "ann_ivf",                 # eager-checkpoints its quantizer
    "knn_join_ivf",            # trains the same quantizer in-plan
    "supplier_stock_value",    # eager-checkpoints the per-part aggregate
    "triangle_count",          # eager-checkpoints the deduped edge list
    "label_propagation",       # eager-checkpoints the undirected edges
    "embedding_pca_power",     # eager-checkpoints scatter matrix + iterates
    "raster_ingest_tif",       # reads fixture rasters at build time
    "raster_ingest_utm_tif",   # reads fixture rasters at build time
    "geotiff_roundtrip",       # writes + re-ingests GeoTIFFs at build time
    "geotiff_multiband_roundtrip",  # same, multi-band stack
    "multimodal_resize_real",
    "multimodal_decode_real",
    "image_dhash_dedup",       # reads the dhash fixture at build time
    "multimodal_frames_real",
    "video_scene_cuts",        # reads the media fixture at build time
    "audio_decode_real",
    "xml_roundtrip",           # collects + re-wraps rows at build time
    "bfs_reachability",        # eager-checkpoints each frontier round
    "kcore_decomposition",     # eager-checkpoints each peel round
}

# Deliberate tiny-side broadcast nested-loops (probes × corpus,
# scalar-threshold joins, spine ranges) — never fact × fact.
BNLJ_WHITELIST = {
    "geo_region_union_area",   # slab sweep: 2N footprint edges × N footprints
    "ann_bruteforce",
    "embedding_near_dup",
    "semantic_dedup",
    "above_nation_avg",
    "dormant_rich_customers",
    "token_budget_head",
    "contamination_scan",
    "interval_join_monthly",
    "date_spine_gaps",
    "tfidf_top_terms",
    "doc_length_histogram",
    "proximity_pairs",
    "span_dedup",
    "ngram_jaccard_pairs",
    "minhash_lsh_pairs",
    "simhash_pairs",
    "ann_lsh",
    "ann_lsh_recall",
    "minhash_lsh_recall",  # two 1-row gate aggregates crossed
    "pq_codes",
    "ann_pq",  # codebook (16 rows) + per-probe LUT broadcasts
    "lang_source_mi",  # 1-row n-total + 32-cell marginal broadcasts
    "audience_overlap",  # 10-row literal pair table × ≤32-row histogram
    "ab_test_zscores",  # C-row rate table self-crossed (C·(C−1)/2 pairs)
    "benford_screen",  # 1-row n-total and chi2-total broadcasts
    "bm25_topk",  # 1-row corpus stats (N, avgdl) broadcast
    "source_kl_divergence",  # 1-row corpus token total broadcast
    "supplier_stock_value",  # global-scalar threshold broadcast (Q11)
    "triangle_count",  # final 1-row stats composition (tri × edges × nodes)
    "lm_perplexity_buckets",  # 1-row vocabulary-size broadcast
    "dsir_importance_weights",  # 1-row corpus token totals broadcast
    "hybrid_rrf_topk",  # 1-row probe vector + 1-row BM25 stats broadcasts
    "basket_lift_pairs",  # 1-row order-count scalar broadcast
    "kmv_distinct_overlap",  # |sources|-row sketch-summary self-pairing
    "source_token_waterfill",  # 1-row budget/water-line broadcasts
    "waterfill_apply",  # embeds the waterfill 1-row broadcasts
    "term_keyness",  # 1-row corpus token-total broadcast
}

# Unpartitioned (single-partition) windows over PROVABLY BOUNDED
# inputs only — each entry names the bound. A global window over fact
# data would serialize the whole table through one task at 100 TB, so
# any new entry here must state why its input cannot grow with the
# corpus (the r4 verdict audited these by hand; this rule makes the
# audit mechanical).
GLOBAL_WINDOW_WHITELIST = {
    "geo_region_union_area",    # lead() over 2N footprint x-edges —
                                # dimension-sized; grouped dissolves
                                # partition this window by the group key
    "cumulative_unique_users",  # |distinct days| rows (calendar-bounded)
    "moving_average",           # bucket-offset prefix sum over the
                                # per-bucket count table: ≤ idx-domain /
                                # block rows (calendar-bounded), the
                                # rank stage of blocked_trailing_window
    "hybrid_rrf_topk",          # ≤FUSE_DEPTH rows each, post-TakeOrdered
    "bm25_topk",                # probe rank band: row_number over the
                                # ≤PROBE_RANK_HI-row TakeOrdered head
    "token_budget_head",        # SCORE_LEVELS-row running-mass windows
    "source_token_waterfill",   # |sources|-row rank/prefix-sum windows
    "waterfill_apply",          # embeds the |sources|-row cap windows
    "zipf_slope",               # ≤ZIPF_HEAD rows post-TakeOrdered
    "geo_max_composite_frp",    # one image: raster-sized, never corpus
                                # (W1's per-image min-max is the
                                # reference's own global-agg semantic)
}

LINTABLE = sorted(set(QUERIES) - EXECUTING_BUILDERS)


def _global_windows(jplan, out):
    cls = jplan.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        _global_windows(jplan.inputPlan(), out)
        return
    if cls in ("WindowExec", "WindowGroupLimitExec") and (
        jplan.partitionSpec().isEmpty()
    ):
        out.append(cls)
    for i in range(jplan.children().size()):
        _global_windows(jplan.children().apply(i), out)


# The only environment variables the package may read. Anything else is
# a settable knob no caller asked for; add it here deliberately or not at all.
ALLOWED_ENV_READS = {"SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM", "SPARK_GRAFT_SF_DIR"}


def _env_reads(tree) -> set[str]:
    """Keys of ``os.environ.get(k)``, ``os.getenv(k)`` and
    ``os.environ[k]`` in one module; a non-literal key reads as
    ``<dynamic>``."""
    import ast

    def key(node) -> str:
        if isinstance(node, ast.Constant) and isinstance(node.value, str):
            return node.value
        return "<dynamic>"

    reads = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
            f = node.func
            environ_get = (
                f.attr == "get"
                and isinstance(f.value, ast.Attribute)
                and f.value.attr == "environ"
            )
            if (environ_get or f.attr == "getenv") and node.args:
                reads.add(key(node.args[0]))
        elif (
            isinstance(node, ast.Subscript)
            and isinstance(node.value, ast.Attribute)
            and node.value.attr == "environ"
        ):
            reads.add(key(node.slice))
    return reads


def test_no_cross_run_artifact_cache_in_package():
    """r10 verdict item 1: no queries() path may read (or write)
    $SPARK_GRAFT_ARTIFACT_DIR — cross-run, test-data-keyed parquet
    artifacts are result precomputation. Enforced structurally: the
    package source must not reference the env var or its legacy
    default directory at all.

    The same walk pins the package's env knobs: it must read exactly
    ``ALLOWED_ENV_READS``."""
    import ast
    import os

    import gee_datapipeline_spark as pkg

    root = os.path.dirname(os.path.abspath(pkg.__file__))
    hits = []
    reads: set[str] = set()
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            if not f.endswith(".py"):
                continue
            p = os.path.join(dirpath, f)
            with open(p, encoding="utf-8") as fh:
                src = fh.read()
            for needle in ("SPARK_GRAFT_ARTIFACT_DIR", "gee_spark_artifacts"):
                if needle in src:
                    hits.append((os.path.relpath(p, root), needle))
            reads |= _env_reads(ast.parse(src, filename=p))
    assert not hits, f"cross-run artifact dir referenced: {hits}"
    assert reads == ALLOWED_ENV_READS, f"package env reads: {sorted(reads)}"


def test_package_annotations_resolve():
    """Every function a package module defines has annotations that
    resolve: under ``from __future__ import annotations`` a name used
    only in a hint (say ``DataFrame``) can go unimported and nothing
    fails until ``typing.get_type_hints`` evaluates it. ``plans/`` is
    left out because its modules write fixtures at import."""
    import importlib
    import inspect
    import pkgutil
    import typing

    import gee_datapipeline_spark as pkg

    unresolved = []
    for info in pkgutil.walk_packages(pkg.__path__, pkg.__name__ + "."):
        if info.name.startswith(pkg.__name__ + ".plans"):
            continue
        mod = importlib.import_module(info.name)
        for name, fn in vars(mod).items():
            if inspect.isfunction(fn) and fn.__module__ == mod.__name__:
                try:
                    typing.get_type_hints(fn)
                except NameError as e:
                    unresolved.append(f"{info.name}.{name}: {e}")
    assert not unresolved, "\n".join(unresolved)


# Defaulted parameters across the package: each is a value a caller may
# set, so each is a configuration a reader has to reason about.
PACKAGE_DEFAULTED_PARAMS = 167


def test_package_defaulted_param_count():
    """Pins the package's settable values the way ``ALLOWED_ENV_READS``
    pins its env reads: positional defaults plus keyword-only defaults
    over every ``def`` under ``gee_datapipeline_spark/``. A change that
    adds or removes one updates ``PACKAGE_DEFAULTED_PARAMS`` and says
    why in CHANGES.md."""
    import ast
    import os

    import gee_datapipeline_spark as pkg

    root = os.path.dirname(os.path.abspath(pkg.__file__))
    n = 0
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            if not f.endswith(".py"):
                continue
            p = os.path.join(dirpath, f)
            with open(p, encoding="utf-8") as fh:
                tree = ast.parse(fh.read(), filename=p)
            for node in ast.walk(tree):
                if isinstance(node, ast.FunctionDef):
                    n += len(node.args.defaults)
                    n += sum(d is not None for d in node.args.kw_defaults)
    assert n == PACKAGE_DEFAULTED_PARAMS, (
        f"package has {n} defaulted parameters, "
        f"PACKAGE_DEFAULTED_PARAMS says {PACKAGE_DEFAULTED_PARAMS}"
    )


@pytest.mark.parametrize("name", gate_reference_queries(LINTABLE))
def test_plan_lint(name, spark):
    df = QUERIES[name].spark(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, f"{name}: cartesian product"
    if name not in BNLJ_WHITELIST:
        assert "BroadcastNestedLoopJoin" not in plan, (
            f"{name}: unexpected nested-loop join — either add an "
            "equi-key or whitelist a deliberate tiny-side broadcast"
        )
    assert "BatchEvalPython" not in plan, (
        f"{name}: row-at-a-time Python UDF on the plan — use Arrow "
        "(pandas_udf / mapInPandas) instead"
    )
    if name not in GLOBAL_WINDOW_WHITELIST:
        hits: list[str] = []
        _global_windows(df._jdf.queryExecution().executedPlan(), hits)
        assert not hits, (
            f"{name}: unpartitioned window ({hits}) — single-partition "
            "at scale; partition it or whitelist with a bound"
        )
