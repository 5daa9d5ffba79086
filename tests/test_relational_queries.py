"""Every registered query hash-matches its DuckDB oracle at sf0.001
(fast); ``tools/local_correctness.py`` runs the same compare at sf0.01."""

from __future__ import annotations

import ast
import inspect
from pathlib import Path

import pytest

import scraping_etl_spark
from scraping_etl_spark.plans import registry
from scraping_etl_spark.plans.registry import QUERIES, oracle_sql_map
from tests.conftest import SF_SMOKE
from tests.oracle import assert_matches_oracle


@pytest.mark.parametrize("spec", QUERIES, ids=[q.name for q in QUERIES])
def test_query_matches_oracle(spark, spec):
    df = spec.fn(spark, SF_SMOKE)
    # lazy oracles embed run-time plan constants (e.g. IVF centroids)
    # that depend on the scale dir — build them for THIS sf
    oracle = spec.oracle(SF_SMOKE) if callable(spec.oracle) else spec.oracle
    assert_matches_oracle(df, oracle, SF_SMOKE)


def test_callable_oracles_take_the_scale_dir():
    """An oracle that embeds trained state is built for the dir its
    caller names: ``sf_dir`` is its one required parameter, and nothing
    in the package infers the dir from process-wide state."""
    required = [("sf_dir", inspect.Parameter.empty)]
    for spec in QUERIES:
        if callable(spec.oracle):
            params = inspect.signature(spec.oracle).parameters.values()
            assert [(p.name, p.default) for p in params] == required, spec.name
    assert [
        (p.name, p.default)
        for p in inspect.signature(oracle_sql_map).parameters.values()
    ] == required
    pkg = Path(scraping_etl_spark.__file__).parent
    inferring = [
        str(f.relative_to(pkg)) for f in sorted(pkg.rglob("*.py"))
        if any(w in f.read_text() for w in
               ("SPARK_GRAFT_ORACLE_SF_DIR", "_query_dirs"))
    ]
    assert inferring == []


def test_registry_serves_registration_order_with_an_oracle_each():
    """The registry is served in registration order, every entry
    carries an oracle, and no schedule reorders it: no package, tool or
    test source names the deleted verification-schedule machinery."""
    assert list(registry.queries_map()) == [q.name for q in registry._REGISTERED]
    for spec in QUERIES:
        assert isinstance(spec.oracle, str) or callable(spec.oracle), spec.name
    # split so this file does not match itself
    needles = ("rotation" + "_order", "make" + "_rotation", "ROTATION" + ".json")
    root = Path(scraping_etl_spark.__file__).parent.parent
    # plans_footer.md is the committed plan history PLANS.md is rebuilt from
    history = root / "tools" / "plans_footer.md"
    naming = [
        f"{path.relative_to(root)}: {n}"
        for top in ("scraping_etl_spark", "tools", "tests")
        for path in sorted((root / top).rglob("*"))
        if path.suffix in (".py", ".md") and path != history
        for n in needles
        if n in path.read_text(encoding="utf-8")
    ]
    assert naming == []


#: Query faces kept without an entry point, each with its reason.
_UNSERVED_FACES = {
    # the only DuckDB check of embedding_decontaminate_ivf, the tier
    # streaming.emb_screen_stream runs
    "q_emb_decontaminate_ivf",
}


def test_every_query_face_is_served():
    """Every top-level ``q_*`` in ``plans/`` is named in code (an AST
    name or attribute, not a string) by the registry, another face,
    another package module or ``tools/dump_plans.py``: a face nothing
    reaches is deleted."""
    root = Path(scraping_etl_spark.__file__).parent
    faces = {
        node.name
        for path in sorted((root / "plans").glob("*.py"))
        for node in ast.parse(path.read_text(encoding="utf-8")).body
        if isinstance(node, ast.FunctionDef) and node.name.startswith("q_")
    }
    sources = sorted(root.rglob("*.py")) + [
        root.parent / "tools" / "dump_plans.py"
    ]
    named = {
        node.id if isinstance(node, ast.Name) else node.attr
        for path in sources
        for node in ast.walk(ast.parse(path.read_text(encoding="utf-8")))
        if isinstance(node, (ast.Name, ast.Attribute))
    }
    assert sorted(faces - named) == sorted(_UNSERVED_FACES)


def test_every_oracle_constant_is_read():
    """Every module-level ``ORACLE_*`` string in ``plans/`` is read (an
    AST load of its name or attribute) somewhere in the package or
    ``tools/``: an oracle no spec or test compares against checks
    nothing and is deleted."""
    root = Path(scraping_etl_spark.__file__).parent
    oracles = {
        target.id
        for path in sorted((root / "plans").glob("*.py"))
        for node in ast.parse(path.read_text(encoding="utf-8")).body
        if isinstance(node, (ast.Assign, ast.AnnAssign))
        for target in (node.targets if isinstance(node, ast.Assign)
                       else [node.target])
        if isinstance(target, ast.Name) and target.id.startswith("ORACLE_")
    }
    sources = sorted(root.rglob("*.py")) + sorted(
        (root.parent / "tools").glob("*.py")
    )
    read = {
        node.id if isinstance(node, ast.Name) else node.attr
        for path in sources
        for node in ast.walk(ast.parse(path.read_text(encoding="utf-8")))
        if isinstance(node, ast.Attribute)
        or (isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load))
    }
    assert oracles and sorted(oracles - read) == []


def test_unselected_tiers_and_staged_operators_are_gone():
    """The operators only the retired staged gates ran, the scale
    tiers no product call selected, and the test-only multimodal
    plumbing and coarse payload tier stay deleted."""
    from scraping_etl_spark.operators import (
        corpus_prep,
        multimodal,
        similarity,
        textstats,
    )

    gone = {
        similarity: (
            "top_pc_fx", "_host_l2", "kcenter_select", "matryoshka_topk",
            "mmr_rerank", "hard_negatives_ivf",
            "embedding_decontaminate_arrow", "prepare_bench_matrix",
            "cluster_assign_arrow", "centroid_sq_dist",
        ),
        textstats: ("with_readability", "READABILITY_BANDS", "with_lang_id"),
        corpus_prep: ("fim_transform",),
        multimodal: (
            "resize_media", "RESIZED_SCHEMA", "sample_frames",
            "FRAME_SCHEMA", "payload_coarse_signature",
            "payload_dup_groups", "SIGNATURE_SCHEMA",
        ),
    }
    present = [
        f"{mod.__name__}.{name}"
        for mod, names in gone.items()
        for name in names
        if hasattr(mod, name)
    ]
    assert present == []
    pkg = Path(scraping_etl_spark.__file__).parent
    assert not (pkg / "operators" / "privacy.py").exists()


def test_semantic_dedup_has_one_assignment_path():
    """SemDeDup assigns clusters by the plan-constant expression only:
    no boolean selects another path."""
    from scraping_etl_spark.operators import similarity

    for fn in (similarity.semantic_dedup_pairs,
               similarity.semantic_dedup_survivors):
        assert "arrow_assign" not in inspect.signature(fn).parameters
