"""Frames reach SQL text only through ``spark.sql(text, name=frame)``.

The builders that assemble a round or a whole frame as one SQL string
bind their inputs with spark.sql's own frame arguments, which create and
drop the backing temp views themselves. These tests pin that no builder
leaves a view behind, on success or on raise, and that the hand-rolled
view plumbing does not come back."""

from __future__ import annotations

import pathlib
import re

import pytest

from options_data_pipeline_spark import registry
from options_data_pipeline_spark.functions import dedupe, doremi, similarity
from options_data_pipeline_spark.functions import quality_train as qt

PKG = pathlib.Path(__file__).resolve().parents[1] / "options_data_pipeline_spark"
WORDS = "alpha beta gamma delta eps zeta eta theta iota kappa".split()


@pytest.fixture(scope="module")
def sf(spark, tmp_path_factory):
    """A tiny corpus directory: documents (doc_id, text, source) and
    64-dim labelled embeddings, as registry queries read them."""
    d = tmp_path_factory.mktemp("bound_sql")
    docs = [
        (i, " ".join(WORDS[(i * k) % 10] for k in range(1, 8 + i % 5)), f"s{i % 3}")
        for i in range(60)
    ]
    spark.createDataFrame(
        docs, "doc_id long, text string, source string"
    ).write.parquet(str(d / "documents.parquet"))
    emb = [
        (i, [((i * 31 + j * 17) % 23 - 11) / 11.0 for j in range(64)], i % 2)
        for i in range(60)
    ]
    spark.createDataFrame(
        emb, "vec_id long, embedding array<float>, label int"
    ).write.parquet(str(d / "embeddings.parquet"))
    return str(d)


def _docs(spark, sf):
    return spark.read.parquet(f"{sf}/documents.parquet")


def _emb(spark, sf):
    return spark.read.parquet(f"{sf}/embeddings.parquet")


def _chain(spark, n):
    return spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "doc_a long, doc_b long"
    )


def _ccs_too_few_rounds(spark, sf):
    with pytest.raises(RuntimeError, match="did not converge"):
        dedupe.connected_components_star(_chain(spark, 64), max_iters=1)


def _kcenter_k_too_big(spark, sf):
    small = _emb(spark, sf).filter("vec_id < 3")
    with pytest.raises(ValueError, match="exceeds corpus size"):
        similarity.kcenter_coreset(small, k=5)


SITES = {
    "simhash_signatures": lambda s, sf: dedupe.simhash_signatures(_docs(s, sf)),
    "simhash_signatures_2w": lambda s, sf: dedupe.simhash_signatures_2w(_docs(s, sf)),
    "rp_lsh_near_dup_pairs": lambda s, sf: similarity.rp_lsh_near_dup_pairs(
        _emb(s, sf), n_planes=16, bands=4
    ),
    "knn_label_noise_frame": lambda s, sf: similarity.knn_label_noise_frame(
        _emb(s, sf), n_planes=6
    ),
    "connected_components_star": lambda s, sf: dedupe.connected_components_star(
        _chain(s, 8)
    ),
    "connected_components_star_raises": _ccs_too_few_rounds,
    "quality_train": lambda s, sf: qt.quality_train_score(_docs(s, sf)),
    "doremi_trajectory": lambda s, sf: doremi.doremi_trajectory(
        doremi.checkpoint_model(doremi.domain_token_model(_docs(s, sf))), iters=1
    ),
    "kmeans_centroids": lambda s, sf: similarity.kmeans_centroids(
        _emb(s, sf), k=2, iters=1
    ),
    "kcenter_coreset": lambda s, sf: similarity.kcenter_coreset(_emb(s, sf), k=3),
    "kcenter_coreset_raises": _kcenter_k_too_big,
    "mmr_topk": lambda s, sf: similarity.mmr_topk(_emb(s, sf), k=3, pool=5),
    "embedding_top_pc": lambda s, sf: registry.queries()["embedding_top_pc"](s, sf),
}


def _temp_views(spark) -> set[str]:
    return {t.name for t in spark.catalog.listTables() if t.isTemporary}


@pytest.mark.parametrize("site", sorted(SITES))
def test_bound_sql_leaves_no_temp_view(spark, sf, site):
    before = _temp_views(spark)
    out = SITES[site](spark, sf)
    assert _temp_views(spark) == before
    if hasattr(out, "collect"):
        out.collect()  # the frame outlives the views it was bound through


def test_view_plumbing_stays_out_of_the_package():
    """Only sql.py registers named session views (the CLI shell's tables);
    everything else binds frames with spark.sql(text, name=frame)."""
    banned = re.compile(r"createOrReplaceTempView|dropTempView|_VIEW_IDS")
    hits = [
        f"{p.relative_to(PKG)}:{i}"
        for p in sorted(PKG.rglob("*.py"))
        if p.name != "sql.py" or p.parent != PKG
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if banned.search(line)
    ]
    assert not hits, f"hand-rolled temp-view plumbing at {hits}"
