"""The one lineage seam (operators/iterate.truncate_lineage): the
SparkContext's checkpoint dir decides durability for every loop and pairs
operator.  Without a dir each cut is a localCheckpoint; with one, every cut
is a reliable checkpoint written under that dir, and the rows do not
change."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from duckdb_age_spark.operators import dedup, graph, similarity
from duckdb_age_spark.sources import read_table


def _edges(spark):
    # a chain with chords (triangles for kcore, >1 round for the loops)
    # plus a second component
    rows = [(i, i + 1) for i in range(12)] + [(i, i + 2) for i in range(0, 12, 3)]
    rows += [(20, 21), (21, 22), (20, 22)]
    return spark.createDataFrame(rows, "src long, dst long")


def _weighted(spark):
    return _edges(spark).withColumn("w", (F.col("src") + F.col("dst")) % 5 + 1)


def _docs(spark, sf_dir):
    return dedup.planted_near_dup_corpus(read_table(spark, sf_dir, "documents"))


# name -> (run(spark, sf_dir), whether the distributed plan must be pinned:
# the small-input driver regime would otherwise run with no lineage cut)
CASES = {
    "pagerank_exact": (lambda s, d: graph.pagerank_exact(_edges(s)), True),
    "weighted_pagerank": (lambda s, d: graph.weighted_pagerank(_weighted(s)), True),
    "connected_components": (
        lambda s, d: dedup.connected_components(_edges(s), s.range(0, 30)),
        True,
    ),
    "hits_scores": (lambda s, d: graph.hits_scores(_edges(s)), False),
    "kcore_peel": (lambda s, d: graph.kcore_peel(_edges(s), k=2), False),
    "label_propagation": (lambda s, d: graph.label_propagation(_edges(s)), False),
    "bfs_hops": (lambda s, d: graph.bfs_hops(_edges(s)), False),
    "weighted_sssp": (lambda s, d: graph.weighted_sssp(_weighted(s)), False),
    "harmonic_closeness": (lambda s, d: graph.harmonic_closeness(_edges(s), n_seeds=2), False),
    "minhash_lsh_pairs": (lambda s, d: dedup.minhash_lsh_pairs(_docs(s, d)), True),
    "simhash_near_pairs": (lambda s, d: dedup.simhash_near_pairs(_docs(s, d)), False),
    "embedding_near_dup_pairs": (
        lambda s, d: dedup.embedding_near_dup_pairs(
            dedup.planted_near_dup_embeddings(read_table(s, d, "embeddings")), threshold=0.9
        ),
        False,
    ),
    "label_centroid_cosines": (
        lambda s, d: similarity.label_centroid_cosines(read_table(s, d, "embeddings")),
        False,
    ),
}


def _rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


@pytest.mark.parametrize("name", list(CASES))
def test_context_checkpoint_dir_decides_durability(
    spark, sf_dir, broadcast_threshold, context_checkpoint_dir, name
):
    """Rows are identical with and without a context checkpoint dir, and
    with one the operator's lineage cuts write checkpoint data under it."""
    run, distributed = CASES[name]
    if distributed:
        broadcast_threshold("-1")
    local = _rows(run(spark, sf_dir))
    assert local, "the case must produce rows"
    path = context_checkpoint_dir()
    assert _rows(run(spark, sf_dir)) == local
    written = [p for p in path.rglob("part-*") if p.is_file()]
    assert written, f"{name} wrote no checkpoint data under the context dir"
