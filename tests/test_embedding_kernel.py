"""The embedding block→verify kernel shared by the ANN paths and semantic
dedup (queries.py `_vectors` / `_train_centroids` / `_assign` / `_pair_sims`
/ `_topk`): degenerate vectors never rank or pair, and probing every cell
reproduces the brute-force top-k row for row."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from test_queries_vs_oracle import SF

from dedupe_archived_files_spark import queries as Q

QUERIES = [
    "embedding_topk_cosine",
    "embedding_ann_lsh",
    "embedding_ann_ivf",
    "embedding_ann_ivf2",
    "semantic_dedup_embeddings",
]


def _with_vector(tmp_path, vec_id, make):
    """sf0.001's embeddings table with vec_id's vector replaced by
    make(dim), written under tmp_path; returns the new sf dir."""
    t = pq.read_table(f"{SF}/embeddings.parquet")
    col = t.schema.get_field_index("embedding")
    vecs = t.column(col).to_pylist()
    vecs[t.column("vec_id").to_pylist().index(vec_id)] = make(len(vecs[0]))
    t = t.set_column(col, t.schema.field(col), pa.array(vecs, t.schema.field(col).type))
    pq.write_table(t, tmp_path / "embeddings.parquet")
    return str(tmp_path)


def _ids(row):
    d = row.asDict()
    return {d.get("query_id", d.get("vec_id_a")), d.get("neighbor_id", d.get("vec_id_b"))}


@pytest.mark.parametrize(
    "vec_id, make",
    [(1, lambda dim: None), (0, lambda dim: [0.0] * dim)],
    ids=["null_vector", "zero_vector"],
)
@pytest.mark.parametrize("name", QUERIES)
def test_degenerate_vector_never_ranks(spark, tmp_path, name, vec_id, make):
    """A NULL vector (no cosine at all) and a zero vector (cosine 0/0)
    neither crash a query nor appear in its output, as query or neighbor;
    every other vector still gets its rows."""
    sf = _with_vector(tmp_path, vec_id, make)
    rows = getattr(Q, name)(spark, sf).collect()
    assert rows
    assert not [r for r in rows if vec_id in _ids(r)]
    assert all(r["sim"] is not None for r in rows)


def test_exhaustive_probe_equals_brute_force(spark):
    """Probing every cell makes the candidate set all pairs, so the shared
    assign → verify → top-k path must return the brute-force baseline's
    rows exactly, not just bound its recall."""
    n = spark.read.parquet(f"{SF}/embeddings.parquet").count()
    truth = sorted(tuple(r) for r in Q.embedding_topk_cosine(spark, SF).collect())
    k = Q.ivf_n_centroids(n)
    k1, k2 = Q.ivf2_params(n)
    ivf = Q.embedding_ann_ivf(spark, SF, n_centroids=k, n_probe=k)
    ivf2 = Q.embedding_ann_ivf2(spark, SF, k1=k1, k2=k2, n_probe1=k1, n_probe2=k2)
    assert len(truth) == Q.N_QUERIES * Q.TOP_K
    assert sorted(tuple(r) for r in ivf.collect()) == truth
    assert sorted(tuple(r) for r in ivf2.collect()) == truth
