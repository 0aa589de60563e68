"""The persisted ANN index's version chain at sf0.001, in seconds: every
read goes through ann_index's one reading surface (version resolve,
manifest, artifact loaders, live rows), so these tests pin that surface
directly. The long lifecycle rows stay in the ``slow`` set."""

from __future__ import annotations

import os
import shutil
from collections import Counter

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE, spark_jobs


def _ids(df) -> Counter:
    return Counter(r.vec_id for r in df.select("vec_id").collect())


def _full_probe_matches_bruteforce(spark, path, corpus) -> bool:
    from cours_datalake_dwh_td_kafka_spark.operators.ann_index import (
        ivf_query_index,
    )
    from cours_datalake_dwh_td_kafka_spark.operators.similarity import (
        N_CELLS,
        N_QUERIES,
        ann_topk_bruteforce,
    )

    q = corpus.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("emb"),
    )
    served = ivf_query_index(spark, path, q, nprobe=N_CELLS).collect()
    exact = ann_topk_bruteforce(corpus).collect()
    return sorted(map(tuple, served)) == sorted(map(tuple, exact))


def test_version_chain_build_append_append_delete(spark, tmp_path):
    """build -> append -> append -> delete: after every step the served
    id multiset is exactly the expected corpus and a full probe equals
    brute force over it; a labeled PQ build plus one append keeps its
    ``label`` column on every code root."""
    from cours_datalake_dwh_td_kafka_spark.io import load_table
    from cours_datalake_dwh_td_kafka_spark.operators import ann_index as ai

    e = load_table(spark, SF_SMOKE, "embeddings")
    emb = e.select("vec_id", "embedding")
    path = str(tmp_path / "ivf")
    slices = [emb.where(F.col("vec_id") % 3 == i) for i in range(3)]
    deleted = emb.where(F.col("vec_id") % 7 == 2)

    ai.build_ivf_index(slices[0], path)
    served = [slices[0]]
    for part in slices[1:]:
        ai.append_ivf_index(part, path)
        served.append(part)
        corpus = served[0]
        for p in served[1:]:
            corpus = corpus.union(p)
        assert _ids(ai.served_vec_ids(spark, path)) == _ids(corpus)
        assert _full_probe_matches_bruteforce(spark, path, corpus)
    assert ai.chain_length(path) == 3

    assert ai.delete_from_ivf_index(deleted.select("vec_id"), path) == 1
    remaining = emb.join(deleted.select("vec_id"), "vec_id", "left_anti")
    assert _ids(ai.served_vec_ids(spark, path)) == _ids(remaining)
    assert _full_probe_matches_bruteforce(spark, path, remaining)
    assert ai.chain_length(path) == 3  # a tombstone adds no vector root

    pq = str(tmp_path / "pq")
    labeled = e.select("vec_id", "embedding", "label")
    ai.build_ivfpq_index(
        labeled.where(F.col("vec_id") % 2 == 0), pq, meta_cols=("label",)
    )
    assert ai.append_ivfpq_index(labeled.where(F.col("vec_id") % 2 == 1), pq) == 2
    vdir = ai._current_version_dir(pq)
    for root in ai._vector_roots(pq, vdir):
        assert "label" in spark.read.parquet(root).columns, root
    assert _ids(ai.served_vec_ids(spark, pq)) == _ids(e)


def test_live_rows_prune_every_root_of_a_chain(spark, tmp_path):
    """The SERVED scan of a 3-root version carries ``cell`` as a
    partition filter on every root (pruning is per root, not a row
    filter after the union)."""
    from cours_datalake_dwh_td_kafka_spark.io import load_table
    from cours_datalake_dwh_td_kafka_spark.operators import ann_index as ai

    emb = load_table(spark, SF_SMOKE, "embeddings").select(
        "vec_id", "embedding"
    )
    path = str(tmp_path / "ivf")
    ai.build_ivf_index(emb.where(F.col("vec_id") % 3 == 0), path)
    ai.append_ivf_index(emb.where(F.col("vec_id") % 3 == 1), path)
    ai.append_ivf_index(emb.where(F.col("vec_id") % 3 == 2), path)
    vdir = ai._current_version_dir(path)
    assert len(ai._vector_roots(path, vdir)) == 3

    rows = ai._live_rows(spark, path, vdir, cells=[0, 1])
    plan = rows._jdf.queryExecution().executedPlan().toString()
    scans = plan.split("FileScan")[1:]
    assert len(scans) == 3
    for scan in scans:
        assert "cell" in scan.split("PartitionFilters")[1][:120], scan
    assert set(r.cell for r in rows.select("cell").collect()) <= {0, 1}


def test_artifacts_load_under_declared_schemas(spark, tmp_path):
    """Each artifact load is ONE job (no schema-inference job) and
    yields exactly the rows an inferring read sees."""
    import numpy as np

    from cours_datalake_dwh_td_kafka_spark.io import load_table
    from cours_datalake_dwh_td_kafka_spark.operators import ann_index as ai

    e = load_table(spark, SF_SMOKE, "embeddings")
    path = str(tmp_path / "opq")
    ai.build_ivfpq_index(e, path, opq=True)
    vdir = ai._current_version_dir(path)

    cents, jobs = spark_jobs(spark, lambda: ai._load_centroids(spark, vdir))
    assert jobs == 1
    inferred = spark.read.parquet(f"{vdir}/centroids.parquet").collect()
    assert len(cents) == len(inferred)
    for r in inferred:
        assert cents[r.cell].tolist() == list(r.centroid)

    books, jobs = spark_jobs(spark, lambda: ai._load_books(spark, vdir))
    assert jobs == 1
    for r in spark.read.parquet(f"{vdir}/books.parquet").collect():
        assert books[r.sub, r.code].tolist() == list(r.centroid)

    rot, jobs = spark_jobs(spark, lambda: ai._load_rotation(spark, vdir))
    assert jobs == 1
    assert np.allclose(rot @ rot.T, np.eye(len(rot)))


def test_pre_manifest_versions_still_serve(spark, tmp_path):
    """A version written before the manifest existed serves its own
    ``vectors/`` (IVF) or ``codes/`` (PQ) directory with no lake pin —
    the fallback the reused index tag directories rely on."""
    from cours_datalake_dwh_td_kafka_spark.io import load_table
    from cours_datalake_dwh_td_kafka_spark.operators import ann_index as ai

    e = load_table(spark, SF_SMOKE, "embeddings")
    for name, build, local in (
        ("ivf", ai.build_ivf_index, "vectors"),
        ("pq", ai.build_ivfpq_index, "codes"),
    ):
        path = str(tmp_path / name)
        build(e.select("vec_id", "embedding"), path, lake_version=3)
        vdir = ai._current_version_dir(path)
        before = _ids(ai.served_vec_ids(spark, path))
        assert ai.index_lake_version(path) == 3
        os.remove(os.path.join(vdir, "manifest.json"))
        assert ai._vector_roots(path, vdir) == [os.path.join(vdir, local)]
        assert ai.index_lake_version(path) is None
        assert _ids(ai.served_vec_ids(spark, path)) == before == _ids(e)
        shutil.rmtree(path)
