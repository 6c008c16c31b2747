"""Persistent IVF index: exhaustive-probe exactness vs brute force (the
nprobe = nlist oracle), recall gate at partial nprobe, partition pruning
(the probe must READ only the probed lists' files), and append-then-find."""

import os

import pytest
from pyspark.sql import functions as F

from geospatial_studio_pipelines_spark.operators import ann_index, similarity

EMB = "/root/testdata/sf0.001/embeddings.parquet"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(EMB).select("vec_id", "embedding")


def _key(rows):
    return {(r.id_a, r.id_b, r.cos_sim, r.rank) for r in rows}


def test_exhaustive_probe_equals_brute_force(spark, emb, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("ivf") / "idx")
    ann_index.write_ivf_index(emb, path, nlist=8, dim=64)
    got = ann_index.probe_ivf_index(spark, path, emb, k=5, nprobe=8)
    want = similarity.brute_force_topk(emb, k=5)
    assert _key(got.collect()) == _key(want.collect())


def test_partial_nprobe_recall(spark, emb, tmp_path_factory):
    """Near-random embeddings are IVF's WORST case (no cluster structure
    for the quantizer to exploit): the gate matches ivf_topk's 0.6 floor
    on the same data, minus its exact-fallback boost for under-filled
    queries (the disk probe documents nprobe as the recall lever instead)."""
    path = str(tmp_path_factory.mktemp("ivf") / "idx")
    ann_index.write_ivf_index(emb, path, nlist=16, dim=64)
    approx = ann_index.probe_ivf_index(spark, path, emb, k=5, nprobe=4)
    exact = similarity.brute_force_topk(emb, k=5)
    assert similarity.recall_vs_exact(approx, exact, 5) >= 0.55


def test_clustered_high_recall(spark, tmp_path_factory):
    """On CLUSTERED vectors (the regime IVF exists for) the disk probe must
    reach near-1 recall at small nprobe, same as the in-memory ivf_topk."""
    import numpy as np

    rng = np.random.default_rng(7)
    centers = rng.standard_normal((8, 32)) * 3.0
    rows = []
    for i in range(400):
        c = centers[i % 8]
        rows.append((i, (c + rng.standard_normal(32) * 0.15).astype("float32").tolist()))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    path = str(tmp_path_factory.mktemp("ivf") / "idx")
    ann_index.write_ivf_index(df, path, nlist=16, dim=32)
    approx = ann_index.probe_ivf_index(spark, path, df, k=5, nprobe=3)
    exact = similarity.brute_force_topk(df, k=5)
    assert similarity.recall_vs_exact(approx, exact, 5) >= 0.95


def test_probe_reads_only_probed_lists(spark, emb, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("ivf") / "idx")
    ann_index.write_ivf_index(emb, path, nlist=16, dim=64)
    queries = emb.limit(3)
    out = ann_index.probe_ivf_index(spark, path, queries, k=3, nprobe=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the corpus scan must carry a NON-EMPTY partition filter on `list`
    # (file-level pruning then follows from Spark's partition discovery;
    # inputFiles() reports the unpruned relation, so assert on the scan)
    pf = plan[plan.find("PartitionFilters: [") :]
    pf = pf[: pf.find("]") + 1]
    assert pf.startswith("PartitionFilters: [") and "list" in pf and pf != "PartitionFilters: []"
    # and it names exactly the lists the query batch probed
    meta, cent = ann_index._load_meta(spark, path)
    q = similarity.with_ivf_bucket(queries, cent, 2, "vec_id", "embedding")
    probed = sorted({r["list"] for r in q.select("list").distinct().collect()})
    assert all(str(p) in pf for p in probed) and len(probed) < 16
    # below the join: query side broadcast, corpus scanned in place — the
    # only hash exchange in the whole plan belongs to the top-k Window
    join_sub = plan[plan.find("BroadcastHashJoin") :]
    assert "BroadcastHashJoin" in plan
    assert "Exchange hashpartitioning" not in join_sub


def test_append_then_probe_finds_new_vectors(spark, emb, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("ivf") / "idx")
    ann_index.write_ivf_index(emb, path, nlist=8, dim=64)
    newbie = emb.filter(F.col("vec_id") < 20).select(
        (F.col("vec_id") + 10_000).alias("vec_id"), "embedding"
    )
    ann_index.append_ivf_index(newbie, path)
    # probing with the ORIGINAL vectors must now surface their appended
    # twins at cos_sim 1.0, rank 1 (identical embedding, nearest list)
    queries = emb.filter(F.col("vec_id") < 20)
    got = ann_index.probe_ivf_index(spark, path, queries, k=1, nprobe=1)
    top = {(r.id_a, r.id_b) for r in got.filter(F.col("cos_sim") >= 0.999999).collect()}
    assert {(i, i + 10_000) for i in range(20)} <= top


def test_probe_missing_sidecar_raises(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("ivf") / "empty")
    os.makedirs(f"{path}/{ann_index.META_DIR}/meta", exist_ok=True)
    with pytest.raises(Exception):
        ann_index._load_meta(spark, path)


def test_compaction_preserves_probes_and_reduces_files(spark, emb, tmp_path_factory):
    """N appends accumulate files per list= dir; compaction must collapse
    them to ~one file per list with IDENTICAL probe results (exhaustive
    nprobe=nlist probe pinned before/after)."""
    path = str(tmp_path_factory.mktemp("ivf") / "idx")
    ann_index.write_ivf_index(emb, path, nlist=8, dim=64)
    for k in range(3):
        batch = emb.filter(F.col("vec_id") < 30).select(
            (F.col("vec_id") + 10_000 * (k + 1)).alias("vec_id"), "embedding"
        )
        ann_index.append_ivf_index(batch, path)
    queries = emb.limit(40)
    pre = _key(ann_index.probe_ivf_index(spark, path, queries, k=5, nprobe=8).collect())
    stats = ann_index.compact_ivf_index(spark, path)
    assert stats["files_after"] < stats["files_before"]
    assert stats["files_after"] <= 8  # ~one file per inverted list
    assert stats["rows"] > 0
    post = _key(ann_index.probe_ivf_index(spark, path, queries, k=5, nprobe=8).collect())
    assert post == pre
    # partition pruning still works on the compacted layout (inputFiles()
    # reports the unpruned relation — assert on the scan's PartitionFilters)
    probe1 = ann_index.probe_ivf_index(spark, path, queries.limit(3), k=3, nprobe=1)
    plan = probe1._jdf.queryExecution().executedPlan().toString()
    pf = plan[plan.find("PartitionFilters: ["):]
    pf = pf[: pf.find("]") + 1]
    assert pf.startswith("PartitionFilters: [") and "list" in pf
    assert pf != "PartitionFilters: []"


def test_compaction_keeps_rows_appended_during_it(spark, emb, tmp_path_factory, append_before_read):
    """Vectors appended while compaction runs are either rewritten and their
    old files deleted, or left alone; never both, which would duplicate
    them in every later probe."""
    path = str(tmp_path_factory.mktemp("ivf") / "idx")
    ann_index.write_ivf_index(emb, path, nlist=8, dim=64)
    late = emb.filter(F.col("vec_id") < 30).select(
        (F.col("vec_id") + 50_000).alias("vec_id"), "embedding"
    )
    append_before_read(path, lambda: ann_index.append_ivf_index(late, path))
    ann_index.compact_ivf_index(spark, path)
    rows = spark.read.parquet(path)
    assert rows.count() == emb.count() + 30
    assert rows.groupBy("vec_id").count().filter("count > 1").count() == 0
