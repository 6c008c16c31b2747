"""Persistent IVF ANN index: corpus embeddings partitioned on disk by
inverted list, probed with partition pruning.

``similarity.ivf_topk`` recomputes centroids and re-assigns the whole
corpus per call — right for a one-shot dedup sweep, wrong for the serving
shape where a 100-TB embedding corpus is probed again and again by small
query batches. This module persists the IVF layout once:

* **write**: train the coarse quantizer (``similarity.ivf_centroids`` —
  driver-side Lloyd over a hard-capped hash-sample), assign every corpus
  vector to its ONE nearest centroid (``with_ivf_bucket``, Arrow-batched
  matmul), and write parquet partitioned by ``list`` — one directory per
  inverted list. Centroids + geometry live in a ``_gsp_ivf_index`` sidecar
  (underscore-prefixed: invisible to the data scan).
* **probe**: assign the query batch to its ``nprobe`` nearest lists, then
  scan ONLY those partitions — the probed-list set is collected to the
  driver (bounded by ``nlist``, never by corpus or query size) and pushed
  as a static ``list IN (...)`` partition filter, so the corpus scan reads
  ``≈ nprobe/nlist`` of the data. No shuffle touches the corpus side: the
  per-list join broadcasts the (small) query side.
* **append**: assign new vectors with the SAME stored centroids and append
  into the same partition layout — the standard IVF growth mode (recall
  drifts as the corpus distribution moves; periodic retrain = rewrite).

Recall semantics are ``ivf_topk``'s (probe the nprobe nearest lists, exact
rank within them — recall < 1 by construction, pytest-gated); with
``nprobe = nlist`` the probe is exhaustive and must equal
``brute_force_topk`` exactly, which is the test oracle.

Reference parity: the reference has no ANN surface; this is the
training-data-pipeline similarity-search component the build brief
mandates (brute-force baseline + IVF/LSH scale paths), given the same
persist-once-probe-many treatment as ``operators/hamming_index.py``.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .similarity import _rank_topk, ivf_centroids, with_ivf_bucket

#: sidecar dir name — leading underscore keeps it invisible to parquet scans
META_DIR = "_gsp_ivf_index"


def write_ivf_index(
    emb: DataFrame,
    path: str,
    nlist: int = 64,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iters: int = 8,
    seed: int = 42,
) -> np.ndarray:
    """Train, assign, persist. Returns the centroids. The partition count
    equals ``nlist``; size ``nlist`` so one inverted list ≈ corpus/nlist
    stays a few hundred MB of parquet at the target scale (bigger corpora →
    more lists, which also sharpens the quantizer)."""
    spark = emb.sparkSession
    cent = ivf_centroids(emb, nlist, dim, iters=iters, seed=seed,
                         id_col=id_col, vec_col=vec_col)
    assigned = with_ivf_bucket(emb, cent, 1, id_col, vec_col)
    assigned.write.partitionBy("list").mode("overwrite").parquet(path)
    dtypes = dict(emb.dtypes)
    meta = {
        "nlist": nlist, "dim": dim, "id_col": id_col, "vec_col": vec_col,
        "id_type": dtypes[id_col], "vec_type": dtypes[vec_col],
    }
    spark.createDataFrame([meta]).coalesce(1).write.mode("overwrite").json(
        f"{path}/{META_DIR}/meta"
    )
    cent_rows = [(i, [float(x) for x in row]) for i, row in enumerate(cent)]
    spark.createDataFrame(cent_rows, "list int, centroid array<double>").coalesce(
        1
    ).write.mode("overwrite").parquet(f"{path}/{META_DIR}/centroids")
    return cent


def _load_meta(spark: SparkSession, path: str) -> tuple[dict, np.ndarray]:
    row = spark.read.json(f"{path}/{META_DIR}/meta").first()
    if row is None:
        raise ValueError(f"no IVF-index sidecar under {path}")
    meta = {
        "nlist": int(row["nlist"]), "dim": int(row["dim"]),
        "id_col": row["id_col"], "vec_col": row["vec_col"],
    }
    cent_rows = (
        spark.read.parquet(f"{path}/{META_DIR}/centroids")
        .orderBy("list")
        .collect()
    )
    cent = np.array([r.centroid for r in cent_rows], dtype=np.float64)
    return meta, cent


def append_ivf_index(new_emb: DataFrame, path: str) -> None:
    """Fold new vectors in under the EXISTING quantizer (the sidecar's
    centroids — retraining on append would silently re-shuffle old lists'
    meaning without rewriting them)."""
    spark = new_emb.sparkSession
    meta, cent = _load_meta(spark, path)
    assigned = with_ivf_bucket(new_emb, cent, 1, meta["id_col"], meta["vec_col"])
    assigned.write.partitionBy("list").mode("append").parquet(path)


def compact_ivf_index(spark: SparkSession, path: str) -> dict:
    """Rewrite each inverted list's parquet files in place, collapsing
    append debris (every :func:`append_ivf_index` adds one-plus files per
    touched list; daily ingest cycles accumulate small files until the
    pruned probe scan pays per-file open overhead on hundreds of shards per
    list). Layout, sidecar, and probe results are unchanged — only the file
    count per ``list=`` directory drops.

    Same staging-then-swap mechanics as
    ``hamming_index.compact_hamming_index`` (Hadoop FS API, any scheme;
    the swap is per-list delete-then-rename — on a metastore deployment
    this is the transactional rewrite-files commit). Returns
    ``{files_before, files_after, rows}``."""
    meta, _ = _load_meta(spark, path)
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path
    fs = hpath(path).getFileSystem(spark._jsc.hadoopConfiguration())

    def _part_files(d):
        return [
            st.getPath() for st in fs.listStatus(d)
            if st.isFile() and st.getPath().getName().startswith("part-")
        ]

    staging = path.rstrip("/") + "__compacting"
    fs.delete(hpath(staging), True)
    # the read lists the directory once; its file index, grouped by list=
    # dir, is the list of files to delete, so a vector appended while
    # compaction runs is either rewritten or left in place, never both
    src = spark.read.parquet(path)
    before = {}
    for f in src.inputFiles():
        fp = hpath(jvm.java.net.URI(f))
        before.setdefault(fp.getParent().getName(), []).append(fp)
    rows = src.count()
    # one output file per list: repartition on the partition column so each
    # task owns whole lists (the write splits them back into list= dirs)
    src.repartition(meta["nlist"], "list").write.partitionBy("list").mode(
        "overwrite"
    ).parquet(staging)
    for st in fs.listStatus(hpath(staging)):
        d = st.getPath()
        name = d.getName()
        if not (st.isDirectory() and name.startswith("list=")):
            continue
        for f in before[name]:
            fs.delete(f, False)
        for f in _part_files(d):
            dest = hpath(path + "/" + name + "/" + f.getName())
            if not fs.rename(f, dest):
                raise IOError(f"IVF compaction swap failed: {f} -> {dest}")
    fs.delete(hpath(staging), True)
    n_after = sum(
        len(_part_files(st.getPath())) for st in fs.listStatus(hpath(path))
        if st.isDirectory() and st.getPath().getName().startswith("list=")
    )
    n_before = sum(len(v) for v in before.values())
    return {"files_before": n_before, "files_after": n_after, "rows": rows}


def probe_ivf_index(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    exclude_self: bool = True,
) -> DataFrame:
    """ANN top-k of each query against the persisted corpus →
    (id_a=query, id_b=corpus, cos_sim, rank). ``exclude_self`` drops exact
    id matches (self-query dedup sweeps). Under-filled queries (fewer than
    k candidates in the probed lists) return what was found — raise
    ``nprobe`` for more recall; ``nprobe = nlist`` is exhaustive-exact.

    Scan discipline: the probed-list set (≤ nlist ints, independent of
    corpus and query size) is collected and pushed as a static partition
    filter, so only ``len(lists)/nlist`` of the corpus is READ — check
    ``PartitionFilters`` in the explain output, or ``inputFiles()`` in the
    plan test. The query batch is broadcast into the per-list join, so the
    corpus is never shuffled either."""
    meta, cent = _load_meta(spark, path)
    id_col, vec_col = meta["id_col"], meta["vec_col"]
    q = with_ivf_bucket(queries, cent, nprobe, id_col, vec_col)
    lists = sorted(
        r["list"] for r in q.select("list").distinct().collect()
    )  # bounded by nlist — driver-safe at any corpus/query size
    corpus = spark.read.parquet(path).filter(F.col("list").isin(lists))
    a = q.select("list", F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    b = corpus.select("list", F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    cand = b.join(F.broadcast(a), "list")
    if exclude_self:
        cand = cand.filter(F.col("id_a") != F.col("id_b"))
    return _rank_topk(cand.select("id_a", "id_b", "va", "vb"), k)
