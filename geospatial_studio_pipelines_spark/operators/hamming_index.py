"""Persistent hamming near-dup index + asymmetric probe join.

The production shape of image near-dedup at corpus scale is NOT the batch
self-join (``dedup.hamming_near_dups``): it is "a 100-TB corpus already
exists; a much smaller batch of new images arrives; find which new images
near-duplicate the corpus, then fold the batch in". Re-shuffling the corpus
per batch would dominate the cost of every ingest cycle, so this module
persists the corpus's Manku banding (``dedup.banded_signatures``) ONCE as a
parquet table bucketed by ``(band, key)`` and makes every later probe join
against it shuffle- and sort-free on the corpus side:

* small probe batch  → the banded probe is broadcast; the corpus is scanned
  map-side with ZERO exchange anywhere in the plan;
* large probe batch  → shuffled-hash join on ``(band, key)`` with the probe
  as build side: the probe shuffles into the corpus's bucket layout, the
  corpus side reads its buckets in place (``Bucketed: true`` scan, no
  Exchange) and neither side sorts.

Growing the corpus is an append of newly banded postings into the same
bucket layout — no rewrite of existing data.

Bucketing metadata normally lives in a warehouse metastore (Hive/Glue/
Iceberg on a real cluster). This sandbox runs the in-memory catalog, so the
index directory carries a ``_gsp_hamming_index`` JSON sidecar (written via
the executor side as a Spark job, never a driver-local ``open()`` — the
path may be an object store) with the full geometry, and
:func:`register_hamming_index` re-creates the catalog entry in any new
session with ``CREATE TABLE ... CLUSTERED BY ... LOCATION`` — verified to
restore exchange-free bucketed scans across JVMs.

Reference parity: the reference has no dedup at all (it processes unique
tasked imagery); this is the training-data-pipeline surface the build brief
mandates, re-expressed as Spark bucketed storage + joins. Geometry and
recall semantics are ``dedup.hamming_near_dups``'s (Manku et al., WWW'07):
recall is exactly 1.0 for pairs within ``max_hamming`` when
``max_hamming < bands``.
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .dedup import (
    _check_pigeonhole,
    _first_colliding_band,
    _hamming_block_layout,
    banded_signatures,
)

#: sidecar dir name — leading underscore keeps it invisible to parquet scans
META_DIR = "_gsp_hamming_index"

#: default bucket count for the persisted banding. On a real cluster set
#: this to O(corpus bytes / 1 GB) so each bucket file stays a few HDFS/S3
#: blocks; probes co-partition to the same count.
DEFAULT_BUCKETS = 64

#: probe batches whose banded posting count is at or below this are
#: broadcast (postings are 4 slim columns ≈ 40 B serialized → ~40 MB at the
#: cap, inside the session's 64 MB auto-broadcast budget).
PROBE_BROADCAST_MAX_POSTINGS = 1_000_000


def hamming_join(
    probe: DataFrame,
    corpus: DataFrame,
    hash_col: str,
    probe_id_col: str = "image_id",
    corpus_id_col: str | None = None,
    bits: int = 64,
    bands: int = 4,
    max_hamming: int | None = None,
    hot_bucket_limit: int | None = 1 << 16,
    broadcast_probe: bool | None = None,
) -> DataFrame:
    """Asymmetric hamming-radius join: every (probe row, corpus row) pair
    with ``bit_count(xor) <= max_hamming`` → ``(probe_id, corpus_id,
    hamming)``. Both sides are banded with the same Manku geometry, meet in
    ONE equi-join on ``(band, key)``, and pair-level dedup is the
    canonical-band filter (pure codegen — zero extra shuffles), exactly as
    in ``dedup.hamming_near_dups`` but without the self-join's ``id_a <
    id_b`` ordering: probe and corpus are different relations, and a probe
    row may legitimately pair with many corpus rows.

    ``broadcast_probe``: True pins the broadcast-hash plan (probe side
    built, corpus streamed map-side — no exchange at all), False pins
    sort-merge, None (default) leaves the choice to the optimizer."""
    if max_hamming is None:
        max_hamming = bands - 1
    _check_pigeonhole(max_hamming, bands)
    if corpus_id_col is None:
        corpus_id_col = probe_id_col
    layout = _hamming_block_layout(bits, bands)
    subsets = list(itertools.combinations(range(bands), bands - max_hamming))
    p = banded_signatures(
        probe, hash_col, id_col=probe_id_col, bits=bits, bands=bands,
        max_hamming=max_hamming, hot_bucket_limit=None,  # probe batch: small
    ).select(
        "band", "key",
        F.col(probe_id_col).alias("probe_id"), F.col("sh").alias("sh_p"),
    )
    c = banded_signatures(
        corpus, hash_col, id_col=corpus_id_col, bits=bits, bands=bands,
        max_hamming=max_hamming, hot_bucket_limit=hot_bucket_limit,
    ).select(
        "band", "key",
        F.col(corpus_id_col).alias("corpus_id"), F.col("sh").alias("sh_c"),
    )
    return _joined_pairs(p, c, layout, subsets, max_hamming, broadcast_probe)


def _joined_pairs(
    p: DataFrame,
    c: DataFrame,
    layout: list[tuple[int, int]],
    subsets: list[tuple[int, ...]],
    max_hamming: int,
    broadcast_probe: bool | None,
) -> DataFrame:
    """Shared probe⋈corpus tail: equi-join on (band, key) → hamming filter
    BEFORE any pair handling (the r4 scale lesson) → canonical-band dedup.

    ``broadcast_probe``: True pins broadcast-hash (probe built, corpus
    streamed map-side), False pins SHUFFLED-hash with the probe as build
    side — the bucketed corpus satisfies the join's clustering
    requirement in place (no exchange) and, unlike sort-merge, neither
    side sorts (Spark ≥3 ignores a bucketed table's SORTED BY at scan
    unless a legacy listing conf is on, so SMJ would re-sort the whole
    corpus per probe). Probe partitions must fit executor memory: they
    are postings/buckets wide, and ``buckets`` is sized for the corpus,
    so any probe small enough to be worth indexing against fits. None
    leaves the strategy to the optimizer."""
    if broadcast_probe is True:
        pb = F.broadcast(p)
    elif broadcast_probe is False:
        pb = p.hint("shuffle_hash")
    else:
        pb = p
    ham = F.bit_count(F.col("sh_p").bitwiseXOR(F.col("sh_c")))
    return (
        c.join(pb, ["band", "key"])
        .filter(ham <= F.lit(max_hamming))
        .filter(
            F.col("band")
            == _first_colliding_band(
                F.col("sh_p").bitwiseXOR(F.col("sh_c")), layout, subsets
            )
        )
        .select("probe_id", "corpus_id", ham.alias("hamming"))
    )


def hamming_join_sql(
    probe_sql: str,
    corpus_sql: str,
    bits: int = 64,
    bands: int = 4,
    max_hamming: int | None = None,
    id_col: str = "image_id",
    hash_col: str = "phash",
) -> str:
    """DuckDB twin of :func:`hamming_join` for the classic one-block-per-
    table geometry (``bands = max_hamming + 1`` tables, equal block widths —
    the geometry every oracle-paired query uses). Same shift/mask banding
    on both relations, same popcount verify; the oracle dedups candidate
    pairs with DISTINCT where Spark uses the canonical-band filter — same
    pair set, different (correctness-scale-irrelevant) plan."""
    if max_hamming is None:
        max_hamming = bands - 1
    _check_pigeonhole(max_hamming, bands)
    if bands - max_hamming != 1 or bits % bands:
        raise ValueError(
            "SQL twin covers the classic geometry only: bands = max_hamming + 1 "
            f"and bits % bands == 0 (got bits={bits}, bands={bands}, "
            f"max_hamming={max_hamming})"
        )
    width = bits // bands
    mask = (1 << width) - 1
    bs = ", ".join(str(b) for b in range(bands))
    return f"""
WITH probe AS ({probe_sql}
), corpus AS ({corpus_sql}
), pb AS (
  SELECT {id_col} AS probe_id, {hash_col} AS sh_p, t.b AS band,
         ({hash_col} >> (t.b * {width})) & {mask} AS key
  FROM probe, UNNEST([{bs}]) AS t(b)
), cb AS (
  SELECT {id_col} AS corpus_id, {hash_col} AS sh_c, t.b AS band,
         ({hash_col} >> (t.b * {width})) & {mask} AS key
  FROM corpus, UNNEST([{bs}]) AS t(b)
), cand AS (
  SELECT DISTINCT probe_id, sh_p, corpus_id, sh_c
  FROM pb JOIN cb USING (band, key)
)
SELECT probe_id, corpus_id, bit_count(xor(sh_p, sh_c)) AS hamming FROM cand
WHERE bit_count(xor(sh_p, sh_c)) <= {max_hamming} ORDER BY probe_id, corpus_id
"""


#: the sidecar's fields, declared so that reading it is one Spark job, not
#: a schema-inference job and then the read
META_SCHEMA = (
    "bits int, bands int, max_hamming int, buckets int, "
    "id_col string, hash_col string, id_type string"
)


def _meta_of(spark: SparkSession, path: str) -> dict:
    row = spark.read.schema(META_SCHEMA).json(f"{path}/{META_DIR}").first()
    if row is None:
        raise ValueError(f"no hamming-index sidecar under {path}")
    return {
        "bits": int(row["bits"]),
        "bands": int(row["bands"]),
        "max_hamming": int(row["max_hamming"]),
        "buckets": int(row["buckets"]),
        "id_col": row["id_col"],
        "hash_col": row["hash_col"],
        # pre-r6 sidecars carry no id_type; they were only ever written
        # with bigint ids, so that is the correct legacy default
        "id_type": row["id_type"] or "bigint",
    }


def _norm_location(loc: str) -> tuple[str, str]:
    """(authority, normalized path) of a table/sidecar location. Locations
    compare equal via :func:`_same_location`, which matches on the PATH and
    only requires the authority to agree when BOTH sides carry one — the r6
    version kept the URI authority inside the compared string, so a catalog
    Location like ``hdfs://nn:8020/idx`` never matched a schemeless
    ``/idx`` and a legitimate same-index re-registration raised."""
    from urllib.parse import urlparse

    parsed = urlparse(loc)
    path = parsed.path if parsed.scheme else loc
    return parsed.netloc if parsed.scheme else "", "/" + path.strip("/")


def _same_location(a: str, b: str) -> bool:
    auth_a, path_a = _norm_location(a)
    auth_b, path_b = _norm_location(b)
    if path_a != path_b:
        return False
    return (not auth_a) or (not auth_b) or auth_a == auth_b


def write_hamming_index(
    df: DataFrame,
    table: str,
    path: str,
    hash_col: str,
    id_col: str = "image_id",
    bits: int = 64,
    bands: int = 4,
    max_hamming: int | None = None,
    buckets: int = DEFAULT_BUCKETS,
    hot_bucket_limit: int | None = 1 << 16,
) -> None:
    """Band ``df``'s hash column and persist the postings as parquet
    bucketed AND sorted by ``(band, key)`` at ``path``, registered in the
    session catalog as ``table``; write the geometry sidecar.

    The explicit ``repartition(buckets, band, key)`` before the write uses
    the same murmur3 ``HashPartitioning`` as the bucket assignment, so a
    bucket's rows land in few tasks and the table avoids the
    every-task-writes-every-bucket small-file explosion. Within-bucket
    ``sortBy`` keeps (band, key) runs contiguous — better parquet
    compression and row-group min/max stats for key-filtered scans. The
    hot-bucket guard runs here, at build time, where a degenerate key
    distribution (all-same-phash megacluster) should fail — not in every
    probe."""
    if max_hamming is None:
        max_hamming = bands - 1
    spark = df.sparkSession
    banded = banded_signatures(
        df, hash_col, id_col=id_col, bits=bits, bands=bands,
        max_hamming=max_hamming, hot_bucket_limit=hot_bucket_limit,
    )
    (
        banded.repartition(buckets, "band", "key")
        .write.format("parquet")
        .bucketBy(buckets, "band", "key")
        .sortBy("band", "key")
        .option("path", path)
        .mode("overwrite")
        .saveAsTable(table)
    )
    meta = {
        "bits": bits, "bands": bands, "max_hamming": max_hamming,
        "buckets": buckets, "id_col": id_col, "hash_col": hash_col,
        # the id column's Spark DDL type — re-registration in a later
        # session must declare the REAL schema (a hardcoded BIGINT would
        # corrupt reads of e.g. string image ids)
        "id_type": dict(df.dtypes)[id_col],
    }
    # sidecar written as a 1-row Spark job → works on any filesystem scheme
    spark.createDataFrame([meta]).coalesce(1).write.mode("overwrite").json(
        f"{path}/{META_DIR}"
    )


def register_hamming_index(spark: SparkSession, table: str, path: str) -> dict:
    """Recreate the catalog entry for an index directory written by an
    earlier session (the in-memory catalog forgets tables at JVM exit; on a
    cluster with a persistent metastore this is a no-op). Idempotent — but
    if ``table`` already exists and points somewhere ELSE, or was created
    with a different bucket layout, this raises instead of silently probing
    the wrong corpus (``CREATE TABLE IF NOT EXISTS`` alone would keep the
    stale entry). The id column type comes from the sidecar, not a
    hardcoded BIGINT — string image ids round-trip across sessions.
    Returns the geometry meta."""
    meta = _meta_of(spark, path)
    idc = meta["id_col"]
    if spark.catalog.tableExists(table):
        _check_existing_table(spark, table, path, meta)
        return meta
    spark.sql(
        f"""CREATE TABLE IF NOT EXISTS {table}
        ({idc} {meta['id_type'].upper()}, sh BIGINT, band INT, key BIGINT)
        USING PARQUET
        CLUSTERED BY (band, key) SORTED BY (band, key)
        INTO {meta['buckets']} BUCKETS
        LOCATION '{path}'"""
    )
    return meta


def _check_existing_table(
    spark: SparkSession, table: str, path: str, meta: dict
) -> None:
    """An existing catalog entry named ``table`` must actually be THIS
    index: same location and same (band, key) bucket layout. Anything else
    is a name collision that would silently probe the wrong corpus."""
    desc = {
        r["col_name"]: r["data_type"]
        for r in spark.sql(f"DESCRIBE FORMATTED {table}").collect()
    }
    loc = desc.get("Location", "")
    if not _same_location(loc, path):
        raise ValueError(
            f"table {table!r} already exists at location {loc!r}, not the "
            f"requested index path {path!r} — drop it or pick another name"
        )
    n_buckets = desc.get("Num Buckets", "")
    if n_buckets and int(n_buckets) != meta["buckets"]:
        raise ValueError(
            f"table {table!r} has {n_buckets} buckets but the index sidecar "
            f"says {meta['buckets']} — catalog entry is stale; drop it"
        )
    have_id_type = (desc.get(meta["id_col"]) or "").lower()
    if have_id_type and have_id_type != meta["id_type"].lower():
        # a pre-sidecar-era entry hardcoded BIGINT; sitting at the right
        # location it would silently misread a string-id index
        raise ValueError(
            f"table {table!r} declares {meta['id_col']} {have_id_type!r} but "
            f"the index sidecar says {meta['id_type']!r} — catalog entry is "
            "stale; drop it"
        )


def append_hamming_index(df: DataFrame, table: str, path: str) -> None:
    """Fold a new batch into an existing index: band with the INDEX's
    geometry (from the sidecar — a caller-supplied geometry could silently
    split the posting space) and append in the same bucket layout. The
    typical ingest cycle is probe-then-append: detect near-dups of the new
    batch against the corpus, then make the survivors part of the corpus."""
    spark = df.sparkSession
    meta = register_hamming_index(spark, table, path)
    banded = banded_signatures(
        df, meta["hash_col"], id_col=meta["id_col"], bits=meta["bits"],
        bands=meta["bands"], max_hamming=meta["max_hamming"],
        # appended batches are small vs the corpus; the build-time guard
        # bounded the corpus and a megacluster inside one batch still trips
        # the probe-side join explosion loudly via this same guard
        hot_bucket_limit=None,
    )
    (
        banded.repartition(meta["buckets"], "band", "key")
        .write.format("parquet")
        .bucketBy(meta["buckets"], "band", "key")
        .sortBy("band", "key")
        .option("path", path)
        .mode("append")
        .saveAsTable(table)
    )


def compact_hamming_index(spark: SparkSession, table: str, path: str) -> dict:
    """Rewrite the index's buckets in place, collapsing append debris.

    Every :func:`append_hamming_index` adds ~``buckets`` new files (one per
    written bucket); a daily ingest cycle accumulates small files until the
    bucketed scan's per-file open/footer overhead dominates probe time.
    Compaction rewrites each bucket's postings into a single sorted file —
    identical layout (same bucket count, same (band, key) clustering, same
    sidecar), so probe plans and results are unchanged; only the file count
    drops back to ~``buckets``.

    Mechanics: the postings are rewritten into a staging directory with the
    SAME bucket spec, then swapped under ``path`` via the Hadoop FileSystem
    API (works on any scheme Spark can reach). Bucket identity lives in the
    part-file NAME (``..._00042.c000``), so moved files keep their bucket
    mapping. The swap is delete-then-rename — not atomic; on a metastore
    deployment this step is the transactional table swap (Iceberg/Delta
    rewrite-files commit), and here a concurrent probe during the swap may
    fail loudly and retry. The sidecar is untouched. Returns stats
    ``{files_before, files_after, rows}``."""
    meta = register_hamming_index(spark, table, path)
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path
    fs = hpath(path).getFileSystem(spark._jsc.hadoopConfiguration())

    def _part_files(d):
        it = fs.listStatus(hpath(d))
        return [
            st.getPath() for st in it
            if st.isFile() and st.getPath().getName().startswith("part-")
        ]

    before = _part_files(path)
    staging_path = path.rstrip("/") + "__compacting"
    staging_table = table + "__compacting"
    fs.delete(hpath(staging_path), True)
    spark.sql(f"DROP TABLE IF EXISTS {staging_table}")
    # read the RAW parquet, not the catalog table: over the bucketed table
    # the optimizer elides the repartition (bucketing already provides the
    # distribution) and then auto-disables the bucketed scan, so the write
    # runs on arbitrary file-grouped partitions and every task emits a file
    # per bucket — the exact small-file debris compaction exists to remove.
    # A plain scan keeps the explicit shuffle, aligning tasks 1:1 with
    # buckets (~one output file each).
    (
        spark.read.parquet(path)
        .repartition(meta["buckets"], "band", "key")
        .write.format("parquet")
        .bucketBy(meta["buckets"], "band", "key")
        .sortBy("band", "key")
        .option("path", staging_path)
        .mode("overwrite")
        .saveAsTable(staging_table)
    )
    rows = spark.table(staging_table).count()
    spark.sql(f"DROP TABLE {staging_table}")  # external table: files remain
    # swap: old part files out, compacted part files in (sidecar untouched)
    for f in before:
        fs.delete(f, False)
    after = []
    for f in _part_files(staging_path):
        dest = hpath(path + "/" + f.getName())
        if not fs.rename(f, dest):
            raise IOError(f"compaction swap failed renaming {f} -> {dest}")
        after.append(dest)
    fs.delete(hpath(staging_path), True)
    # refresh so the already-registered table sees the new file list
    spark.sql(f"REFRESH TABLE {table}")
    return {"files_before": len(before), "files_after": len(after), "rows": rows}


def probe_hamming_index(
    spark: SparkSession,
    table: str,
    path: str,
    probe: DataFrame,
    probe_id_col: str = "image_id",
    hash_col: str | None = None,
    max_hamming: int | None = None,
    probe_rows: int | None = None,
) -> DataFrame:
    """Near-dup probe of a batch against a persisted index →
    ``(probe_id, corpus_id, hamming)``.

    Probing at a radius below the index's design ``max_hamming`` is allowed
    (a pair within a smaller radius still matches ≥1 table); above it the
    pigeonhole recall guarantee would silently break, so it raises.

    Plan routing: probe batches at or below
    ``PROBE_BROADCAST_MAX_POSTINGS`` banded postings are broadcast — the
    corpus scan is map-side and the WHOLE plan has no exchange. Bigger
    batches take the shuffled-hash path where only the probe side shuffles
    (the corpus scan shows ``Bucketed: true`` and no Exchange, and neither
    side sorts — plan-contract-tested). ``probe_rows`` skips the routing
    ``count()`` when the caller already knows the batch size."""
    meta = register_hamming_index(spark, table, path)
    if max_hamming is None:
        max_hamming = meta["max_hamming"]
    if max_hamming > meta["max_hamming"]:
        raise ValueError(
            f"probe radius {max_hamming} exceeds the index design radius "
            f"{meta['max_hamming']} — rebuild the index for the wider radius"
        )
    bits, bands = meta["bits"], meta["bands"]
    layout = _hamming_block_layout(bits, bands)
    subsets = list(
        itertools.combinations(range(bands), bands - meta["max_hamming"])
    )
    if probe_rows is None:
        probe_rows = probe.count()
    p = banded_signatures(
        probe, hash_col or meta["hash_col"], id_col=probe_id_col, bits=bits,
        bands=bands, max_hamming=meta["max_hamming"], hot_bucket_limit=None,
    ).select(
        "band", "key",
        F.col(probe_id_col).alias("probe_id"), F.col("sh").alias("sh_p"),
    )
    c = spark.table(table).select(
        "band", "key",
        F.col(meta["id_col"]).alias("corpus_id"), F.col("sh").alias("sh_c"),
    )
    broadcast = probe_rows * len(subsets) <= PROBE_BROADCAST_MAX_POSTINGS
    return _joined_pairs(p, c, layout, subsets, max_hamming, broadcast)


def probe_stream(
    stream_df: DataFrame,
    spark: SparkSession,
    table: str,
    path: str,
    probe_id_col: str = "image_id",
    hash_col: str | None = None,
) -> DataFrame:
    """Streaming twin of :func:`probe_hamming_index`: a stream-static join
    flagging, per micro-batch, every arriving image that near-duplicates
    the persisted corpus. Banding is a stateless projection and pair dedup
    is the canonical-band filter — also stateless — so the query runs in
    APPEND mode with no state store at all; at-least-once re-delivery of an
    input file re-emits that file's pairs (dedup downstream on
    (probe_id, corpus_id) if the sink needs exactly-once, or feed from an
    exactly-once source). The static corpus side is re-planned per batch
    against the bucketed table — the same exchange-free scan as the batch
    probe. (High-frequency tiny batches amortize poorly against a 100-TB
    static side; micro-batch sizing — maxFilesPerTrigger — is the lever.)"""
    meta = register_hamming_index(spark, table, path)
    bits, bands = meta["bits"], meta["bands"]
    layout = _hamming_block_layout(bits, bands)
    subsets = list(
        itertools.combinations(range(bands), bands - meta["max_hamming"])
    )
    p = banded_signatures(
        stream_df, hash_col or meta["hash_col"], id_col=probe_id_col,
        bits=bits, bands=bands, max_hamming=meta["max_hamming"],
        hot_bucket_limit=None,  # count-based guard is a batch concept
    ).select(
        "band", "key",
        F.col(probe_id_col).alias("probe_id"), F.col("sh").alias("sh_p"),
    )
    c = spark.table(table).select(
        "band", "key",
        F.col(meta["id_col"]).alias("corpus_id"), F.col("sh").alias("sh_c"),
    )
    return _joined_pairs(p, c, layout, subsets, meta["max_hamming"], False)
