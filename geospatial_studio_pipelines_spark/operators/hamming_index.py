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

from math import comb

from pyspark.sql import DataFrame, SparkSession

from .dedup import _radius_join, banded_signatures

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
    bits: int = 64,
    bands: int = 4,
    max_hamming: int | None = None,
) -> DataFrame:
    """Asymmetric hamming-radius join: every (probe row, corpus row) pair
    with ``bit_count(xor) <= max_hamming`` → ``(probe_id, corpus_id,
    hamming)``. Both sides are banded with the same Manku geometry and meet
    in ``dedup``'s one Hamming-radius join tail (``(band, key)`` equi-join,
    canonical-band pair dedup — zero extra shuffles), as in
    ``dedup.hamming_near_dups`` but without the self-join's ``id_a < id_b``
    ordering: probe and corpus are different relations, and a probe row
    may legitimately pair with many corpus rows. Both sides carry their id
    in ``probe_id_col``; the corpus side is hot-bucket guarded, the probe
    batch is not; the join strategy is the optimizer's choice."""
    if max_hamming is None:
        max_hamming = bands - 1
    p = banded_signatures(
        probe, hash_col, id_col=probe_id_col, bits=bits, bands=bands,
        max_hamming=max_hamming, hot_bucket_limit=None,  # probe batch: small
    )
    c = banded_signatures(
        corpus, hash_col, id_col=probe_id_col, bits=bits, bands=bands,
        max_hamming=max_hamming,
    )
    return _radius_join(
        (p, probe_id_col, "probe_id"), (c, probe_id_col, "corpus_id"),
        (bits, bands, max_hamming),
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
    pair set, different (correctness-scale-irrelevant) plan. A radius at
    or past ``bands`` is outside the classic geometry, so it raises too."""
    if max_hamming is None:
        max_hamming = bands - 1
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


def _write_buckets(
    postings: DataFrame, buckets: int, table: str, path: str, mode: str
) -> None:
    """The one bucketed write of the index (build, append, compact):
    ``postings`` as parquet at ``path``, bucketed AND sorted by ``(band,
    key)`` into ``buckets`` buckets, registered in the catalog as ``table``.

    The explicit ``repartition(buckets, band, key)`` before the write uses
    the same murmur3 ``HashPartitioning`` as the bucket assignment, so a
    bucket's rows land in few tasks and the table avoids the
    every-task-writes-every-bucket small-file explosion. Within-bucket
    ``sortBy`` keeps (band, key) runs contiguous — better parquet
    compression and row-group min/max stats for key-filtered scans."""
    (
        postings.repartition(buckets, "band", "key")
        .write.format("parquet")
        .bucketBy(buckets, "band", "key")
        .sortBy("band", "key")
        .option("path", path)
        .mode(mode)
        .saveAsTable(table)
    )


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
    session catalog as ``table`` (:func:`_write_buckets`); write the
    geometry sidecar. The hot-bucket guard runs here, at build time, where
    a degenerate key distribution (all-same-phash megacluster) should fail
    — not in every probe."""
    if max_hamming is None:
        max_hamming = bands - 1
    spark = df.sparkSession
    banded = banded_signatures(
        df, hash_col, id_col=id_col, bits=bits, bands=bands,
        max_hamming=max_hamming, hot_bucket_limit=hot_bucket_limit,
    )
    _write_buckets(banded, buckets, table, path, "overwrite")
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
    _write_buckets(banded, meta["buckets"], table, path, "append")


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
    fail loudly and retry. The files deleted are exactly the ones the
    rewrite read (the read's own file index), so a batch appended while
    compaction runs is either rewritten or left in place, never both. The
    sidecar is untouched. Returns stats ``{files_before, files_after,
    rows}``."""
    meta = register_hamming_index(spark, table, path)
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path
    fs = hpath(path).getFileSystem(spark._jsc.hadoopConfiguration())
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
    # buckets (~one output file each). The read lists the directory once;
    # its file index is the list of files to delete.
    src = spark.read.parquet(path)
    before = src.inputFiles()
    _write_buckets(src, meta["buckets"], staging_table, staging_path, "overwrite")
    rows = spark.table(staging_table).count()
    spark.sql(f"DROP TABLE {staging_table}")  # external table: files remain
    # swap: old part files out, compacted part files in (sidecar untouched)
    for f in before:
        fs.delete(hpath(jvm.java.net.URI(f)), False)
    after = 0
    for st in fs.listStatus(hpath(staging_path)):
        f = st.getPath()
        if not (st.isFile() and f.getName().startswith("part-")):
            continue
        dest = hpath(path + "/" + f.getName())
        if not fs.rename(f, dest):
            raise IOError(f"compaction swap failed renaming {f} -> {dest}")
        after += 1
    fs.delete(hpath(staging_path), True)
    # refresh so the already-registered table sees the new file list
    spark.sql(f"REFRESH TABLE {table}")
    return {"files_before": len(before), "files_after": after, "rows": rows}


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
    if probe_rows is None:
        probe_rows = probe.count()
    tables = comb(meta["bands"], meta["max_hamming"])
    small = probe_rows * tables <= PROBE_BROADCAST_MAX_POSTINGS
    return _probe_index(
        spark, table, meta, probe, probe_id_col, hash_col, max_hamming,
        "broadcast" if small else "shuffle_hash",
    )


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
    the persisted corpus. It is the batch probe's body on its shuffled-hash
    path, without the routing ``count()``. Banding is a stateless
    projection and pair dedup is the canonical-band filter — also
    stateless — so the query runs in APPEND mode with no state store at
    all; at-least-once re-delivery of an input file re-emits that file's
    pairs (dedup downstream on (probe_id, corpus_id) if the sink needs
    exactly-once, or feed from an exactly-once source). The static corpus
    side is re-planned per batch against the bucketed table — the same
    exchange-free scan as the batch probe. (High-frequency tiny batches
    amortize poorly against a 100-TB static side; micro-batch sizing —
    maxFilesPerTrigger — is the lever.) The count-based hot-bucket guard
    is a batch concept and does not run here."""
    meta = register_hamming_index(spark, table, path)
    return _probe_index(
        spark, table, meta, stream_df, probe_id_col, hash_col,
        meta["max_hamming"], "shuffle_hash",
    )


def _probe_index(
    spark: SparkSession,
    table: str,
    meta: dict,
    probe: DataFrame,
    probe_id_col: str,
    hash_col: str | None,
    radius: int,
    strategy: str,
) -> DataFrame:
    """The probe body shared by the batch and the streaming probe: band the
    probe with the index's geometry (sidecar ``meta``) and join it, as the
    hinted build side, to the bucketed corpus table. On the shuffled-hash
    path the probe's partitions must fit executor memory: they are
    postings/buckets wide, and ``buckets`` is sized for the corpus, so any
    probe small enough to be worth indexing against fits."""
    bits, bands, design = meta["bits"], meta["bands"], meta["max_hamming"]
    p = banded_signatures(
        probe, hash_col or meta["hash_col"], id_col=probe_id_col, bits=bits,
        bands=bands, max_hamming=design, hot_bucket_limit=None,
    )
    return _radius_join(
        (p, probe_id_col, "probe_id"), (spark.table(table), meta["id_col"], "corpus_id"),
        (bits, bands, design), radius, strategy,
    )
