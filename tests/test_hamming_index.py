"""Persistent hamming index + asymmetric probe join: value oracles (brute
force over small inputs — recall must be EXACTLY 1.0 inside the design
radius, the Manku pigeonhole contract), lifecycle (write → probe → append →
re-probe → re-register in a "new" session), plan contracts (the corpus side
of a big probe must scan its buckets with no Exchange and no Sort; a small
probe's plan must have no shuffle exchange anywhere), and the streaming
probe's equivalence to the batch probe."""

import itertools

import pytest
from pyspark.sql import functions as F

from geospatial_studio_pipelines_spark.operators import dedup, hamming_index


def _mix(col):
    # full-width deterministic avalanche into 62 bits
    return F.xxhash64(col).bitwiseAND(F.lit(2**62 - 1))


def _corpus(spark, n):
    return spark.range(n).select(
        F.col("id").alias("image_id"), _mix(F.col("id")).alias("phash")
    )


def _probe(spark, n_hits, n_miss, flip_bits=(0, 17, 45)):
    """n_hits rows = corpus hashes with ≤3 bits flipped (must all be
    found), n_miss rows = fresh random hashes (may collide by chance; the
    brute-force oracle decides)."""
    flip = 0
    for b in flip_bits:
        flip |= 1 << b
    hits = spark.range(n_hits).select(
        (F.col("id") + 10_000_000).alias("image_id"),
        _mix(F.col("id") * 7 % n_hits).bitwiseXOR(
            F.lit(flip) if len(flip_bits) else F.lit(0)
        ).alias("phash"),
    )
    miss = spark.range(n_miss).select(
        (F.col("id") + 20_000_000).alias("image_id"),
        _mix(F.col("id") + 777_000_000).alias("phash"),
    )
    return hits.unionByName(miss)


def _brute_pairs(probe_rows, corpus_rows, max_hamming):
    out = set()
    for pid, ph in probe_rows:
        for cid, ch in corpus_rows:
            h = bin(ph ^ ch).count("1")
            if h <= max_hamming:
                out.add((pid, cid, h))
    return out


def test_hamming_join_matches_bruteforce(spark):
    corpus = _corpus(spark, 400)
    probe = _probe(spark, 60, 40)
    got = {
        (r.probe_id, r.corpus_id, r.hamming)
        for r in hamming_index.hamming_join(
            probe, corpus, "phash", bits=62, bands=4, max_hamming=3
        ).collect()
    }
    want = _brute_pairs(
        [(r.image_id, r.phash) for r in probe.collect()],
        [(r.image_id, r.phash) for r in corpus.collect()],
        3,
    )
    assert got == want and len(want) >= 60  # every planted hit found


def test_hamming_join_wide_geometry_same_pairs(spark):
    """Band geometry (m=5: 10 tables, 2-block keys) changes the plan, never
    the answer."""
    corpus = _corpus(spark, 300)
    probe = _probe(spark, 40, 20)
    classic = hamming_index.hamming_join(
        probe, corpus, "phash", bits=62, bands=4, max_hamming=3
    )
    wide = hamming_index.hamming_join(
        probe, corpus, "phash", bits=62, bands=5, max_hamming=3
    )
    key = lambda r: (r.probe_id, r.corpus_id, r.hamming)  # noqa: E731
    assert {key(r) for r in classic.collect()} == {key(r) for r in wide.collect()}


@pytest.fixture()
def index_dir(tmp_path):
    return str(tmp_path / "phash_idx")


def test_index_lifecycle_write_probe_append(spark, index_dir):
    corpus = _corpus(spark, 5000)
    hamming_index.write_hamming_index(
        corpus, "t_idx", index_dir, hash_col="phash", bits=62, bands=4, buckets=8
    )
    probe = _probe(spark, 50, 30)
    got = {
        (r.probe_id, r.corpus_id, r.hamming)
        for r in hamming_index.probe_hamming_index(
            spark, "t_idx", index_dir, probe, probe_rows=80
        ).collect()
    }
    want = _brute_pairs(
        [(r.image_id, r.phash) for r in probe.collect()],
        [(r.image_id, r.phash) for r in corpus.collect()],
        3,
    )
    assert got == want and len(want) >= 50

    # fold a new batch in; its members must be probe-visible afterwards
    batch = spark.range(5000, 5400).select(
        F.col("id").alias("image_id"), _mix(F.col("id")).alias("phash")
    )
    hamming_index.append_hamming_index(batch, "t_idx", index_dir)
    probe2 = spark.range(5000, 5050).select(
        (F.col("id") + 30_000_000).alias("image_id"),
        _mix(F.col("id")).bitwiseXOR(F.lit(1 << 33)).alias("phash"),
    )
    got2 = {
        (r.probe_id, r.corpus_id)
        for r in hamming_index.probe_hamming_index(
            spark, "t_idx", index_dir, probe2, probe_rows=50
        ).collect()
    }
    assert {(i + 30_000_000, i) for i in range(5000, 5050)} <= got2


def test_register_recreates_bucketed_table(spark, index_dir):
    """Dropping the catalog entry (what a JVM restart does to the in-memory
    catalog) and re-registering from the sidecar must restore the
    exchange-free bucketed corpus scan, not a plain parquet scan."""
    corpus = _corpus(spark, 3000)
    hamming_index.write_hamming_index(
        corpus, "t_reg", index_dir, hash_col="phash", bits=62, bands=4, buckets=8
    )
    spark.sql("DROP TABLE t_reg")
    meta = hamming_index.register_hamming_index(spark, "t_reg", index_dir)
    assert meta["bands"] == 4 and meta["bits"] == 62 and meta["buckets"] == 8
    probe = _probe(spark, 20, 10)
    out = hamming_index.probe_hamming_index(
        spark, "t_reg", index_dir, probe, probe_rows=10**9  # force merge path
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    corpus_scan = plan[plan.find("FileScan parquet") :]
    assert "Bucketed: true" in corpus_scan
    # children render after parents: everything after the corpus FileScan
    # line belongs to it — no exchange/sort may follow it
    assert out.count() >= 20


def test_big_probe_plan_corpus_side_has_no_exchange_or_sort(spark, index_dir):
    corpus = _corpus(spark, 4000)
    hamming_index.write_hamming_index(
        corpus, "t_plan", index_dir, hash_col="phash", bits=62, bands=4, buckets=8
    )
    out = hamming_index.probe_hamming_index(
        spark, "t_plan", index_dir, _probe(spark, 30, 10), probe_rows=10**9
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    # shuffled-hash, probe as build side: no sort on either side
    assert "ShuffledHashJoin" in plan
    assert "Sort [band" not in plan
    # exactly ONE shuffle exchange (the probe side); the bucketed corpus
    # contributes none
    assert plan.count("Exchange hashpartitioning") == 1
    scan = plan[plan.find("FileScan parquet") :]
    assert "Bucketed: true" in scan


def test_small_probe_plan_has_no_shuffle_at_all(spark, index_dir):
    corpus = _corpus(spark, 4000)
    hamming_index.write_hamming_index(
        corpus, "t_plan2", index_dir, hash_col="phash", bits=62, bands=4, buckets=8
    )
    out = hamming_index.probe_hamming_index(
        spark, "t_plan2", index_dir, _probe(spark, 30, 10), probe_rows=40
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "Exchange hashpartitioning" not in plan


def test_probe_radius_above_design_raises(spark, index_dir):
    corpus = _corpus(spark, 100)
    hamming_index.write_hamming_index(
        corpus, "t_rad", index_dir, hash_col="phash", bits=62, bands=4, buckets=4
    )
    with pytest.raises(ValueError, match="design radius"):
        hamming_index.probe_hamming_index(
            spark, "t_rad", index_dir, _probe(spark, 5, 5), max_hamming=5
        )


def test_hamming_join_sql_twin_matches(spark):
    """The DuckDB twin returns the identical pair set on the identical
    derived input (the same md5-derived phash expression both engines can
    compute)."""
    duckdb = pytest.importorskip("duckdb")
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        "read_parquet('/root/testdata/sf0.001/documents.parquet')"
    )
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    ph = F.conv(F.substring(F.md5(F.col("text")), 1, 15), 16, 10).cast("long")
    corpus = docs.select(F.col("doc_id").alias("image_id"), ph.alias("phash"))
    probe = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("image_id"),
        ph.bitwiseXOR(F.col("doc_id") % 8).alias("phash"),
    )
    got = sorted(
        (r.probe_id, r.corpus_id, r.hamming)
        for r in hamming_index.hamming_join(
            probe, corpus, "phash", bits=60, bands=4, max_hamming=3
        ).collect()
    )
    sql = hamming_index.hamming_join_sql(
        """SELECT doc_id + 1000000 AS image_id,
                  xor(CAST('0x' || substring(md5(text), 1, 15) AS BIGINT), doc_id % 8) AS phash
           FROM documents WHERE doc_id % 7 = 0""",
        """SELECT doc_id AS image_id,
                  CAST('0x' || substring(md5(text), 1, 15) AS BIGINT) AS phash
           FROM documents""",
        bits=60, bands=4, max_hamming=3,
    )
    want = [tuple(r) for r in con.execute(sql).fetchall()]
    assert got == sorted(want) and len(want) > 0


def test_sql_twin_rejects_non_classic_geometry():
    with pytest.raises(ValueError, match="classic geometry"):
        hamming_index.hamming_join_sql("SELECT 1", "SELECT 1", bits=62, bands=5, max_hamming=3)


def test_probe_stream_matches_batch_probe(spark, index_dir, tmp_path):
    from geospatial_studio_pipelines_spark.streaming.events import (
        run_available_now_append,
    )

    corpus = _corpus(spark, 2000)
    hamming_index.write_hamming_index(
        corpus, "t_stream", index_dir, hash_col="phash", bits=62, bands=4, buckets=4
    )
    probe = _probe(spark, 25, 15)
    probe_dir = str(tmp_path / "probe_in")
    probe.write.parquet(probe_dir)
    stream = (
        spark.readStream.schema("image_id long, phash long")
        .option("maxFilesPerTrigger", 2)
        .parquet(probe_dir)
    )
    out = hamming_index.probe_stream(stream, spark, "t_stream", index_dir)
    got = {
        (r.probe_id, r.corpus_id, r.hamming)
        for r in run_available_now_append(
            out, str(tmp_path / "ckpt"), "stream_pairs"
        ).collect()
    }
    want = {
        (r.probe_id, r.corpus_id, r.hamming)
        for r in hamming_index.probe_hamming_index(
            spark, "t_stream", index_dir, probe, probe_rows=40
        ).collect()
    }
    assert got == want and len(want) >= 25


def test_canonical_band_equals_distinct_dedup(spark):
    """The canonical-band filter and an explicit dropDuplicates agree on
    every geometry in play (the filter must keep EXACTLY one emission per
    pair — too lax double-counts, too strict loses recall)."""
    corpus = _corpus(spark, 500)
    for bands in (4, 5):
        pairs = hamming_index.hamming_join(
            _probe(spark, 40, 10), corpus, "phash", bits=62, bands=bands,
            max_hamming=3,
        )
        n = pairs.count()
        assert n == pairs.dropDuplicates(["probe_id", "corpus_id"]).count()
        assert n >= 40


def test_self_join_canonical_band_counts(spark):
    """Same single-emission property for the self-join operator across
    classic and wide geometries (regression net for the dropDuplicates
    removal in hamming_near_dups)."""
    df = spark.range(600).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 3 == 0, _mix(F.col("id") + 1).bitwiseXOR(F.lit(5)))
        .otherwise(_mix(F.col("id")))
        .alias("sh"),
    )
    for bands in (4, 5):
        out = dedup.hamming_near_dups(
            df, "sh", id_col="doc_id", bits=62, bands=bands, max_hamming=3
        )
        n = out.count()
        assert n == out.dropDuplicates(["id_a", "id_b"]).count()


def test_string_id_round_trips_across_sessions(spark, index_dir):
    """The north-rule images table has ``image_id: string``. The sidecar
    must persist the id TYPE so cross-session re-registration declares the
    real schema — a hardcoded BIGINT would corrupt or fail every probe."""
    corpus = _corpus(spark, 2000).select(
        F.concat(F.lit("img-"), F.col("image_id")).alias("image_id"), "phash"
    )
    hamming_index.write_hamming_index(
        corpus, "t_sid", index_dir, hash_col="phash", bits=62, bands=4, buckets=8
    )
    # simulate a new JVM: the in-memory catalog forgets the table
    spark.sql("DROP TABLE t_sid")
    meta = hamming_index.register_hamming_index(spark, "t_sid", index_dir)
    assert meta["id_type"] == "string"
    assert dict(spark.table("t_sid").dtypes)["image_id"] == "string"
    probe = _probe(spark, 25, 10).select(
        F.concat(F.lit("probe-"), F.col("image_id")).alias("image_id"), "phash"
    )
    got = {
        (r.probe_id, r.corpus_id)
        for r in hamming_index.probe_hamming_index(
            spark, "t_sid", index_dir, probe, probe_rows=35
        ).collect()
    }
    # _probe row i carries corpus hash _mix(i*7 % n_hits) with 3 bits flipped
    want = {(f"probe-{10_000_000 + i}", f"img-{i * 7 % 25}") for i in range(25)}
    assert want <= got


def test_register_rejects_table_at_other_location(spark, index_dir, tmp_path):
    """IF NOT EXISTS must not silently keep a same-named table that points
    at a DIFFERENT corpus — that probes the wrong data."""
    hamming_index.write_hamming_index(
        _corpus(spark, 500), "t_loc_a", str(tmp_path / "idx_a"),
        hash_col="phash", bits=62, bands=4, buckets=8,
    )
    hamming_index.write_hamming_index(
        _corpus(spark, 500), "t_loc_b", index_dir,
        hash_col="phash", bits=62, bands=4, buckets=8,
    )
    with pytest.raises(ValueError, match="location"):
        # ask to register t_loc_a but point it at t_loc_b's directory
        hamming_index.register_hamming_index(spark, "t_loc_a", index_dir)
    # same name + same location stays idempotent
    meta = hamming_index.register_hamming_index(spark, "t_loc_b", index_dir)
    assert meta["buckets"] == 8
    spark.sql("DROP TABLE t_loc_a")
    spark.sql("DROP TABLE t_loc_b")


def test_legacy_sidecar_without_id_type_defaults_bigint(spark, index_dir):
    """Pre-r6 sidecars carry no id_type field; they were only ever written
    with bigint ids, so registration must fall back to BIGINT, not fail."""
    hamming_index.write_hamming_index(
        _corpus(spark, 300), "t_legacy", index_dir,
        hash_col="phash", bits=62, bands=4, buckets=8,
    )
    # rewrite the sidecar WITHOUT the id_type field (what r5 wrote)
    meta = hamming_index._meta_of(spark, index_dir)
    legacy = {k: v for k, v in meta.items() if k != "id_type"}
    spark.createDataFrame([legacy]).coalesce(1).write.mode("overwrite").json(
        f"{index_dir}/{hamming_index.META_DIR}"
    )
    spark.sql("DROP TABLE t_legacy")
    meta2 = hamming_index.register_hamming_index(spark, "t_legacy", index_dir)
    assert meta2["id_type"] == "bigint"
    assert dict(spark.table("t_legacy").dtypes)["image_id"] == "bigint"
    spark.sql("DROP TABLE t_legacy")


def test_sidecar_read_is_one_job(spark, index_dir):
    """The sidecar's schema is declared: reading it runs the read alone,
    with no schema-inference job before it, and keeps the field types."""
    meta = {"bits": 62, "bands": 4, "max_hamming": 3, "buckets": 8,
            "id_col": "image_id", "hash_col": "phash"}  # no id_type: pre-r6
    spark.createDataFrame([meta]).coalesce(1).write.json(f"{index_dir}/{hamming_index.META_DIR}")
    sc = spark.sparkContext
    sc.setJobGroup("sidecar-read", "sidecar read")
    try:
        got = hamming_index._meta_of(spark, index_dir)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(sc.statusTracker().getJobIdsForGroup("sidecar-read")) == 1
    assert got == {**meta, "id_type": "bigint"}


def test_compaction_preserves_probes_and_reduces_files(spark, index_dir):
    """N appends accumulate ~buckets files each; compaction must collapse
    them back to ~buckets files with IDENTICAL probe results."""
    corpus = _corpus(spark, 2000)
    hamming_index.write_hamming_index(
        corpus, "t_cmp", index_dir, hash_col="phash", bits=62, bands=4, buckets=8
    )
    for k in range(3):
        batch = spark.range(2000 + 500 * k, 2000 + 500 * (k + 1)).select(
            F.col("id").alias("image_id"), _mix(F.col("id")).alias("phash")
        )
        hamming_index.append_hamming_index(batch, "t_cmp", index_dir)

    probe = _probe(spark, 40, 20)
    pre = {
        (r.probe_id, r.corpus_id, r.hamming)
        for r in hamming_index.probe_hamming_index(
            spark, "t_cmp", index_dir, probe, probe_rows=60
        ).collect()
    }
    stats = hamming_index.compact_hamming_index(spark, "t_cmp", index_dir)
    assert stats["files_after"] < stats["files_before"]
    assert stats["files_after"] <= 8  # back to ~one file per bucket
    assert stats["rows"] > 0
    post = {
        (r.probe_id, r.corpus_id, r.hamming)
        for r in hamming_index.probe_hamming_index(
            spark, "t_cmp", index_dir, probe, probe_rows=60
        ).collect()
    }
    assert post == pre
    # the corpus-side scan must still be the exchange-free bucketed scan
    out = hamming_index.probe_hamming_index(
        spark, "t_cmp", index_dir, probe, probe_rows=10**9
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Bucketed: true" in plan[plan.find("FileScan parquet"):]
    # appended rows are still probe-visible after compaction
    probe2 = spark.range(2500, 2550).select(
        (F.col("id") + 40_000_000).alias("image_id"),
        _mix(F.col("id")).bitwiseXOR(F.lit(1 << 20)).alias("phash"),
    )
    got2 = {
        (r.probe_id, r.corpus_id)
        for r in hamming_index.probe_hamming_index(
            spark, "t_cmp", index_dir, probe2, probe_rows=50
        ).collect()
    }
    assert {(i + 40_000_000, i) for i in range(2500, 2550)} <= got2
    spark.sql("DROP TABLE t_cmp")


def test_register_rejects_wrong_id_type_entry(spark, index_dir):
    """A stale catalog entry at the CORRECT location but with the wrong id
    column type (the pre-r6 hardcoded-BIGINT shape) must be rejected — it
    would silently misread a string-id index (r6 verdict item #2)."""
    corpus = _corpus(spark, 300).select(
        F.concat(F.lit("img-"), F.col("image_id")).alias("image_id"), "phash"
    )
    hamming_index.write_hamming_index(
        corpus, "t_idtype", index_dir, hash_col="phash", bits=62, bands=4, buckets=8
    )
    spark.sql("DROP TABLE t_idtype")
    # simulate the stale pre-r6 entry: same name, same location, BIGINT id
    spark.sql(
        f"""CREATE TABLE t_idtype
        (image_id BIGINT, sh BIGINT, band INT, key BIGINT)
        USING PARQUET
        CLUSTERED BY (band, key) SORTED BY (band, key) INTO 8 BUCKETS
        LOCATION '{index_dir}'"""
    )
    with pytest.raises(ValueError, match="stale"):
        hamming_index.register_hamming_index(spark, "t_idtype", index_dir)
    spark.sql("DROP TABLE t_idtype")


def test_same_location_ignores_missing_authority():
    """Location comparison matches on the path; the authority only has to
    agree when both sides carry one (ADVICE: 'hdfs://nn:8020/idx' must
    match a schemeless '/idx', but two different buckets must not)."""
    same = hamming_index._same_location
    assert same("hdfs://nn:8020/idx", "/idx")
    assert same("file:/root/x/idx/", "/root/x/idx")
    assert same("s3a://bkt/idx", "s3a://bkt/idx/")
    assert not same("s3a://bkt-a/idx", "s3a://bkt-b/idx")
    assert not same("/idx", "/other")


def test_append_compact_append_probe_lifecycle(spark, index_dir, tmp_path):
    """Interleaved daily-ingest cycle — append → compact → append → probe —
    must return exactly what a never-compacted twin index returns (r6
    verdict item #5: the single-compaction test missed the alternation)."""
    base = _corpus(spark, 2000)
    batch1 = spark.range(2000, 2400).select(
        F.col("id").alias("image_id"), _mix(F.col("id")).alias("phash")
    )
    batch2 = spark.range(2400, 2800).select(
        F.col("id").alias("image_id"), _mix(F.col("id")).alias("phash")
    )
    plain_dir = str(tmp_path / "idx_plain")
    for table, d, compact in (("t_cyc", index_dir, True), ("t_plain", plain_dir, False)):
        hamming_index.write_hamming_index(
            base, table, d, hash_col="phash", bits=62, bands=4, buckets=8
        )
        hamming_index.append_hamming_index(batch1, table, d)
        if compact:
            stats = hamming_index.compact_hamming_index(spark, table, d)
            assert stats["files_after"] <= stats["files_before"]
        hamming_index.append_hamming_index(batch2, table, d)
        if compact:
            hamming_index.compact_hamming_index(spark, table, d)
    probe = _probe(spark, 40, 15)
    got = {
        tuple(r)
        for r in hamming_index.probe_hamming_index(
            spark, "t_cyc", index_dir, probe, probe_rows=55
        ).collect()
    }
    want = {
        tuple(r)
        for r in hamming_index.probe_hamming_index(
            spark, "t_plain", plain_dir, probe, probe_rows=55
        ).collect()
    }
    assert got == want and len(got) >= 40
    spark.sql("DROP TABLE t_cyc")
    spark.sql("DROP TABLE t_plain")


def test_hamming_index_imports_no_geometry_helper():
    """The Hamming-radius algorithm (geometry, banding, the canonical-band
    filter, the join tail) lives in ``dedup``; ``hamming_index`` keeps only
    storage and reaches the algorithm through one join tail."""
    import ast
    from pathlib import Path

    src = Path(hamming_index.__file__).read_text()
    assert src.count(".bucketBy(") == 1  # build, append and compact share one write
    tree = ast.parse(src)
    imported = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            imported |= {a.name for a in node.names}
        elif isinstance(node, ast.ImportFrom):
            imported |= {a.name for a in node.names} | {node.module or ""}
    assert not imported & {
        "_check_pigeonhole", "_first_colliding_band", "_hamming_block_layout", "itertools"
    }
    assert "_joined_pairs" not in vars(hamming_index)


def test_compaction_keeps_postings_appended_during_it(spark, index_dir, append_before_read):
    """A batch appended while compaction runs is either rewritten and its
    old files deleted, or left alone; never both, which would duplicate its
    postings and every pair a later probe finds through them."""
    hamming_index.write_hamming_index(
        _corpus(spark, 1000), "t_race", index_dir, hash_col="phash", bits=62,
        bands=4, buckets=4,
    )
    late = spark.range(1000, 1200).select(
        F.col("id").alias("image_id"), _mix(F.col("id")).alias("phash")
    )
    append_before_read(
        index_dir, lambda: hamming_index.append_hamming_index(late, "t_race", index_dir)
    )
    hamming_index.compact_hamming_index(spark, "t_race", index_dir)
    postings = spark.read.parquet(index_dir)
    assert postings.count() == 1200 * 4
    assert postings.groupBy("band", "key", "image_id").count().filter("count > 1").count() == 0
    spark.sql("DROP TABLE t_race")
