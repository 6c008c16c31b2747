"""Deduplication operators over the ``documents`` table — exact, MinHash+LSH,
SimHash, n-gram Jaccard, embedding-cosine near-dup.

Training-data-pipeline first-class ops (not in the reference, which processes
unique imagery; mandated by the build brief). Text signatures (MinHash,
SimHash, the Jaccard shingle sets) all come from ONE vectorized k-gram hash
(:func:`_kgram_hashes`) run in Arrow batches; banding, bucket joins and
verification are relational — classic Broder-style MinHash LSH expressed as
DataFrame ops, so Catalyst handles pushdown and AQE the bucket-join skew.

Portability contract: every function here has deterministic semantics
reproducible in DuckDB SQL (see ``__spark_entry__``) — hashes are polynomial
code-point arithmetic (no engine-native ``hash()``), permutations use fixed
constants, modulus stays in positive int64 range.
"""

from __future__ import annotations

import itertools

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import _POW31, SHINGLE_K

# fixed MinHash permutation constants (a*h + b) % P  — P = 2^31 - 1 (prime)
MINHASH_P = 2**31 - 1
_A = [1103515245, 1234567891, 987654321, 2027485109, 1664525013, 22695477, 1013904223, 1229782938]
_B = [12345, 67890, 424242, 9999991, 31415926, 27182818, 16180339, 1414213]
N_PERM = 8
BAND_SIZE = 2  # 4 bands of 2 → catches jaccard ≳ 0.5 pairs w.h.p.


def exact_duplicates(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact dedup via hash-groupBy: full 128-bit md5 fingerprint → group →
    keep groups with >1 member. Returns (fp, n_dups, min_doc_id).

    Full-width md5, not a 64-bit truncation: at 10^12 docs a truncated
    fingerprint expects ~2.7e4 birthday collisions — each a unique doc
    silently merged into a duplicate group (same rationale as the
    streaming dedup state in streaming/events.py)."""
    return (
        docs.groupBy(F.md5(F.col(text_col)).alias("fp"))
        .agg(F.count("*").alias("n_dups"), F.min("doc_id").alias("keeper_doc_id"))
        .filter(F.col("n_dups") > 1)
    )


def _kgram_hashes(text: str | None) -> np.ndarray:
    """int64 polynomial hash of every SHINGLE_K-code-point window of
    ``text``, in text order (the shingle MULTISET):
    h(i) = Σ_j cp(t[i+j]) · 31^(k-1-j). The engine's only shingle hash —
    ``functions.text.shingle_hashes_sql`` is its DuckDB twin. The text
    decodes to a code-point array through a utf-32 view (no per-char
    Python) and the hash is k shifted vector multiplies. ``None`` and texts
    shorter than SHINGLE_K have no shingles."""
    if text is None or len(text) < SHINGLE_K:
        return np.empty(0, dtype=np.int64)
    c = np.frombuffer(text.encode("utf-32-le"), dtype="<u4").astype(np.int64)
    n = c.size - SHINGLE_K + 1
    h = c[:n] * _POW31[SHINGLE_K - 1]
    for j in range(1, SHINGLE_K):
        h += c[j : j + n] * _POW31[SHINGLE_K - 1 - j]
    return h


def _java_mod(a, p: int):
    """Java/Spark `%` (truncated-division remainder, sign of the dividend)
    on int64 numpy arrays — numpy's `%` floor-mods (sign of the divisor),
    which diverges exactly when `a` overflowed negative. Only reachable for
    astral-plane code points; DuckDB raises on that overflow, so no oracle
    covers these values."""
    r = a % p
    return np.where((a < 0) & (r != 0), r - p, r)


def shingle_sets_with_sigs(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, sh sorted-distinct array<long>, mh0..mh7) in ONE Arrow pass over
    :func:`_kgram_hashes`: the 8 permuted minima are vector ops over the
    distinct set (min is order/multiplicity-free, so signatures over the
    set equal signatures over the multiset). Docs without shingles get an
    empty ``sh`` and NULL signatures. The DuckDB twins are
    ``list_sort(list_distinct(shingle_hashes_sql))`` and
    ``contracts.Q_MINHASH_SIGNATURES_SQL``."""
    id_type = dict(docs.dtypes)[id_col]
    mh_schema = ", ".join(f"mh{j} bigint" for j in range(N_PERM))
    out_schema = f"{id_col} {id_type}, sh array<bigint>, {mh_schema}"
    a_consts = np.array(_A, dtype=np.int64)
    b_consts = np.array(_B, dtype=np.int64)

    def kernel(batches):
        import pyarrow as pa

        with np.errstate(over="ignore"):
            for rb in batches:
                if rb.num_rows == 0:
                    continue
                offsets = [0]
                flat = []
                sigs = np.empty((rb.num_rows, N_PERM), dtype=np.int64)
                sig_valid = np.zeros(rb.num_rows, dtype=bool)
                for i, t in enumerate(rb.column(1).to_pylist()):
                    dh = np.unique(_kgram_hashes(t))
                    offsets.append(offsets[-1] + dh.size)
                    if dh.size == 0:
                        continue
                    flat.append(dh)
                    perm = _java_mod(
                        dh[:, None] * a_consts[None, :] + b_consts[None, :],
                        MINHASH_P,
                    )
                    sigs[i] = perm.min(axis=0)
                    sig_valid[i] = True
                values = (
                    np.concatenate(flat) if flat else np.empty(0, dtype=np.int64)
                )
                sh_arr = pa.ListArray.from_arrays(
                    pa.array(offsets, type=pa.int32()), pa.array(values)
                )
                cols = [rb.column(0), sh_arr] + [
                    pa.array(
                        np.where(sig_valid, sigs[:, j], 0), mask=~sig_valid
                    )
                    for j in range(N_PERM)
                ]
                yield pa.record_batch(
                    cols, names=[id_col, "sh", *[f"mh{j}" for j in range(N_PERM)]]
                )

    return docs.select(id_col, text_col).mapInArrow(kernel, out_schema)


def minhash_candidate_pairs(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Distinct unordered candidate pairs sharing ≥1 LSH band bucket: the
    :func:`shingle_sets_with_sigs` pass, then :func:`_band_pairs`."""
    return _band_pairs(shingle_sets_with_sigs(docs, id_col, text_col), id_col)


def _band_pairs(sigs: DataFrame, id_col: str) -> DataFrame:
    """(id_a < id_b) pairs of rows of ``sigs`` (mh0..mh7 columns) that
    share ≥1 band bucket. The band self-join is the shuffle; a hot bucket
    (boilerplate text) is a skew risk — bound it by
    ``spark.sql.adaptive.skewJoin`` plus the downstream exact-jaccard
    verify which is per-pair work.

    Pair-level dedup is the canonical-band filter (same device as
    ``hamming_near_dups``): whether a pair collides in band b is a pure
    function of the two signatures, so each banded row carries its full
    8-int signature and a pair is kept only by the FIRST band where all
    that band's components agree — no ``distinct()`` exchange over the
    candidate stream. The trade is explicit: +64 B of signature payload
    per banded row through the (band, key) exchange buys removing a whole
    exchange+aggregate over the candidate stream, which in the regime LSH
    dedup exists for (web corpora with 30-60% duplication and hot
    boilerplate buckets) is the LARGER relation — and duplicate
    candidates never reach the expensive jaccard-verify stage twice.
    Band keys join as the raw int components (no concat_ws string build).

    Docs without shingles have NULL signatures and are dropped: they
    would otherwise all share one band key and become mutual candidates.
    SQL engines agree for free — a NULL band key never equi-joins."""
    mh = [f"mh{j}" for j in range(N_PERM)]
    n_bands = N_PERM // BAND_SIZE
    sig = sigs.select(id_col, *mh).filter(F.col("mh0").isNotNull())
    band_structs = F.array(
        *[
            F.struct(
                F.lit(bd).alias("band"),
                *[
                    F.col(f"mh{bd * BAND_SIZE + k}").alias(f"k{k}")
                    for k in range(BAND_SIZE)
                ],
            )
            for bd in range(n_bands)
        ]
    )
    banded = sig.select(
        F.col(id_col),
        F.array(*mh).alias("sig"),
        F.explode(band_structs).alias("bk"),
    ).select(
        id_col, "sig", "bk.band", *[f"bk.k{k}" for k in range(BAND_SIZE)]
    )
    a = banded.alias("a")
    b = banded.alias("b")
    keys = ["band", *[f"k{k}" for k in range(BAND_SIZE)]]
    cond = F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    for k in keys:
        cond = cond & (F.col(f"a.{k}") == F.col(f"b.{k}"))

    def _collides(bd):
        c = None
        for k in range(BAND_SIZE):
            eq = F.col("a.sig")[bd * BAND_SIZE + k] == F.col("b.sig")[bd * BAND_SIZE + k]
            c = eq if c is None else c & eq
        return c

    first = F.array_min(
        F.array(
            *[F.when(_collides(bd), F.lit(bd)).otherwise(F.lit(n_bands)) for bd in range(n_bands)]
        )
    )
    return (
        a.join(b, cond)
        .filter(F.col("a.band") == first)
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
    )


#: broadcast cap for the per-doc shingle-set relation (estimated as
#: 8 bytes × total corpus chars, an upper bound on Σ|distinct shingles|·8).
#: Past it, the verify join degrades to a shuffled join of the same shape
#: instead of OOMing the executors on an un-gated broadcast.
SETS_BROADCAST_MAX_BYTES = 256 << 20


def ngram_jaccard_pairs(
    docs: DataFrame,
    pairs: DataFrame | None = None,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    broadcast_sets: bool | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard over candidate pairs (LSH candidates by default):
    |A∩B| / |A∪B| on distinct shingle-hash sets, via array_intersect /
    array_union on sorted distinct arrays (portable: DuckDB list_intersect
    has identical set semantics)."""
    if broadcast_sets is None:
        # size-gate the broadcast: one column-pruned agg over the corpus vs
        # an executor OOM when someone points this at 10^9 docs
        est = 8 * (docs.agg(F.sum(F.length(text_col))).first()[0] or 0)
        broadcast_sets = est <= SETS_BROADCAST_MAX_BYTES
    own_pairs = pairs is None
    # One vectorized Arrow pass gives both the sets and the 8 minhash values
    # that the candidates band off. On the kernel path it runs ONCE: the
    # relation is persisted, its sets collected for the broadcast kernel,
    # and the (small) pair list eagerly checkpointed so the cache can be
    # released before returning the lazy result.
    sets_df = shingle_sets_with_sigs(docs, id_col, text_col)
    if not broadcast_sets:
        sets_df = sets_df.withColumn("n", F.size("sh"))
    elif own_pairs:
        sets_df = sets_df.persist()
    if pairs is None:
        pairs = _band_pairs(sets_df, id_col)
    if broadcast_sets:
        # kernel path: ship the per-doc sorted shingle sets ONCE per worker
        # as a broadcast CSR and stream only (id_a, id_b) pairs through a
        # numpy mark-table kernel. The join alternative replicates two
        # ~2 KB arrays onto EVERY candidate pair (≈4 GB of UnsafeRow copy at
        # 2.5M pairs for a 12 MB relation) and evaluates array_intersect
        # interpreted; measured 2.5× slower than even the r6 searchsorted
        # kernel this replaces.
        # CSR layout: one flat values array + offsets. r7: values are
        # REMAPPED to dense ids 0..U-1 (np.unique) so the kernel can count
        # intersections with a U-byte mark table — O(|B|) lookups per pair
        # instead of the r6 bias + global-searchsorted (~21 comparisons per
        # gathered element), and no 2^41 value-range assumption anywhere.
        # collect(), not toLocalIterator(): the iterator fetches (and
        # computes) partitions one at a time — a serial shingling job per
        # partition, measured 4.9s vs 1s for the same 5k-doc relation.
        # Driver memory is already bounded by the SETS_BROADCAST_MAX_BYTES
        # gate that routed us onto this path.
        rows = sets_df.select(id_col, "sh").collect()
        counts = np.fromiter((len(r[1]) for r in rows), dtype=np.int64, count=len(rows))
        offs = np.concatenate([[0], np.cumsum(counts)])
        values = (
            np.concatenate([np.asarray(r[1], dtype=np.int64) for r in rows])
            if len(rows)
            else np.empty(0, np.int64)
        )
        uniq, dense = (
            np.unique(values, return_inverse=True)
            if values.size
            else (np.empty(0, np.int64), np.empty(0, np.int64))
        )
        dense = dense.astype(np.int32)
        n_universe = int(uniq.size)
        ids_np = np.asarray([r[0] for r in rows])
        # numeric ids → vectorized searchsorted lookup; anything else
        # (strings land as '<U' here, not object) falls back to a dict —
        # per-element Python either way, and the dict raises the loud
        # KeyError contract on unknown ids
        if np.issubdtype(ids_np.dtype, np.number):
            sort_ix = np.argsort(ids_np, kind="stable")
            ids_sorted, ids_perm, index = ids_np[sort_ix], sort_ix, None
        else:
            ids_sorted = ids_perm = None
            index = {r[0]: i for i, r in enumerate(rows)}
        del rows, values, uniq
        bc = docs.sparkSession.sparkContext.broadcast(
            {
                "counts": counts, "offs": offs, "dense": dense, "U": n_universe,
                "ids_sorted": ids_sorted, "ids_perm": ids_perm, "index": index,
            }
        )
        if own_pairs:
            # materialize the (small) candidate list off the cached shingle
            # sets, then release the cache — the returned DataFrame must
            # not pin corpus-sized storage for its whole lazy lifetime
            pairs = pairs.localCheckpoint(eager=True)
            sets_df.unpersist()
        id_a_t = dict(pairs.dtypes)["id_a"]
        id_b_t = dict(pairs.dtypes)["id_b"]
        #: pairs per vectorized flush — the session Arrow batch size is
        #: tuned for image payloads (256 rows), which starves a slim-row
        #: kernel; the kernel COALESCES input batches to this many pairs
        #: before processing, so per-batch fixed costs amortize regardless
        #: of the session batch setting (guide §4.2 "keep batches large").
        FLUSH_PAIRS = 1 << 16

        def kernel(batches):
            import pyarrow as pa

            s = bc.value
            counts, offs, dense = s["counts"], s["offs"], s["dense"]
            ids_sorted, ids_perm, index = s["ids_sorted"], s["ids_perm"], s["index"]
            mark = np.zeros(s["U"], dtype=bool)

            def missing(ids):
                return KeyError(
                    f"ngram_jaccard_pairs: pair ids {list(ids)[:5]!r} are "
                    "not in the shingled corpus — caller-supplied `pairs` "
                    "must reference `docs` rows only"
                )

            def lookup(id_pa):
                vals = id_pa.to_numpy(zero_copy_only=False)
                if index is not None:
                    try:
                        return np.fromiter(
                            (index[x] for x in vals), dtype=np.int64, count=len(vals)
                        )
                    except KeyError:
                        raise missing(x for x in vals if x not in index) from None
                if len(ids_sorted) == 0:
                    raise missing(vals)
                pos = np.searchsorted(ids_sorted, vals)
                pos = np.minimum(pos, len(ids_sorted) - 1)
                if not (ids_sorted[pos] == vals).all():
                    raise missing(np.asarray(vals)[ids_sorted[pos] != vals])
                return ids_perm[pos]

            def process(ia_pa, ib_pa):
                n = len(ia_pa)
                a_ix = lookup(ia_pa)
                b_ix = lookup(ib_pa)
                jac = np.empty(n, dtype=np.float64)
                # group pairs by query doc: stamp its set once, then count
                # membership over the partners' flat gather — O(Σ|B|) total
                order = np.argsort(a_ix, kind="stable")
                sa = a_ix[order]
                group_starts = np.flatnonzero(np.r_[True, sa[1:] != sa[:-1]])
                bounds = np.r_[group_starts, n]
                for s0, e0 in zip(bounds[:-1], bounds[1:]):
                    gi = order[s0:e0]
                    a = sa[s0]
                    av = dense[offs[a] : offs[a] + counts[a]]
                    mark[av] = True
                    pb = b_ix[gi]
                    ln = counts[pb]
                    m = e0 - s0
                    ends = np.cumsum(ln)
                    total = int(ends[-1])
                    flat = np.arange(total, dtype=np.int64) - np.repeat(ends - ln, ln)
                    gathered = dense[np.repeat(offs[pb], ln) + flat]
                    hit = mark[gathered]
                    seg = np.repeat(np.arange(m, dtype=np.int64), ln)
                    inter = np.bincount(seg[hit], minlength=m).astype(np.float64)
                    union = (counts[a] + ln).astype(np.float64) - inter
                    # zero-union (two sub-SHINGLE_K docs) → 0.0 by
                    # convention, same as the shuffled path's guard
                    jac[gi] = np.where(union > 0, inter / np.maximum(union, 1.0), 0.0)
                    mark[av] = False
                return pa.record_batch(
                    [ia_pa, ib_pa, pa.array(jac)], names=["id_a", "id_b", "jaccard"]
                )

            buf_a, buf_b, buffered = [], [], 0
            for rb in batches:
                if rb.num_rows == 0:
                    continue
                buf_a.append(rb.column(0))
                buf_b.append(rb.column(1))
                buffered += rb.num_rows
                if buffered >= FLUSH_PAIRS:
                    yield process(pa.concat_arrays(buf_a), pa.concat_arrays(buf_b))
                    buf_a, buf_b, buffered = [], [], 0
            if buffered:
                yield process(pa.concat_arrays(buf_a), pa.concat_arrays(buf_b))

        out = pairs.select("id_a", "id_b").mapInArrow(
            kernel, f"id_a {id_a_t}, id_b {id_b_t}, jaccard double"
        )
        return out.filter(F.col("jaccard") >= threshold).orderBy("id_a", "id_b")
    # shuffled-join fallback past SETS_BROADCAST_MAX_BYTES: same shape,
    # arrays ride the exchange, |A∪B| = |A| + |B| − |A∩B| (one set op per
    # pair — a materialized union would build an array just for its size)
    a_side = sets_df.select(
        F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"), F.col("n").alias("n_a")
    )
    b_side = sets_df.select(
        F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"), F.col("n").alias("n_b")
    )
    j = pairs.join(a_side, "id_a").join(b_side, "id_b")
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b"))).cast("double")
    union = F.col("n_a").cast("double") + F.col("n_b").cast("double") - inter
    # zero-union (both docs shorter than SHINGLE_K) → 0.0 by convention —
    # the same value the kernel path emits, so the two paths never diverge
    jaccard = F.when(union > 0, inter / union).otherwise(F.lit(0.0))
    return (
        j.select("id_a", "id_b", jaccard.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
        .orderBy("id_a", "id_b")
    )


# ------------------------------------------------------------------ simhash

SIMHASH_BITS = 32
_SPREAD = 2654435761  # Knuth multiplicative spread of the 24-bit poly hash


def _simhash_batch(texts):
    """Scalar Arrow UDF body: one 32-bit SimHash per text. Bit b is set iff
    Σ (2·bit_b(spread(h)) − 1) > 0 over the text's shingle MULTISET, where
    spread(h) = h · _SPREAD mod 2^32. No shingles (``None``, short text)
    gives 0, as in ``simhash_sql``."""
    import pyarrow as pa

    bits = np.arange(SIMHASH_BITS, dtype=np.int64)
    out = np.zeros(len(texts), dtype=np.int64)
    for i, t in enumerate(texts.to_pylist()):
        s = (_kgram_hashes(t) * _SPREAD) % 2**32
        votes = (((s[:, None] >> bits) & 1) * 2 - 1).sum(axis=0)
        out[i] = ((votes > 0).astype(np.int64) << bits).sum()
    return pa.array(out)


def simhash(text: Column) -> Column:
    """32-bit SimHash over the shingle hashes of ``text`` (bigint column):
    a scalar Arrow UDF over :func:`_kgram_hashes`, built per call so that
    importing this module does no work. The UDF never returns NULL; the
    coalesce tells the optimizer so, else a join on the signature infers an
    ``isnotnull`` filter that runs the UDF a second time below it."""
    return F.coalesce(F.arrow_udf(_simhash_batch, "bigint")(text), F.lit(0).cast("long"))


def simhash_sql(col: str) -> str:
    from ..functions.text import shingle_hashes_sql

    sh = shingle_hashes_sql(col)
    spread = f"list_transform({sh}, h -> (h * {_SPREAD}) % {2**32})"
    terms = []
    for b in range(SIMHASH_BITS):
        vote = (
            f"list_aggregate(list_transform({spread}, "
            f"h -> CASE WHEN (CAST(FLOOR(h / {2**b}) AS BIGINT) % 2) = 1 THEN 1 ELSE -1 END), 'sum')"
        )
        terms.append(f"(CASE WHEN {vote} > 0 THEN CAST({2**b} AS BIGINT) ELSE 0 END)")
    return "(" + " + ".join(terms) + ")"


#: above this row count the all-pairs scan is a cartesian bomb; route
#: through LSH buckets instead (recall < 1, documented on the operator)
BRUTE_PAIRS_MAX_ROWS = 20_000


def embedding_near_dups(
    emb: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    method: str = "auto",
    n_rows: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs.

    ``method="brute"`` — exact all-pairs scan (O(n²): the *verification
    kernel*, correct at any threshold but only viable for modest n or
    per-bucket work). ``method="lsh"`` — hyperplane-bucketed candidates +
    exact cosine verify (``similarity.lsh_near_dup_pairs``), the 10^12-scale
    path. ``method="auto"`` picks brute only under ``BRUTE_PAIRS_MAX_ROWS``
    rows; pass ``n_rows`` when the caller already knows the corpus size so
    routing costs nothing — otherwise auto runs a ``count()``, a full scan
    of the corpus before any real work (same hint contract as
    ``hamming_near_dups``). Cosine always computed in double via
    aggregate(zip_with(...)) — JVM-side, no UDF."""
    if method == "auto":
        n = n_rows if n_rows is not None else emb.count()
        method = "brute" if n <= BRUTE_PAIRS_MAX_ROWS else "lsh"
    if method == "lsh":
        from .similarity import lsh_near_dup_pairs

        return lsh_near_dup_pairs(emb, threshold, id_col=id_col, vec_col=vec_col)
    from .similarity import EMB_BROADCAST_MAX_BYTES

    est = emb.agg(F.sum(F.size(vec_col) * 4 + 64)).first()[0] or 0
    if est > EMB_BROADCAST_MAX_BYTES:
        raise ValueError(
            f"embedding_near_dups(method='brute'): table ≈{est >> 20} MiB "
            f"exceeds the {EMB_BROADCAST_MAX_BYTES >> 20} MiB broadcast cap "
            "— use method='lsh'"
        )
    # vectorized Arrow kernel over the broadcast corpus (same device as
    # brute_force_topk): the kernel emits the unrounded sims for a provable
    # ≥ threshold−2e-6 superset; the exact Spark-side round+filter below
    # reproduces the former pair-join expression plan bit-for-bit
    from .similarity import cosine_candidates_kernel

    cand = cosine_candidates_kernel(
        emb, threshold=threshold, id_col=id_col, vec_col=vec_col
    )
    return (
        cand.filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.round("cos_sim", 6).alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
    )


def cosine_expr(a: str, b: str) -> Column:
    """Σaᵢbᵢ / (√Σaᵢ² · √Σbᵢ²) in double precision, left-to-right order."""
    dot = F.aggregate(
        F.zip_with(F.col(a), F.col(b), lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    na = F.sqrt(
        F.aggregate(
            F.col(a), F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
        )
    )
    nb = F.sqrt(
        F.aggregate(
            F.col(b), F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
        )
    )
    return dot / (na * nb)


def connected_components(
    pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b", max_iter: int = 50
) -> DataFrame:
    """Connected components of the near-dup pair graph → one row per node
    ``(doc_id, component)`` where ``component`` is the MIN node id in the
    component — exactly the transitive-closure keeper-selection semantics
    standard in training-data dedup (keep min id per component; A~B, B~C
    must drop B AND C in favor of A even though A,C were never paired).

    Distributed min-label propagation WITH pointer doubling: labels start
    as the node's own id; each round every node takes the min of (its own
    label, its neighbors' labels, its label's label). The third term is the
    path-compression jump — label values are themselves node ids, so one
    extra self-join per round halves the remaining distance to the
    component min, making the round count O(log diameter) instead of
    O(diameter) (the same doubling trick as Kiveris et al., "Connected
    Components in MapReduce and Beyond"; a 10^4-link chain converges in
    ~15 rounds, well under ``max_iter``). Each round is two shuffles
    (edge⋈label + groupBy-min, then label⋈label), lineage truncated per
    round via eager localCheckpoint so the plan doesn't grow with
    iterations. Invariant kept by every term: label(v) is the id of a node
    reachable from v and ≤ v, so the fixpoint is exactly min-of-component.

    Only nodes that appear in ``pairs`` are returned — isolated docs are
    their own keeper by definition and never enter the graph (at 10^12 docs
    the pair graph is ≪ the corpus; joining the full corpus through CC
    would be a needless full-table shuffle).
    """
    # symmetric edge list; labels seeded with each node's own id
    fwd = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    edges = fwd.unionByName(
        pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst"))
    ).distinct().localCheckpoint(eager=True)
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        neigh = (
            edges.join(labels, edges.src == labels.node)
            .groupBy("dst")
            .agg(F.min("label").alias("nlabel"))
        )
        stepped = labels.join(neigh, labels.node == neigh.dst, "left").select(
            "node",
            F.least(F.col("label"), F.coalesce(F.col("nlabel"), F.col("label"))).alias(
                "label"
            ),
        )
        # pointer doubling: label(label(v)) — label values are node ids, so
        # jumping through the label table halves the remaining chain length
        jump = stepped.select(
            F.col("node").alias("jnode"), F.col("label").alias("jlabel")
        )
        new = (
            stepped.join(jump, stepped.label == jump.jnode, "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("jlabel"), F.col("label"))
                ).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new.alias("n")
            .join(labels.alias("o"), F.col("n.node") == F.col("o.node"))
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new
        if changed == 0:
            return labels.select(F.col("node").alias("doc_id"), F.col("label").alias("component"))
    raise RuntimeError(f"connected_components: no fixpoint after {max_iter} rounds")


#: bands for SimHash hamming near-dup (Manku et al., WWW'07 "Detecting
#: Near-Duplicates for Web Crawling"): any pair with hamming distance
#: < SIMHASH_NEAR_BANDS shares at least one band key (pigeonhole), so
#: recall is EXACTLY 1.0 at max_hamming = bands - 1 — unlike MinHash-LSH
#: this multi-index is lossless at its design radius.
SIMHASH_NEAR_BANDS = 4


def _check_pigeonhole(max_hamming: int, bands: int) -> None:
    """Raise before ANY DataFrame is touched (validation-order contract:
    ``simhash_near_dups(None, max_hamming=4)`` must raise ValueError, not
    AttributeError)."""
    if max_hamming >= bands:
        raise ValueError(
            f"max_hamming {max_hamming} breaks the pigeonhole guarantee of "
            f"{bands} bands (must be < bands)"
        )


def _hamming_block_layout(bits: int, blocks: int) -> list[tuple[int, int]]:
    """(offset, width) per block; widths differ by at most 1 and cover all
    ``bits`` (low blocks get the remainder bits)."""
    base, rem = divmod(bits, blocks)
    layout, off = [], 0
    for b in range(blocks):
        w = base + (1 if b < rem else 0)
        layout.append((off, w))
        off += w
    return layout


def _hamming_geometry(
    bits: int, bands: int, max_hamming: int
) -> tuple[list[tuple[int, int]], list[tuple[int, ...]]]:
    """``(layout, subsets)`` of the Manku index: the (offset, width) of each
    of the ``bands`` blocks, and the (bands - max_hamming)-subset of blocks
    that keys each table. Checks the pigeonhole bound first."""
    _check_pigeonhole(max_hamming, bands)
    subsets = list(itertools.combinations(range(bands), bands - max_hamming))
    return _hamming_block_layout(bits, bands), subsets


def choose_hamming_blocks(
    n_rows: int,
    bits: int,
    max_hamming: int,
    max_tables: int = 64,
) -> int:
    """Pick the Manku block count m that minimizes estimated work for
    ``hamming_near_dups`` at ``n_rows`` input rows.

    The generalized index (Manku et al., WWW'07 §3, the multi-table
    variant) splits the hash into m blocks and builds one table per
    (m-h)-subset of blocks, keyed on that subset's concatenation: a pair
    within hamming h differs in at most h blocks, so at least m-h blocks
    match and the table keyed on (a subset of) them captures the pair —
    lossless recall at radius h for EVERY m > h. The trade is explode
    factor C(m,h) rows shuffled vs expected random candidate pairs
    C(n,2)*C(m,h)/2^key_width: wider keys (larger m) kill candidates
    quadratically while the shuffle only grows combinatorially in the
    tables count. Cost model: shuffled row ≈ 100x a codegen pair-eval —
    MEASURED on a 4M-row 62-bit input at local[32]: m=4 (16M-row shuffle
    + ~1e9 pair evals) 8.6s vs m=5 (40M-row shuffle + ~5e6 pairs) 13.4s
    solves to ~0.33us/shuffled-row and ~3.3ns/pair. So the narrow m=h+1
    banding stays optimal to ~1e8 rows and the wide-block geometry takes
    over at corpus scale: h=3/bits=64 picks m=4 below ~3e8 rows, m=5
    (10 tables, ~25-bit keys) at 1e9, m=6 (20 tables, ~31-bit keys)
    around 1e10 — where m=4's ~1e13 candidate pairs would be the r4
    JVM-killer all over again."""
    from math import comb

    best_m, best_cost = max_hamming + 1, float("inf")
    for m in range(max_hamming + 1, min(bits, max_hamming + 9) + 1):
        tables = comb(m, max_hamming)
        if tables > max_tables:
            break
        widths = sorted(w for _, w in _hamming_block_layout(bits, m))
        key_width = sum(widths[: m - max_hamming])  # worst-case (narrowest) key
        cand = tables * (n_rows * (n_rows - 1) / 2.0) / (2.0 ** key_width)
        cost = tables * n_rows * 100.0 + cand
        if cost < best_cost:
            best_m, best_cost = m, cost
    return best_m


def _subset_key_expr(
    hash_c: Column, subset: tuple[int, ...], layout: list[tuple[int, int]]
) -> Column:
    """Concatenated block-subset key (shift/mask, pure codegen)."""
    key, shift = None, 0
    for b in subset:
        off, w = layout[b]
        piece = F.shiftright(hash_c, off).bitwiseAND(F.lit((1 << w) - 1))
        if shift:
            piece = F.shiftleft(piece, shift)
        key = piece if key is None else key.bitwiseOR(piece)
        shift += w
    return key


def _first_colliding_band(
    xor_c: Column, layout: list[tuple[int, int]], subsets: list[tuple[int, ...]]
) -> Column:
    """Index of the FIRST table whose whole block subset collides for a pair
    with hash-xor ``xor_c`` — a pure function of the pair, so filtering
    ``band == first_colliding_band`` deduplicates multi-table emissions
    without any shuffle. Every pair within the design radius collides in ≥1
    table (the pigeonhole contract), so exactly one row survives."""
    first = None
    for t, s in reversed(list(enumerate(subsets))):
        collides = None
        for b in s:
            off, w = layout[b]
            zero = (
                F.shiftright(xor_c, off).bitwiseAND(F.lit((1 << w) - 1)) == F.lit(0)
            )
            collides = zero if collides is None else collides & zero
        first = F.lit(t) if first is None else F.when(collides, F.lit(t)).otherwise(first)
    return first


def banded_signatures(
    df: DataFrame,
    hash_col: str,
    id_col: str = "doc_id",
    bits: int = 64,
    bands: int = 4,
    max_hamming: int | None = None,
    hot_bucket_limit: int | None = 1 << 16,
) -> DataFrame:
    """Manku multi-table banding of an int64 hash column → one row per
    (table, key) posting: ``(id_col, sh, band, key)``. The shared front half
    of every hamming-radius operator here (self-join near-dup, asymmetric
    probe join, persistent index build) — banding once and joining many ways
    is what makes the persistent-index path incremental. Geometry contract
    and the hot-bucket guard are documented on :func:`hamming_near_dups`."""
    if max_hamming is None:
        max_hamming = bands - 1
    layout, subsets = _hamming_geometry(bits, bands, max_hamming)
    sig = df.select(F.col(id_col), F.col(hash_col).alias("sh"))
    banded = sig.select(
        id_col,
        "sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("band"),
                        _subset_key_expr(F.col("sh"), s, layout).alias("key"),
                    )
                    for t, s in enumerate(subsets)
                ]
            )
        ).alias("bk"),
    ).select(id_col, "sh", "bk.band", "bk.key")
    if hot_bucket_limit is not None:
        # Lazy fail-loud guard as a WINDOW count, not an agg+join-back
        # (r7): count(*) over (partition by band, key) needs exactly the
        # exchange+sort on (band, key) that the downstream candidate
        # SortMergeJoin needs anyway — WindowExec preserves its child's
        # partitioning and ordering, so the guard adds ZERO exchanges and
        # ZERO sorts to the join plan. The r6 shape (groupBy count +
        # merge-join back) cost a second full pass over the banded relation
        # per join side: a 40M-row aggregate exchange + two extra sorts at
        # the 4M-row bench point (plans/r07/phash_near_dups_before.txt).
        # assert_true returns NULL on success, so the isNull filter keeps
        # every row while forcing evaluation; WindowExec buffers one bucket
        # at a time, so a hot bucket still fails BEFORE the join emits its
        # quadratic pairs.
        w = Window.partitionBy("band", "key")
        bc_count = F.count(F.lit(1)).over(w)
        banded = banded.withColumn("_bc", bc_count).filter(
            F.assert_true(
                F.col("_bc") <= F.lit(hot_bucket_limit),
                F.concat(
                    F.lit(
                        f"banded_signatures: hot bucket exceeds hot_bucket_limit="
                        f"{hot_bucket_limit} rows (band="
                    ),
                    F.col("band"), F.lit(", key="), F.col("key"),
                    F.lit(", rows="), F.col("_bc"),
                    F.lit(
                        ") — run exact dedup first, widen band keys, or raise "
                        "hot_bucket_limit"
                    ),
                ),
            ).isNull()
        ).drop("_bc")
    return banded


def hamming_near_dups(
    df: DataFrame,
    hash_col: str,
    id_col: str = "doc_id",
    bits: int = 64,
    bands: int | str = 4,
    max_hamming: int | None = None,
    hot_bucket_limit: int | None = 1 << 16,
    n_rows: int | None = None,
) -> DataFrame:
    """Hamming near-duplicate pairs over ANY int64 hash column (SimHash
    signatures, image perceptual hashes — the north-rule image table
    carries ``phash:int64`` exactly for this) → (id_a, id_b, hamming).
    Fully codegen: band keys = shift/mask, candidates = ONE shuffle
    (the input is banded once and that frame equi-joins itself on
    (band, key), so AQE runs the exchange once and reuses it for the other
    side), verification = ``bit_count(xor)`` — no Python anywhere.

    ``bands`` is the Manku block count m: the hash splits into m blocks
    and ONE table is built per (m - max_hamming)-subset of blocks, keyed
    on that subset's concatenation. A pair within hamming ``max_hamming``
    differs in at most that many blocks, so at least m - max_hamming
    blocks match and the table keyed on them captures the pair — recall
    is EXACTLY 1.0 at the design radius for EVERY m > max_hamming (unlike
    MinHash-LSH this multi-index is lossless). m = max_hamming + 1 is the
    classic one-block-per-key banding (C(m,h) = m tables); larger m
    trades a bigger explode factor C(m,h) for quadratically fewer random
    candidates C(n,2)*C(m,h)/2^key_width. ``bands="auto"`` picks m via
    :func:`choose_hamming_blocks` from ``n_rows`` (counted from ``df`` if
    not given; pass it when the input is expensive to count) and requires
    an explicit ``max_hamming``. At 4M 62-bit rows / h=3, auto's m=5
    (10 tables, ~25-bit keys, ~5M candidates) runs the bench query ~10x
    faster than the naive m=4 (15-bit keys, ~1e9 candidates); the
    resulting pair set is IDENTICAL for every valid m — band geometry
    affects only the plan, never the answer. ``max_hamming`` defaults to
    ``bands - 1`` for integer ``bands``.

    Scale contract (r4 post-mortem): the ``bit_count(xor) <= max_hamming``
    filter is applied INSIDE the join stage — hamming is a pure function of
    the pair, so it commutes with pair-level dedup, and placed first it
    keeps the post-join intermediate at |result| instead of |candidates|
    (which is quadratic per bucket: the unfiltered ordering shuffled 2.7e10
    pairs at 4e6 rows and killed the JVM). Pair-level dedup itself is the
    canonical-band filter (keep a pair only in the FIRST table whose block
    subset collides — :func:`_first_colliding_band`), a pure expression in
    the same stage (:func:`_radius_join`): the whole operator is ONE
    shuffle (the (band, key) candidate exchange), with no result-set
    ``dropDuplicates`` exchange.

    ``hot_bucket_limit`` (default 2^16 rows per (table, key) bucket) makes
    skewed key distributions fail LOUDLY instead of by quadratic blowup:
    a bucket of L rows emits C(L,2) candidate pairs, so one degenerate key
    (all-same phash megacluster, low-entropy hash bits) turns the join
    quadratic. The guard is lazy and distributed — a window count per
    bucket over the (band, key) exchange the candidate join needs anyway,
    checked with ``assert_true`` at execution time — and raises naming the
    hot (band, key, count). Remedies: run exact dedup first (same-hash
    megacluster), widen keys (larger ``bands``/more bits), or raise or
    disable the limit (``None``) if the quadratic cost is intended."""
    if bands == "auto":
        if max_hamming is None:
            raise ValueError('bands="auto" requires an explicit max_hamming')
        if n_rows is None:
            n_rows = df.count()
        bands = choose_hamming_blocks(n_rows, bits, max_hamming)
    if max_hamming is None:
        max_hamming = bands - 1
    banded = banded_signatures(
        df, hash_col, id_col=id_col, bits=bits, bands=bands,
        max_hamming=max_hamming, hot_bucket_limit=hot_bucket_limit,
    )
    # merge: co-locate buckets via the (band, key) shuffle; a broadcast here
    # would replicate the full banded table (tables*n rows) to every task
    return _radius_join(
        (banded, id_col, "id_a"), (banded, id_col, "id_b"),
        (bits, bands, max_hamming), strategy="merge",
    ).filter(F.col("id_a") < F.col("id_b"))  # each unordered pair once


def _radius_join(
    left: tuple[DataFrame, str, str],
    right: tuple[DataFrame, str, str],
    geometry: tuple[int, int, int],
    radius: int | None = None,
    strategy: str | None = None,
) -> DataFrame:
    """The one Hamming-radius join tail: pairs of postings within
    ``radius`` → ``(left name, right name, hamming)``.

    Each side is ``(postings, id column, output name)``, where the postings
    are ``(id, sh, band, key)`` rows banded with ``geometry`` = ``(bits,
    bands, max_hamming)`` (:func:`banded_signatures`, or a persisted index
    of them). ``radius`` (default the design ``max_hamming``) may be
    smaller than the design radius: a pair within it still collides in at
    least one table.

    One equi-join on ``(band, key)``; the ``bit_count(xor) <= radius``
    filter sits in the join stage, BEFORE any pair handling (see
    :func:`hamming_near_dups`); pair-level dedup is the canonical-band
    filter. ``strategy`` hints the left side: ``"merge"`` (sort-merge),
    ``"broadcast"`` (left built and broadcast, right streamed map-side),
    ``"shuffle_hash"`` (left is the build side: a bucketed right side keeps
    its layout, and neither side sorts — Spark ≥3 ignores a bucketed
    table's SORTED BY at scan unless a legacy listing conf is on, so
    sort-merge would re-sort it) or None (the optimizer's choice)."""
    layout, subsets = _hamming_geometry(*geometry)
    if radius is None:
        radius = geometry[2]
    lhs, rhs = (
        df.select("band", "key", F.col(id_col).alias(name), F.col("sh").alias(f"{name}_sh"))
        for df, id_col, name in (left, right)
    )
    left_name, right_name = left[2], right[2]
    xor = F.col(f"{left_name}_sh").bitwiseXOR(F.col(f"{right_name}_sh"))
    return (
        rhs.join(lhs.hint(strategy) if strategy else lhs, ["band", "key"])
        .filter(F.bit_count(xor) <= F.lit(radius))
        # canonical-band filter in place of dropDuplicates: a pair colliding
        # in k tables is kept only by the first, so pair dedup costs no
        # shuffle
        .filter(F.col("band") == _first_colliding_band(xor, layout, subsets))
        .select(left_name, right_name, F.bit_count(xor).alias("hamming"))
    )


def simhash_near_dups(
    docs: DataFrame,
    max_hamming: int = SIMHASH_NEAR_BANDS - 1,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """SimHash hamming near-duplicate pairs → (id_a, id_b, hamming ≤
    max_hamming): the ``simhash`` signatures feeding
    ``hamming_near_dups`` at the 32-bit/4-band geometry. Docs shorter than
    the shingle width all hash to signature 0 and pair with each other at
    hamming 0 — the documented contract of ``simhash`` (mirrored by the
    SQL twin); gate on length upstream if that's not wanted."""
    _check_pigeonhole(max_hamming, SIMHASH_NEAR_BANDS)
    sig = docs.select(F.col(id_col), simhash(F.col(text_col)).alias("sh"))
    return hamming_near_dups(
        sig, "sh", id_col=id_col, bits=SIMHASH_BITS, bands=SIMHASH_NEAR_BANDS,
        max_hamming=max_hamming,
    )


def hamming_near_dups_sql(
    sig_sql: str,
    bits: int = 64,
    bands: int = 4,
    max_hamming: int | None = None,
    id_col: str = "doc_id",
    hash_col: str = "sh",
) -> str:
    """DuckDB twin of ``hamming_near_dups`` over an arbitrary signature
    relation ``sig_sql`` (must yield columns ``id_col``, ``hash_col``):
    same shift/mask banding, same popcount verify, any bits/bands
    geometry. The ordering difference vs the Spark plan (the oracle
    DISTINCTs candidates before the hamming filter) is semantically
    irrelevant — hamming is a pure function of the pair — and irrelevant
    to oracle perf at correctness scale."""
    if max_hamming is None:
        max_hamming = bands - 1
    _check_pigeonhole(max_hamming, bands)
    width = bits // bands
    mask = (1 << width) - 1
    bs = ", ".join(str(b) for b in range(bands))
    return f"""
WITH sig AS ({sig_sql}
), bands AS (
  SELECT {id_col} AS _id, {hash_col} AS sh, t.b AS band,
         ({hash_col} >> (t.b * {width})) & {mask} AS key
  FROM sig, UNNEST([{bs}]) AS t(b)
), cand AS (
  SELECT DISTINCT a._id AS id_a, a.sh AS sha, b._id AS id_b, b.sh AS shb
  FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key AND a._id < b._id
)
SELECT id_a, id_b, bit_count(xor(sha, shb)) AS hamming FROM cand
WHERE bit_count(xor(sha, shb)) <= {max_hamming} ORDER BY id_a, id_b
"""


def simhash_near_dups_sql(max_hamming: int = SIMHASH_NEAR_BANDS - 1, base: str = "documents") -> str:
    """DuckDB twin of ``simhash_near_dups``: ``simhash_sql`` signatures
    through ``hamming_near_dups_sql`` at the same geometry."""
    return hamming_near_dups_sql(
        f"SELECT doc_id, {simhash_sql('text')} AS sh FROM {base}",
        bits=SIMHASH_BITS, bands=SIMHASH_NEAR_BANDS, max_hamming=max_hamming,
    )
