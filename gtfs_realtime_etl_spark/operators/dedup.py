"""Deduplication operators for large-scale corpus curation.

Four strategies, all shuffle-frugal by construction:

- :func:`exact_dedup` — digest groupBy; one shuffle on the hash.
- :func:`minhash_lsh_candidates` / :func:`minhash_lsh_dedup` — shingle →
  MinHash signature → banded LSH bucket-join.  The quadratic comparison
  only ever happens WITHIN an LSH bucket (size-capped), so at 100 TB the
  cost is one shuffle on (band_id, band_key) plus tiny per-bucket cross
  products.  :func:`lsh_band_rows` is the one place the banded index
  layout ``(doc_id, band_id, band_key)`` is built.
- :func:`simhash_dedup` — 62-bit SimHash over tokens, bucketed by BANDED
  SEGMENTS (pigeonhole: hamming ≤ d ⇒ at least one of d+1 equal-width
  segments matches exactly), the same bounded-bucket plan shape as the
  MinHash bands.  Round 1 bucketed on a hash *prefix* (≤ 2^16 buckets
  total — bucket size grew linearly with the corpus); segments keep
  buckets O(n / 2^16) PER BAND with a hard per-bucket cap as the
  backstop.
- n-gram Jaccard verification (:func:`jaccard_pairs`) — exact similarity
  on candidate pairs only (never all pairs).

The MinHash family also runs as an incremental fold over arrival
batches: each batch's band rows are probed against the standing index
(:func:`probe_index`: new×index plus new×new) and then appended to it;
:func:`finalize_dedup_candidates` merges the accumulated candidates.
The fold equals the one-shot :func:`minhash_lsh_candidates` under any
batch slicing and any :data:`MAX_BUCKET`:

* a final bucket B = ∪_d B_d emits, across batches, exactly
  { (x, y) : x ∈ B_i, y ∈ B_j, j <= i } = all unordered pairs of B —
  the set the one-shot's per-bucket pair explosion emits;
* the cap is MONOTONE: a bucket's cumulative size only grows, so the
  probe's "skip buckets whose running size already exceeds the cap"
  never discards a pair the one-shot keeps, and finalize re-filters
  every candidate against the FINAL bucket sizes (a SUM-merge monoid
  over per-batch counts), dropping pairs emitted while a bucket was
  still small exactly when the one-shot drops the whole bucket;
* candidates then dedup (a pair may collide in several bands or
  batches) and verify with the same :func:`jaccard_pairs` tail.

The registry form is ``plans/analytics23.py::dedup_incremental_pairs``;
the Structured Streaming form is ``streaming/dedup_fold.py``.

All hashing uses the portable polynomial scheme in
:mod:`gtfs_realtime_etl_spark.functions.hashing` (mod 2^31 - 1), so every
signature is reproducible in ANSI SQL and the driver's DuckDB oracle can
verify the full near-dedup family end-to-end (round 1's xxhash64
signatures were Spark-only and therefore unverifiable).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from gtfs_realtime_etl_spark.functions.hashing import (
    H64_BITS,
    minhash_text_kernel,
    shingle_hash_set_kernel,
    simhash_tokens_kernel,
    winnow_fingerprints_kernel,
)
from gtfs_realtime_etl_spark.functions.text import AZ_LOWER, AZ_UPPER, tokens
from gtfs_realtime_etl_spark.sources.testdata import saturate_scan

#: Buckets larger than this are dropped from candidate generation: a
#: bucket of b docs explodes into b(b-1)/2 pairs, and pathological
#: buckets (boilerplate, empty strings) would otherwise dominate the
#: shuffle.  Standard practice in production near-dedup pipelines; the
#: oracle SQL applies the identical cap.  Every operator here reads it at
#: call time.
MAX_BUCKET = 1000

#: The corpus columns every operator here reads.
TEXT_COL = "text"
ID_COL = "doc_id"


def normalized_text(text: Column) -> Column:
    """Whitespace-collapsed, ASCII-case-folded canonical form for
    hashing (engine-portable; see functions/hashing.py)."""
    return F.translate(F.trim(F.regexp_replace(text, r"\s+", " ")), AZ_UPPER, AZ_LOWER)


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Exact dedup via content-digest groupBy over ``doc_id, text``.

    Returns one row per distinct content: ``content_hash,
    survivor_doc_id, n_copies``.  Single shuffle, keyed on the digest —
    the only strategy that is safe to run on the full 100 TB corpus
    without candidate generation.
    """
    return (
        docs.withColumn("content_hash", F.md5(normalized_text(F.col(TEXT_COL))))
        .groupBy("content_hash")
        .agg(
            F.min(ID_COL).alias("survivor_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def _pair_explode(rows_col: str, fields) -> Column:
    """All ordered in-bucket pairs from a sorted collect_list column —
    JVM higher-order ops, no self-join (which would recompute and
    re-shuffle the signature pipeline)."""

    def _pair(x: Column, y: Column) -> Column:
        return F.struct(*fields(x, y))

    return F.explode(
        F.flatten(
            F.transform(
                F.col(rows_col),
                lambda x, i: F.transform(
                    F.slice(F.col(rows_col), i + F.lit(2), F.size(F.col(rows_col))),
                    lambda y: _pair(x, y),
                ),
            )
        )
    )


def lsh_band_rows(
    docs: DataFrame,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_k: int = 5,
) -> DataFrame:
    """The banded MinHash index layout ``(doc_id, band_id, band_key)``:
    one fused Arrow text→signature pass, then a narrow explode of the
    ``bands`` signature slices.  ``num_hashes`` must divide into
    ``bands`` equal rows-per-band; the band key is the raw slice
    (array<bigint>), not a rehash — portable to the SQL oracle and
    collision-free.  A document's rows depend only on its own text, so
    rows computed batch by batch equal rows computed over the corpus."""
    rows_per_band = num_hashes // bands
    assert rows_per_band * bands == num_hashes, "bands must divide num_hashes"
    sig = saturate_scan(docs).select(
        F.col(ID_COL),
        minhash_text_kernel(num_hashes, shingle_k)(F.col(TEXT_COL)).alias("sig"),
    )
    return sig.select(
        ID_COL,
        F.posexplode(
            F.array(
                *[
                    F.slice(F.col("sig"), i * rows_per_band + 1, rows_per_band)
                    for i in range(bands)
                ]
            )
        ).alias("band_id", "band_key"),
    )


def minhash_lsh_candidates(
    docs: DataFrame,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_k: int = 5,
) -> DataFrame:
    """Candidate near-dup pairs via banded LSH on MinHash signatures.

    Two docs become a candidate pair iff SOME band of their signatures
    is identical.  Plan: :func:`lsh_band_rows` (one kernel pass, narrow
    band explode) → shuffle once on (band_id, band_key) → per-bucket
    pair explosion → distinct pairs.
    """
    banded = lsh_band_rows(docs, num_hashes, bands, shingle_k)
    buckets = (
        banded.groupBy("band_id", "band_key")
        .agg(F.sort_array(F.collect_list(ID_COL)).alias("ids"))
        .filter((F.size("ids") > 1) & (F.size("ids") <= MAX_BUCKET))
    )
    pair = _pair_explode("ids", lambda x, y: [x.alias("id_a"), y.alias("id_b")])
    return (
        buckets.select(pair.alias("p"))
        .select(F.col("p.id_a"), F.col("p.id_b"))
        .distinct()
    )


def jaccard_pairs(
    docs: DataFrame,
    candidates: DataFrame,
    shingle_k: int = 5,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact shingle-Jaccard verification of candidate pairs.

    Joins the candidate pairs back to the distinct shingle-hash sets and
    keeps pairs with Jaccard ≥ threshold.  Only candidates are compared
    — at scale this is the cheap tail of the pipeline.  Jaccard is
    computed on hash SETS (array_intersect/array_union over sorted
    distinct int64), identical to the oracle's
    list_intersect/list_distinct form.

    The involved-doc hash sets are broadcast: the candidate side then
    streams through a broadcast hash join and the (heavy) set arrays
    are never shuffled or duplicated in a shuffle file — a dup-dense
    corpus puts one doc in thousands of pairs.
    """
    # Lazy checkpoints: the candidate set feeds three plan legs (both
    # sides of `involved` plus the verify join) and the hash-set kernel
    # feeds two broadcast builds — without a materialization point the
    # whole upstream pipeline would replay per leg.  Lazy (not eager) so
    # building the DataFrame stays side-effect free.
    candidates = candidates.localCheckpoint(eager=False)
    involved = (
        candidates.select(F.col("id_a").alias(ID_COL))
        .union(candidates.select(F.col("id_b").alias(ID_COL)))
        .distinct()
    )
    sh = F.broadcast(
        docs.join(involved, ID_COL, "left_semi")
        .select(
            F.col(ID_COL),
            shingle_hash_set_kernel(shingle_k)(F.col(TEXT_COL)).alias("sh"),
        )
        .localCheckpoint(eager=False)
    )
    # The candidate rows are skinny (two ids) but each drives an O(set)
    # intersect/union — spread them across the cluster with a PINNED
    # partition count: AQE sizes exchanges by BYTES and would coalesce
    # the post-distinct pairs to one partition, serializing the verify
    # compute (an explicit count is exempt from AQE re-coalescing).
    # Key on BOTH ids: sorted buckets emit a dup cluster's pairs with
    # the cluster minimum as id_a, so id_a alone would funnel a whole
    # cluster's verify work to one task.
    n_tasks = candidates.sparkSession.sparkContext.defaultParallelism
    candidates = candidates.repartition(n_tasks, F.col("id_a"), F.col("id_b"))
    out = (
        candidates.join(
            sh.select(F.col(ID_COL).alias("id_a"), F.col("sh").alias("sh_a")), "id_a"
        )
        .join(sh.select(F.col(ID_COL).alias("id_b"), F.col("sh").alias("sh_b")), "id_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
            / F.size(F.array_union("sh_a", "sh_b")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return out.select("id_a", "id_b", "jaccard")


def minhash_lsh_dedup(
    docs: DataFrame,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_k: int = 5,
    threshold: float = 0.5,
) -> DataFrame:
    """Full near-dedup: LSH candidates → exact Jaccard → verified pairs.

    Duplicate-cluster resolution lives in
    :func:`gtfs_realtime_etl_spark.operators.clusters.connected_components`.
    """
    cands = minhash_lsh_candidates(docs, num_hashes, bands, shingle_k)
    return jaccard_pairs(docs, cands, shingle_k, threshold)


def probe_index(
    new_rows: DataFrame,
    index_rows: DataFrame | None,
) -> DataFrame:
    """Candidate pairs contributed by ONE batch: new×index plus
    new×new, bucket-capped on the RUNNING bucket size (index ∪ new).

    Emits ``(band_id, band_key, id_a, id_b)`` with ``id_a < id_b`` —
    the bucket key is kept so the finalize step can re-filter against
    FINAL bucket sizes (see module doc).  The running-size guard is a
    pure scale protection: sizes only grow, so any bucket it skips
    would be dropped by the finalize filter anyway."""
    keys = ["band_id", "band_key"]
    cumulative = (
        index_rows.unionByName(new_rows) if index_rows is not None else new_rows
    )
    ok = (
        cumulative.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") <= MAX_BUCKET)
        .select(*keys)
    )
    guarded_new = new_rows.join(ok, keys, "left_semi")
    parts = []
    if index_rows is not None:
        parts.append(
            guarded_new.alias("n")
            .join(index_rows.alias("o"), keys)
            .select(
                *keys,
                F.least(F.col("n.doc_id"), F.col("o.doc_id")).alias("id_a"),
                F.greatest(F.col("n.doc_id"), F.col("o.doc_id")).alias("id_b"),
            )
        )
    parts.append(
        guarded_new.alias("a")
        .join(guarded_new.alias("b"), keys)
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            *keys,
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
        )
    )
    return reduce(lambda x, y: x.unionByName(y), parts)


def finalize_dedup_candidates(
    all_candidates: DataFrame,
    index_rows: DataFrame,
) -> DataFrame:
    """Merge step: re-filter accumulated candidates against the FINAL
    bucket sizes (SUM-merge monoid over per-batch counts — computed
    here directly from the full index), then dedup pairs.  This is
    what makes the fold equal the one-shot under the bucket cap: a
    bucket that outgrew the cap AFTER emitting pairs has every one of
    those pairs dropped, exactly as the one-shot drops the bucket."""
    keys = ["band_id", "band_key"]
    final_ok = (
        index_rows.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter((F.col("cnt") >= 2) & (F.col("cnt") <= MAX_BUCKET))
        .select(*keys)
    )
    return (
        all_candidates.join(final_ok, keys, "left_semi")
        .select("id_a", "id_b")
        .distinct()
    )


def simhash_dedup(
    docs: DataFrame,
    hamming_threshold: int = 3,
) -> DataFrame:
    """Near-dup pairs with SimHash hamming distance ≤ ``hamming_threshold``.

    Banded-segment LSH (the standard multi-table scheme): the 62-bit
    SimHash is split into ``hamming_threshold + 1`` equal-width segments;
    by pigeonhole, two hashes within the threshold agree exactly on at
    least one segment, so bucketing per (band_id, segment) finds every
    qualifying pair.  One shuffle on the bucket key; per-bucket pair
    explosion is bounded by :data:`MAX_BUCKET`; cross-band duplicates are
    removed by the final distinct.  Recall is exact by pigeonhole UP TO
    the bucket cap: a duplicate group larger than :data:`MAX_BUCKET` (e.g.
    >1000 identical boilerplate docs) overflows its buckets in every
    band and contributes NO pairs — deliberately, because its pair
    explosion is quadratic; route such groups through
    :func:`exact_dedup` (which has no cap).
    """
    bands = hamming_threshold + 1
    seg_bits = H64_BITS // bands  # trailing bits spill into the last segment
    sh = saturate_scan(docs).select(
        F.col(ID_COL),
        simhash_tokens_kernel()(tokens(F.col(TEXT_COL))).alias("simhash"),
    )
    segments = []
    for i in range(bands):
        lo = i * seg_bits
        width = (H64_BITS - lo) if i == bands - 1 else seg_bits
        segments.append(
            F.shiftrightunsigned("simhash", lo).bitwiseAND(
                F.lit((1 << width) - 1)
            )
        )
    banded = sh.select(
        ID_COL,
        "simhash",
        F.posexplode(F.array(*segments)).alias("band_id", "segment"),
    )
    buckets = (
        banded.groupBy("band_id", "segment")
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col(ID_COL).alias("id"), "simhash"))
            ).alias("rows")
        )
        .filter((F.size("rows") > 1) & (F.size("rows") <= MAX_BUCKET))
    )
    pair = _pair_explode(
        "rows",
        lambda x, y: [
            x["id"].alias("id_a"),
            y["id"].alias("id_b"),
            F.bit_count(x["simhash"].bitwiseXOR(y["simhash"])).alias("hamming"),
        ],
    )
    return (
        buckets.select(pair.alias("p"))
        .select(F.col("p.id_a"), F.col("p.id_b"), F.col("p.hamming"))
        .filter(F.col("hamming") <= hamming_threshold)
        .distinct()
    )


def winnow_candidates(
    docs: DataFrame,
    shingle_k: int = 5,
    window: int = 4,
    min_shared: int = 2,
) -> DataFrame:
    """Candidate pairs sharing >= ``min_shared`` winnowing fingerprints
    (id_a < id_b, with the shared-fingerprint count).

    Same scale skeleton as the other dedup families: explode doc ->
    fingerprints, ONE shuffle on the fingerprint, size-capped buckets
    (a boilerplate fingerprint shared by half the corpus is a stop
    word, not a join key), sorted pair explode, then an integer count
    per pair — no distinct-shuffle, no self-join.

    Fingerprints come from the fused Arrow kernel
    :func:`~gtfs_realtime_etl_spark.functions.hashing.winnow_fingerprints_kernel`:
    the minimum portable shingle hash of every sliding window of
    ``window`` consecutive shingles, deduplicated (Schleimer/Wilkerson/
    Aiken winnowing, the MOSS algorithm).  At least one fingerprint
    falls in every (window + k - 1)-char span, so any sufficiently long
    shared substring yields a shared fingerprint — a positional dedup
    family complementing MinHash (whole-doc set similarity) and SimHash
    (weighted profile similarity).  The oracle replays the same
    polynomial hashes in SQL."""
    fp_col = winnow_fingerprints_kernel(shingle_k, window)(F.col(TEXT_COL))
    fps = saturate_scan(docs).select(
        F.col(ID_COL), F.explode(fp_col).alias("fp")
    )
    buckets = (
        fps.groupBy("fp")
        .agg(F.sort_array(F.collect_list(ID_COL)).alias("ids"))
        .filter((F.size("ids") > 1) & (F.size("ids") <= MAX_BUCKET))
    )
    pair = _pair_explode("ids", lambda x, y: [x.alias("id_a"), y.alias("id_b")])
    return (
        buckets.select(pair.alias("p"))
        .select("p.id_a", "p.id_b")
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
