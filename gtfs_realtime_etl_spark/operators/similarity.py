"""Similarity search over embedding columns (``array<float|double>``).

The exact baseline is the ``ann_cosine_topk`` registry entry
(plans/base.py): broadcast the query vector, cosine via JVM
higher-order functions, a global top-k.  The scale paths here rank
per query with the salted two-phase top-k (:func:`_two_phase_topk` —
no single-task sort, no Python):

- :func:`lsh_bucketed_topk` — data-independent scale path:
  random-hyperplane LSH signs bucket both sides; only same-bucket pairs
  are scored.  Probes neighboring buckets by flipping each sign bit
  once, so recall degrades gracefully.
- :func:`ivf_topk` — data-dependent scale path (inverted-file index):
  a small coarse-quantizer centroid table partitions the corpus into
  cells; the query scans only the ``nprobe`` nearest cells.  Centroids
  come from :func:`centroids_from_labels` (decimal-stabilized per-label
  means — deterministic across engines and cluster layouts; swap in any
  k-means table at production scale).  Cell assignment is a pure
  projection; the probe is one broadcast join on cell_id.

Hyperplanes/centroids are deterministic so results are reproducible
across runs and cluster sizes (and oracle-checkable).

Every operator reads the corpus as (:data:`ID_COL`, :data:`VEC_COL`)
and the queries as (:data:`QUERY_ID_COL`, :data:`QUERY_VEC_COL`).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from gtfs_realtime_etl_spark.functions.exprs import _d, lit_double_array
from gtfs_realtime_etl_spark.functions.vector import cosine_similarity, dot

#: Candidate-pruning fan-out for the salted two-phase top-k (the same
#: pattern as plans/base.py::q_top_bigrams).  Any value yields the
#: same result; it only bounds per-bucket state — raise with volume.
TOPK_SALT = 32

ID_COL = "vec_id"
VEC_COL = "embedding"
QUERY_ID_COL = "query_id"
QUERY_VEC_COL = "qvec"

#: Decimal places of the per-label centroid means.
CENTROID_SCALE = 8


def _two_phase_topk(
    scored: DataFrame,
    k: int,
    score_col: str = "cosine",
    dedup: bool = False,
) -> DataFrame:
    """Salted two-phase per-query top-k — the scale-safe final rank.

    A bare ``row_number() OVER (PARTITION BY query_id)`` funnels ALL n
    scored rows of one query through ONE task's sort (for a single
    query vector: the entire corpus — a 100×-scale killer).  Phase 1
    salts rows into :data:`TOPK_SALT` buckets per query on the unique
    :data:`ID_COL` and keeps each bucket's local top-k (a global top-k
    member is necessarily in its own bucket's top-k); phase 2 ranks the
    ≤ TOPK_SALT·k survivors per query — a trivially small sort.  The
    tie-break (score desc, id asc) is identical at both levels, so the
    result — and the DuckDB oracle's single-window form — match the
    naive rank exactly.

    ``dedup=True`` folds exact-duplicate rows (multi-probe LSH emits
    one row per matching probe) into the phase-1 aggregate via
    ``collect_set`` — no extra dropDuplicates shuffle.
    """
    others = [c for c in scored.columns if c not in (QUERY_ID_COL, ID_COL, score_col)]
    # Struct sorts asc by (-score, id) = (score desc, id asc) — the
    # exact final order; score round-trips through double negation.
    entry = F.struct(
        (-F.col(score_col)).alias("_neg"),
        F.col(ID_COL).alias("_id"),
        *[F.col(c).alias(c) for c in others],
    )
    coll = F.collect_set(entry) if dedup else F.collect_list(entry)
    survivors = (
        scored.withColumn("_salt", F.pmod(F.hash(F.col(ID_COL)), F.lit(TOPK_SALT)))
        .groupBy(QUERY_ID_COL, "_salt")
        .agg(F.slice(F.sort_array(coll), 1, k).alias("_cand"))
        .select(QUERY_ID_COL, F.explode("_cand").alias("_c"))
    )
    restored = {
        QUERY_ID_COL: F.col(QUERY_ID_COL),
        ID_COL: F.col("_c._id").alias(ID_COL),
        score_col: (-F.col("_c._neg")).alias(score_col),
        **{c: F.col(f"_c.{c}").alias(c) for c in others},
    }
    out = survivors.select(*[restored[c] for c in scored.columns])
    w = Window.partitionBy(QUERY_ID_COL).orderBy(F.desc(score_col), F.asc(ID_COL))
    return out.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim))


def lsh_signature(vec: Column, planes: np.ndarray) -> Column:
    """Random-hyperplane sign signature packed into a bigint."""
    sig = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        proj = dot(vec, lit_double_array(plane))
        sig = sig + F.shiftleft(
            F.when(proj >= 0, F.lit(1)).otherwise(F.lit(0)).cast("long"), i
        )
    return sig


def centroids_from_labels(embeddings: DataFrame, dim: int = 64) -> DataFrame:
    """Coarse-quantizer centroids: the per-``label`` mean vector,
    decimal-accumulated per dimension and rounded to
    :data:`CENTROID_SCALE` places — the same cross-engine-exact
    arithmetic as the embedding_centroids query, so an oracle can
    rebuild the identical table.  Returns (cell_id, centroid
    array<double>)."""
    exploded = embeddings.select(
        F.col("label").alias("cell_id"),
        F.posexplode(F.col(VEC_COL).cast("array<double>")),
    ).select("cell_id", (F.col("pos") + 1).alias("dim"), F.col("col").alias("val"))
    per_dim = exploded.groupBy("cell_id", "dim").agg(
        # Engine-exact ROUND (mult-form; see tests/test_engine_round.py).
        (
            F.round(
                (
                    F.sum(F.col("val").cast("decimal(20,10)")).cast("double")
                    / F.count(F.lit(1)).cast("double")
                )
                * F.lit(float(10**CENTROID_SCALE)),
                0,
            )
            / F.lit(float(10**CENTROID_SCALE))
        ).alias("cval")
    )
    return per_dim.groupBy("cell_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "cval"))),
            lambda s: s["cval"],
        ).alias("centroid")
    )


def _l2sq(a: Column, b: Column) -> Column:
    """Squared L2 distance, left-to-right fold (oracle-matchable)."""
    diffs = F.zip_with(a, b, lambda x, y: (x - y) * (x - y))
    return F.aggregate(diffs, F.lit(0.0), lambda acc, v: acc + v)


def _centroid_rows(centroids: "DataFrame | list") -> list:
    """Normalize a centroid table to its collected ``[{cell_id,
    centroid}]`` form — accepts either a DataFrame (e.g.
    ``centroids_from_labels``) or an already-collected list (e.g.
    ``kmeans_fit``).  A coarse quantizer is tiny by definition, so the
    collect is broadcast-class."""
    rows = centroids if isinstance(centroids, list) else centroids.collect()
    return sorted(rows, key=lambda r: r["cell_id"])


def _assign_cells_rows(embeddings: DataFrame, cents: list, vec_col: str) -> DataFrame:
    """Nearest-centroid cell id per vector, as a PURE PROJECTION over an
    already-collected centroid list (:func:`_centroid_rows`).

    A coarse quantizer is tiny by definition, so the centroid table is
    collected to the driver (same cost class as a broadcast) and the
    argmin becomes a narrow Column expression — no shuffle, no join, no
    aggregation; assignment scales linearly with the corpus scan.

    The expression is SQL-PARSED, not Column-built (round-12): the
    k-struct Column form issued hundreds of py4j commands per call and
    unrolled k copies of the fold into codegen; one parsed
    ``transform`` over a literal centroid array is a single round trip
    and one fold instance to compile.  Arithmetic is unchanged —
    ``zip_with`` squared-diff left-fold seeded with double 0, ties on
    the smaller cell id via lexicographic (dist, cell) struct ordering
    — and the D-suffixed repr literals go through Double.parseDouble,
    bit-identical to the lit() doubles of the old form (the
    embedding_pc1 / staged-log2 literal discipline)."""

    emb = embeddings.withColumn("_vec", F.col(vec_col).cast("array<double>"))
    entries = ", ".join(
        "named_struct('cell', {cell}, 'cv', array({vec}))".format(
            cell=int(row["cell_id"]),
            vec=", ".join(_d(x) for x in row["centroid"]),
        )
        for row in cents
    )
    best = F.expr(
        "array_min(transform(array({entries}), c -> "
        "struct(aggregate(zip_with(_vec, c.cv, (x, y) -> (x - y) * (x - y)), "
        "CAST(0 AS DOUBLE), (acc, v) -> acc + v) AS dist, c.cell AS cell)))".format(
            entries=entries
        )
    )
    return emb.withColumn("cell_id", best["cell"]).drop("_vec")


def ivf_topk(
    embeddings: DataFrame,
    query: DataFrame,
    centroids: DataFrame | list,
    k: int = 10,
    nprobe: int = 2,
) -> DataFrame:
    """IVF approximate top-k: score only vectors whose cell is among the
    query's ``nprobe`` nearest centroids.

    Plan shape at scale: the inverted lists are the corpus partitioned
    by cell_id (at rest: a table written with partitionBy(cell_id), so
    the probe is partition pruning, not even a shuffle); here the cell
    assignment is one broadcast join and the probe one equi join on
    cell_id.  Scanned fraction ≈ nprobe / n_cells.
    """
    # ONE centroid materialization serves both consumers: the projection
    # argmin for corpus cell assignment and the query-side probe list.
    # (Re-using the `centroids` DataFrame twice would re-run its full
    # posexplode+groupBy lineage for the probe broadcast.)  Callers that
    # already hold the collected rows (e.g. via a registry-level cache)
    # pass the list directly and skip the collect.
    cents = _centroid_rows(centroids)
    cent_local = embeddings.sparkSession.createDataFrame(
        [(r["cell_id"], [float(v) for v in r["centroid"]]) for r in cents],
        "cell_id int, centroid array<double>",
    )
    assigned = _assign_cells_rows(embeddings, cents, VEC_COL)
    emb = assigned.withColumn("_vec", F.col(VEC_COL).cast("array<double>"))

    q = query.select(
        F.col(QUERY_ID_COL),
        F.col(QUERY_VEC_COL).cast("array<double>").alias("_qvec"),
    )
    qcells = (
        q.crossJoin(F.broadcast(cent_local))
        .withColumn("_dist", _l2sq(F.col("_qvec"), F.col("centroid")))
        .withColumn(
            "_rank",
            F.row_number().over(
                Window.partitionBy(QUERY_ID_COL).orderBy("_dist", "cell_id")
            ),
        )
        .filter(F.col("_rank") <= nprobe)
        .select(QUERY_ID_COL, "_qvec", "cell_id")
    )

    passthrough = [c for c in embeddings.columns if c != VEC_COL]
    scored = emb.join(F.broadcast(qcells), "cell_id").select(
        QUERY_ID_COL,
        *passthrough,
        cosine_similarity(F.col("_vec"), F.col("_qvec")).alias("cosine"),
    )
    return _two_phase_topk(scored, k)


def dim_min_max(embeddings: DataFrame, dim: int = 64) -> tuple[list, list]:
    """Per-dimension (min, max) over the corpus — the scalar-quantizer
    calibration table.  MIN/MAX are order-independent (exact doubles,
    identical on any engine or partitioning), and at 64 dims the result
    is broadcast-class, so it collects like a centroid table."""
    exploded = embeddings.select(
        F.posexplode(F.col(VEC_COL).cast("array<double>"))
    ).select(F.col("pos").alias("dim"), F.col("col").alias("val"))
    rows = (
        exploded.groupBy("dim")
        .agg(F.min("val").alias("mn"), F.max("val").alias("mx"))
        .collect()
    )
    by_dim = {r["dim"]: (r["mn"], r["mx"]) for r in rows}
    mins = [by_dim[i][0] for i in range(dim)]
    maxs = [by_dim[i][1] for i in range(dim)]
    return mins, maxs


def quantize_embeddings(
    embeddings: DataFrame,
    mins: list,
    maxs: list,
    levels: int = 255,
) -> DataFrame:
    """Uint8 scalar quantization into a ``qvec`` column: ``q_i =
    round((x_i − min_i) / (max_i − min_i) · levels)`` per dimension — an
    ``array<int>`` in
    [0, levels] that stores a 64-dim float64 vector in 64 bytes (8×
    smaller), the standard storage tier under an IVF index.  Pure
    Column math (transform over the literal calibration arrays); a
    degenerate dimension (min == max) quantizes to 0."""
    mins_arr = lit_double_array(mins)
    maxs_arr = lit_double_array(maxs)

    def q(x: Column, i: Column) -> Column:
        mn = F.element_at(mins_arr, i + 1)
        mx = F.element_at(maxs_arr, i + 1)
        return (
            F.when(mx > mn, F.round((x - mn) / (mx - mn) * F.lit(float(levels))))
            .otherwise(F.lit(0.0))
            .cast("int")
        )

    return embeddings.withColumn(
        "qvec", F.transform(F.col(VEC_COL).cast("array<double>"), q)
    )


def dequantize(
    qvec: Column, mins: list, maxs: list, levels: int = 255
) -> Column:
    """Inverse of :func:`quantize_embeddings` (array<double>): the
    reconstruction the query-time scorer sees."""
    mins_arr = lit_double_array(mins)
    maxs_arr = lit_double_array(maxs)
    return F.transform(
        qvec,
        lambda x, i: F.element_at(mins_arr, i + 1)
        + x.cast("double")
        / F.lit(float(levels))
        * (F.element_at(maxs_arr, i + 1) - F.element_at(mins_arr, i + 1)),
    )


def lsh_bucketed_topk(
    embeddings: DataFrame,
    query: DataFrame,
    k: int = 10,
    n_planes: int = 12,
    dim: int = 64,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: score only vectors sharing an LSH bucket with
    the query or in a bucket at hamming distance 1 from it (multi-probe).

    Bucket count is 2^n_planes; expected bucket size n/2^n_planes keeps
    per-bucket work tiny at scale, and the bucket join is one shuffle
    keyed on the signature.
    """
    planes = _hyperplanes(dim, n_planes, seed)
    passthrough = [c for c in embeddings.columns if c != VEC_COL]
    emb = embeddings.withColumn(
        "_vec", F.col(VEC_COL).cast("array<double>")
    ).withColumn("bucket", lsh_signature(F.col("_vec"), planes))

    q = query.select(
        F.col(QUERY_ID_COL), F.col(QUERY_VEC_COL).cast("array<double>").alias("_qvec")
    ).withColumn("qbucket", lsh_signature(F.col("_qvec"), planes))
    # Probe the exact bucket plus every 1-bit-flip neighbor.
    probes = F.array(
        F.col("qbucket"),
        *[
            F.col("qbucket").bitwiseXOR(F.lit(1 << i)).cast("long")
            for i in range(n_planes)
        ],
    )
    q = q.select(QUERY_ID_COL, "_qvec", F.explode(probes).alias("qbucket"))

    scored = emb.join(
        F.broadcast(q), emb["bucket"] == q["qbucket"]
    ).select(
        QUERY_ID_COL,
        *passthrough,
        cosine_similarity(F.col("_vec"), F.col("_qvec")).alias("cosine"),
    )
    # dedup=True: multi-probe emits one identical row per matching
    # probe; collect_set folds them inside the phase-1 aggregate.
    return _two_phase_topk(scored, k, dedup=True)


# ---------------------------------------------------------------------------
# Product quantization (PQ) with asymmetric distance computation (ADC)
# — the memory-bound ANN scale path (Jégou et al., "Product
# Quantization for Nearest Neighbor Search", TPAMI 2011).  The corpus
# is stored as M small codeword indices per vector (here M bytes); a
# query scores a vector by summing M table lookups instead of a
# dim-wide dot product.  At 100 TB this is what makes exhaustive
# re-ranking feasible: the codes table is dim/M × smaller than the
# vectors and the per-vector cost is M additions.
#
# Everything is deterministic and fold-ordered so a SQL oracle can
# replay encoding and ADC bit-for-bit (see plans/analytics5.py).
# ---------------------------------------------------------------------------


def pq_codebook_from_ids(
    embeddings: DataFrame,
    ids: "list[int]",
    n_subspaces: int,
) -> "list[list[list[float]]]":
    """Deterministic sampled PQ codebook: ``codebook[m][c]`` is subvector
    ``m`` of the vector whose id is the c-th smallest in ``ids``.

    Sampled (untrained) codebooks are the classic PQ baseline; swap in
    per-subspace k-means (``operators/kmeans.kmeans_fit`` over each
    slice) for a trained quantizer at production scale — the encode and
    ADC paths below take any codebook list.  The collect is K rows of
    one vector each (broadcast-class, same cost posture as
    ``_centroid_rows``), and the id filter pushes down to the scan.
    """
    rows = {
        r[0]: [float(v) for v in r[1]]
        for r in embeddings.filter(F.col(ID_COL).isin([int(i) for i in ids]))
        .select(ID_COL, VEC_COL)
        .collect()
    }
    missing = sorted(set(int(i) for i in ids) - set(rows))
    if missing:
        raise ValueError(f"codebook ids not present in corpus: {missing}")
    ordered = [rows[i] for i in sorted(set(int(i) for i in ids))]
    dim = len(ordered[0])
    if dim % n_subspaces:
        raise ValueError(f"dim {dim} not divisible into {n_subspaces} subspaces")
    d_sub = dim // n_subspaces
    return [
        [vec[m * d_sub : (m + 1) * d_sub] for vec in ordered]
        for m in range(n_subspaces)
    ]


def pq_adc_topk(
    embeddings: DataFrame,
    query: DataFrame,
    codebook: "list[list[list[float]]]",
    k: int = 10,
) -> DataFrame:
    """PQ/ADC approximate top-k: rank by the asymmetric distance
    ``sum_m l2sq(q_m, codebook[m][code(v, m)])`` — the query stays
    exact, the corpus is quantized.

    Plan shape: the per-query distance tables (M×K doubles — the whole
    point of ADC) are computed DRIVER-SIDE from the collected query
    rows (queries are few by contract, same posture as the IVF centroid
    collect); the corpus side is one scan → per-row code assignment +
    M table lookups → salted two-phase top-k.  One shuffle (the top-k
    aggregate), no join.

    Corpus scoring is a vectorized numpy ``mapInPandas`` kernel
    (:func:`_pq_adc_scores_kernel`): the corpus's M·K codeword
    distances are M·K fused array ops per Arrow batch.  A Column form
    plans the code assignment as ~M·K·d_sub interpreted expression
    nodes that Catalyst cannot codegen (measured 42× slower than DuckDB
    on the same shape).  The ``ann_pq_topk`` oracle pins the kernel
    bit-for-bit (``tests/test_pq_kernel_parity.py``), and
    ``tests/test_dedup_similarity.py`` checks its ADC distances against
    exact L2 under a full codebook.

    Fold-order contract (oracle-matchable): per-subspace l2sq
    accumulates left-to-right seeded 0.0 (the kernel accumulates
    per-dimension into a zeroed array — the same IEEE op order), ties
    in the code argmin break to the lowest codeword index, and the M
    ADC terms fold in subspace order seeded 0.0.
    """
    d_sub = len(codebook[0][0])
    qrows = query.select(
        F.col(QUERY_ID_COL), F.col(QUERY_VEC_COL).cast("array<double>").alias("_q")
    ).collect()

    def l2sq_py(a: "list[float]", b: "list[float]") -> float:
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + (x - y) * (x - y)
        return acc

    passthrough = [c for c in embeddings.columns if c != VEC_COL]
    # ADC lookup tables: qdist[m][c] = l2sq(q_m, codebook[m][c]).
    qtables = []
    for qr in qrows:
        qv = [float(v) for v in qr["_q"]]
        qtables.append(
            (
                qr[QUERY_ID_COL],
                [
                    [l2sq_py(qv[m * d_sub : (m + 1) * d_sub], cw) for cw in subbook]
                    for m, subbook in enumerate(codebook)
                ],
            )
        )

    scored = _pq_adc_scores_kernel(embeddings, qtables, codebook, query, passthrough)
    topk = _two_phase_topk(scored, k, score_col="_negd")
    return topk.select(
        QUERY_ID_COL,
        *passthrough,
        (-F.col("_negd")).alias("adc_dist"),
        "rank",
    )


def _pq_adc_scores_kernel(
    embeddings: DataFrame,
    qtables: "list[tuple[object, list[list[float]]]]",
    codebook: "list[list[list[float]]]",
    query: DataFrame,
    passthrough: "list[str]",
) -> DataFrame:
    """Corpus-side PQ scoring as a vectorized Arrow kernel: one numpy
    pass per batch computes every row's codeword assignment (argmin of
    per-dimension-accumulated squared distances — first-occurrence
    argmin == lowest-index tie-break) and each query's ADC distance
    (per-subspace accumulation into a zeroed array == the oracle's
    seeded left fold).  Output is (query_id, *passthrough, _negd)."""
    import pandas as pd
    from pyspark.sql.types import DoubleType, StructField, StructType

    books = np.asarray(codebook, dtype=np.float64)  # M × K × d_sub
    n_sub, n_code, d_sub = books.shape
    tables = [(qid, np.asarray(qd, dtype=np.float64)) for qid, qd in qtables]
    emb_fields = {f.name: f for f in embeddings.schema.fields}
    qid_field = next(f for f in query.schema.fields if f.name == QUERY_ID_COL)
    out_schema = StructType(
        [StructField(QUERY_ID_COL, qid_field.dataType, True)]
        + [emb_fields[c] for c in passthrough]
        + [StructField("_negd", DoubleType(), True)]
    )

    def score(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            mat = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf[VEC_COL]]
            )
            n = mat.shape[0]
            codes = np.empty((n_sub, n), dtype=np.int64)
            for m in range(n_sub):
                sub = mat[:, m * d_sub : (m + 1) * d_sub]
                dk = np.zeros((n, n_code), dtype=np.float64)
                for t in range(d_sub):
                    diff = sub[:, t, None] - books[m, None, :, t]
                    dk += diff * diff
                codes[m] = np.argmin(dk, axis=1)
            base = pdf[list(passthrough)]
            blocks = []
            for qid, qd in tables:
                dist = np.zeros(n, dtype=np.float64)
                for m in range(n_sub):
                    dist = dist + qd[m][codes[m]]
                blk = base.copy()
                blk.insert(0, QUERY_ID_COL, qid)
                blk["_negd"] = -dist
                blocks.append(blk)
            yield pd.concat(blocks, ignore_index=True) if len(blocks) > 1 else blocks[0]

    return embeddings.select(*passthrough, VEC_COL).mapInPandas(
        score, schema=out_schema
    )
