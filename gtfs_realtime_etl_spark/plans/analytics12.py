"""Sixteenth query bank: lossless set-similarity join, KMV distinct
sketch, multinomial naive-Bayes scoring, RAKE keyphrase extraction,
and the feature-hashing trick.

- ``setsim_join`` — EXACT Jaccard >= t set-similarity self-join via
  prefix filtering (the AllPairs / PPJoin family: Bayardo et al.
  WWW'07, Xiao et al. WWW'08).  Unlike ``dedup_ngram_jaccard`` (whose
  ``(source, len_bucket)`` blocking is a lossy heuristic that can MISS
  cross-block pairs), prefix filtering is LOSSLESS: order each doc's
  shingle set by ascending global document frequency (rare first) and
  keep only the first ``n - ceil(t*n) + 1`` tokens as the candidate
  key.  Theorem (no false negatives): if J(x,y) >= t then
  |x∩y| >= ceil(t*|x|) and >= ceil(t*|y|), so the globally-smallest
  common token cannot fit in either suffix (each holds ceil(t*n)-1
  tokens) — it lands in BOTH prefixes and the equi-join on prefix
  tokens finds the pair.  False positives are removed by an exact
  ``array_intersect`` verify.  The threshold is the exact rational
  ``SETSIM_NUM/SETSIM_DEN`` — every comparison is integer
  cross-multiplication, never a float.  Scale shape: one shuffle for
  document frequencies, one for the per-doc sort, one equi-join on
  prefix tokens whose buckets are df-bounded BY CONSTRUCTION (prefixes
  preferentially hold the rarest tokens — unrelated docs share only
  common tokens, which live in the suffixes and never generate
  candidates); a length filter (t*|x| <= |y| <= |x|/t) prunes
  candidates before the verify.  At 100 TB one would add PPJoin's
  positional filter on top — same plan skeleton.  Oracle: the
  quadratic token-join form (exact, no prefix).  Threshold regime
  note, MEASURED: prefix length is ``(1-t)*n + 1``, so the candidate
  volume is Σ_tok df_prefix(tok)² — on this synthetic corpus (a
  ~31-word vocabulary, so even "rare" shingles have df in the
  hundreds and Zipf pruning has nothing to bite on) t = 1/2 put half
  of every set in the prefix and cost 305 s at sf0.1; t = 9/10 (the
  near-dup regime this join is actually used for, and the same 25
  planted pairs at sf0.01 — min pair J is 0.9286) keeps the prefix at
  ~10% of each set.  On a real Zipfian corpus lower thresholds
  re-become viable because prefixes then hold genuinely rare tokens.
  Measured funnel at sf0.1 / t=9/10 (5,000 docs, ~204 hashed shingles
  each): 104,901 prefix rows -> 656,678 join matches after the
  length+positional filters (2,566,878 without the positional filter)
  -> 410,703 distinct candidate pairs -> exact verify; 5.5 s
  end-to-end on local[32].
- ``kmv_distinct`` — K-minimum-values distinct-count sketch
  (Bar-Yossef et al. RANDOM'02) per event type, with its exact twin
  riding the hash gate: h = first 40 bits of md5 (engine-exact via the
  0x-cast idiom; 40 bits keeps ``(K-1)*2**40`` inside BIGINT so the
  estimator is pure integer arithmetic — at true 100 TB cardinalities
  widen to 60 bits and a DECIMAL(38,0) numerator), bottom-K of the
  DISTINCT hash values via the salted two-phase window idiom (local
  bottom-K per ``(event_type, h % SALT)``, final bottom-K over
  <= SALT*K survivors — never a single-task sort of a whole group),
  estimate ``(K-1)*2**40 div h_(K)``.  Two theorem-verdict columns:
  ``within_bound`` (|est - exact| <= 25% — ~2.8 sd at K=128) and
  ``merge_consistent``, which PROVES sketch mergeability in-plan: the
  bottom-K of the union of the two per-half bottom-K sketches
  (user_id parity halves) must equal the global sketch — exactly the
  property that makes KMV a one-pass partial aggregate at scale.
- ``naive_bayes_lang`` — multinomial naive-Bayes language classifier
  with add-1 smoothing, trained on even doc_ids and scored on odd
  doc_ids, reported as a confusion matrix.  Every log-likelihood is an
  integer micro-bit (``floor(1e6 * portable_log2(n) + 0.5)``), so
  per-document score sums are order-free integer sums — engine-exact
  argmax (ties broken by lang ascending).  The per-token partial
  ``c_dt * (plog2m(c_lt + 1) - plog2m(N_l + V))`` decomposes the
  smoothed likelihood so unseen (lang, token) pairs cost a left-join
  NULL, never a dense vocab x lang materialization.  The 5-row
  language dim rides a broadcast (plan-guard allowlisted).  Corpus
  note: the synthetic ``lang`` labels carry almost no lexical signal
  (~31-word shared vocabulary), so the confusion matrix hovers near
  the base rate — the operator's correctness is pinned by the oracle
  hash gate and an exact pure-Python replica in the tests, not by
  accuracy.
- ``keyphrase_rake`` — RAKE keyphrase extraction (Rose et al. 2010),
  simplified deterministically: phrase boundaries are stopwords and
  any token that is not purely ``[a-z]+`` after ASCII folding; word
  freq = occurrences in candidate phrases, word degree = sum of
  containing-phrase lengths; phrase score is the RATIO-OF-SUMS variant
  ``sum(deg) * 1e6 div sum(freq)`` so it stays exact integer (classic
  RAKE sums per-word ratios — a float).  One token shuffle for the
  running-boundary-count phrase ids, one word-stat shuffle, one join
  back over DISTINCT phrases only.
- ``feature_hashing`` — the hashing trick (Weinberger et al. ICML'09):
  project the corpus CHARACTER-SHINGLE vocabulary into ``FH_BUCKETS``
  md5 buckets and report the collision profile (top buckets by
  distinct-shingle load, with corpus-level buckets_used / vocab_size /
  collision_ppm riding every row).  Shingles, not word tokens: the
  synthetic corpus has a ~31-word vocabulary, which would make the
  collision profile degenerate at any realistic bucket count — the
  shingle vocabulary is thousands wide, so the profile exercises the
  birthday regime the trick actually lives in.  The global window runs
  over the bucket table, which is <= FH_BUCKETS rows by construction —
  never over the corpus.

Reference scope note: the reference (smohiudd/gtfs-realtime-etl) has
no analytics surface of this kind; these are driver-mandated
LLM-pipeline / warehouse extensions (SURVEY.md §7 step 7).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gtfs_realtime_etl_spark.functions.hashing import (
    BASE_A,
    BASE_B,
    H64_SHIFT,
    MOD,
    _pow_vec,
    shingle_hash64_set_kernel,
    token_hash64_set_kernel,
)
from gtfs_realtime_etl_spark.functions.stats import (
    portable_int_log2_sql,
    portable_int_log2_staged,
)
from gtfs_realtime_etl_spark.functions.text import (
    AZ_LOWER,
    AZ_UPPER,
    STOPWORDS,
    char_shingles,
    tokens,
)
from gtfs_realtime_etl_spark.plans.base import SQL_TOKS
from gtfs_realtime_etl_spark.plans.staging import stage_to_tmp
from gtfs_realtime_etl_spark.sources.testdata import load_testdata


#: DuckDB twin of functions.text.char_shingles over the `text` column
#: (ASCII fold + all k-char windows; short texts yield one whole-text
#: shingle) — kept in lockstep with plans.base.Q_DEDUP_NGRAM_*.
_SQL_SHINGLES = (
    "list_transform(range(1, GREATEST(length(text) - {km1}, 1) + 1), "
    "i -> substr(translate(text, '{u}', '{l}'), i, {k}))"
)


def _h40(col) -> F.Column:
    """First 40 bits of md5 as a BIGINT — engine-exact (DuckDB twin:
    ``CAST(concat('0x', substr(md5(x), 1, 10)) AS BIGINT)``)."""
    return F.conv(F.substring(F.md5(col), 1, 10), 16, 10).cast("long")


def _sql_h40(expr: str) -> str:
    return f"CAST(concat('0x', substr(md5({expr}), 1, 10)) AS BIGINT)"


def _microbits(lg) -> F.Column:
    """Integer micro-bits — ``floor(1e6·lg + 0.5)`` as BIGINT — over an
    already-staged portable log2 column (safe to sum in any order; the
    ndcg_report / link_prediction idiom).  Round-12: the log2 itself
    now comes from ``portable_int_log2_staged`` (bit-identical, grid
    pin in tests/test_functions.py) instead of a per-site Column
    Horner tree."""
    return F.floor(F.lit(1_000_000.0) * lg + F.lit(0.5)).cast("long")


# ---------------------------------------------------------------------------
# setsim_join
# ---------------------------------------------------------------------------

SETSIM_K = 5  # shingle width (same alphabet as dedup_ngram_jaccard)
SETSIM_NUM = 9  # Jaccard threshold t = NUM/DEN, exact rational
SETSIM_DEN = 10


def _sql_shingle_hashes64(text_expr: str, k: int = SETSIM_K) -> str:
    """DuckDB emitter of
    :func:`~gtfs_realtime_etl_spark.functions.hashing.shingle_hash64_set_kernel`
    (pre-distinct): 62-bit composite window hashes (h = hA * 2^31 + hB
    over BASE_A/BASE_B, the token_hash64 composition) of
    ``translate(text_expr)``.  62 bits, not the family's plain 31: a
    fresh-content corpus reaches ~10^7-10^8 distinct shingles, where a
    31-bit space produces millions of colliding PAIRS — each a spurious
    candidate the verify stage must reject."""

    t = f"translate({text_expr}, '{AZ_UPPER}', '{AZ_LOWER}')"

    def _terms(base: int) -> str:
        pw = _pow_vec(base, k)
        return " + ".join(
            f"CAST(ascii(substr({t}, i + {j}, 1)) AS BIGINT)"
            f" * {int(pw[j])}"
            for j in range(k)
        )

    return (
        f"list_transform(range(1, greatest(length({t}) - {k - 1}, 1) + 1), "
        f"i -> (({_terms(BASE_A)}) % {MOD}) * {H64_SHIFT}"
        f" + (({_terms(BASE_B)}) % {MOD}))"
    )


def setsim_pairs(
    documents: DataFrame, token_mode: str = "shingle"
) -> DataFrame:
    """Lossless prefix-filtered exact Jaccard >= t self-join over any
    ``(doc_id, text)`` frame (module doc).

    Sets are HASHED tokens (62-bit composite, engine-exact): every
    downstream shuffle, sort key, and array_intersect runs on longs.
    ``token_mode="shingle"`` (the oracle-gated registry form) compares
    5-char shingle sets; ``token_mode="word"`` compares whitespace-
    token sets.  TOKEN CHOICE IS THE SCALE CHOICE: a k-char shingle
    vocabulary is capped at alphabet^k (26^5 ~ 12M; 16^5 ~ 1M on hex
    content), so as the corpus grows every shingle's df rises
    LINEARLY and prefix filtering loses its bite — measured as a
    ~400M-row candidate explosion on a 50k-doc md5-hex corpus.  Word
    vocabularies grow with the corpus (Zipf), keeping rare-first
    prefixes rare; that is the form AllPairs/PPJoin systems run at
    scale, and the one the 50k scale smoke exercises.  Hash collisions
    merge tokens deterministically in BOTH engines, so parity is by
    construction."""

    spark = documents.sparkSession
    n_tasks = spark.sparkContext.defaultParallelism
    # Spread BEFORE shingling (the dedup_ngram_jaccard discipline),
    # then hash via the Arrow kernel — a Column form walks the document
    # with per-window substring calls, which are O(position) scans on
    # UTF-8 strings: O(n^2) per doc, minutes at the 50k x 1,280-char
    # smoke scale; the numpy kernel is one vectorized window matmul.
    folded = documents.select("doc_id", "text").repartition(
        n_tasks, "doc_id"
    )
    if token_mode == "word":
        sh_col = token_hash64_set_kernel()(tokens(F.col("text")))
    else:
        sh_col = shingle_hash64_set_kernel(SETSIM_K)(F.col("text"))
    sets = (
        folded.select("doc_id", sh_col.alias("sh"))
        .select("doc_id", "sh", F.size("sh").cast("long").alias("n"))
        # Pin the hashed-set projection ONCE: without a barrier,
        # CollapseProject inlines the hash computation into every
        # consumer (df build, prefix probe, both verify sides) —
        # measured 30-45 s per consumer at sf0.1 for the HOF form vs
        # one projection's cost.  The checkpoint also preserves the
        # doc_id hash partitioning, so the prefix-rank window below
        # reuses this exchange instead of adding one.
        .localCheckpoint(eager=False)
    )
    tok = sets.select("doc_id", "n", F.explode("sh").alias("tok"))
    # Corpus-vocabulary document frequencies.  NOT broadcast-hinted:
    # the vocabulary GROWS with the corpus (a fresh-content 100k-doc
    # smoke already has ~50M distinct shingle hashes — a forced
    # broadcast would OOM the driver); AQE auto-broadcasts when the
    # table is actually small, as it is at the bench scales.
    df_tok = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    # Global token order (df asc, tok asc) realized as a PER-DOC rank
    # window — it reuses the doc_id exchange already pinned above, and
    # never builds, sorts, or re-explodes per-doc arrays (the previous
    # collect_list/sort_array/slice chain cost ~24 s at sf0.1 on its
    # own).  Prefix p = n - ceil(t*n) + 1, ceil in exact integers.
    w_doc = Window.partitionBy("doc_id").orderBy("df", "tok")
    pref = (
        tok.join(df_tok, "tok")
        .withColumn("rnk", F.row_number().over(w_doc).cast("long"))
        .filter(
            F.col("rnk")
            <= F.col("n")
            - F.expr(
                f"(n * {SETSIM_NUM} + {SETSIM_DEN - 1}) div {SETSIM_DEN}"
            )
            + 1
        )
        .select("doc_id", "n", "tok", "rnk")
    )
    a, b = pref.alias("a"), pref.alias("b")
    # PPJoin's positional filter rides the join: a match at ranks
    # (i, j) bounds the overlap by 1 + min(n_a - i, n_b - j), which
    # must reach alpha = ceil(t/(1+t) * (n_a + n_b)).  Lossless: for a
    # true pair the globally-smallest common token c1 satisfies the
    # bound (every common token ranks >= c1 in both docs), so the pair
    # always survives at c1's match row.
    cand = (
        a.join(
            b,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            # Length filter: J >= t forces t*|x| <= |y| both ways.
            & (F.col("a.n") * SETSIM_NUM <= F.col("b.n") * SETSIM_DEN)
            & (F.col("b.n") * SETSIM_NUM <= F.col("a.n") * SETSIM_DEN)
            # Positional filter, integer cross-multiplied.
            & (
                (
                    F.lit(1)
                    + F.least(
                        F.col("a.n") - F.col("a.rnk"),
                        F.col("b.n") - F.col("b.rnk"),
                    )
                )
                * (SETSIM_NUM + SETSIM_DEN)
                >= SETSIM_NUM * (F.col("a.n") + F.col("b.n"))
            ),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    sa = sets.select(
        F.col("doc_id").alias("doc_a"),
        F.col("sh").alias("ta"),
        F.col("n").alias("n_a"),
    )
    sb = sets.select(
        F.col("doc_id").alias("doc_b"),
        F.col("sh").alias("tb"),
        F.col("n").alias("n_b"),
    )
    verified = (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_a",
            "n_b",
            F.size(F.array_intersect("ta", "tb")).cast("long").alias("n_inter"),
        )
        .withColumn("n_union", F.col("n_a") + F.col("n_b") - F.col("n_inter"))
        .filter(
            F.col("n_inter") * SETSIM_DEN >= SETSIM_NUM * F.col("n_union")
        )
    )
    return verified.select(
        "doc_a",
        "doc_b",
        "n_a",
        "n_b",
        "n_inter",
        F.expr("n_inter * 1000000L div n_union").alias("jaccard_ppm"),
    )


def q_setsim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry: setsim_pairs over the documents table."""
    (documents,) = load_testdata(spark, sf_dir, "documents")
    return setsim_pairs(documents.select("doc_id", "text"))


def _setsim_sql() -> str:
    sh = _sql_shingle_hashes64("text", SETSIM_K)
    return f"""
WITH docs AS (
  SELECT doc_id, list_distinct({sh}) AS sh FROM documents
),
n AS (SELECT doc_id, CAST(len(sh) AS BIGINT) AS n FROM docs),
tok AS (SELECT doc_id, unnest(sh) AS tok FROM docs),
ip AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(COUNT(*) AS BIGINT) AS n_inter
  FROM tok a JOIN tok b ON a.tok = b.tok AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, na.n AS n_a, nb.n AS n_b, n_inter,
       CAST(n_inter * 1000000 // (na.n + nb.n - n_inter) AS BIGINT)
         AS jaccard_ppm
FROM ip
JOIN n na ON ip.doc_a = na.doc_id
JOIN n nb ON ip.doc_b = nb.doc_id
WHERE n_inter * {SETSIM_DEN} >= {SETSIM_NUM} * (na.n + nb.n - n_inter)
"""


# ---------------------------------------------------------------------------
# kmv_distinct
# ---------------------------------------------------------------------------

KMV_K = 128
KMV_SALT = 16
_H40_SPACE = 1 << 40


def _bottom_k(dh: DataFrame, keys: list[str], k: int) -> DataFrame:
    """Salted two-phase bottom-k of distinct h per key group: local
    bottom-k per (keys, h % SALT), final bottom-k over <= SALT*k
    survivors — the q_top_bigrams idiom, inverted."""
    w_local = Window.partitionBy(
        *keys, (F.col("h") % KMV_SALT).alias("_salt")
    ).orderBy("h")
    loc = (
        dh.withColumn("_rn", F.row_number().over(w_local))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )
    w_final = Window.partitionBy(*keys).orderBy("h")
    return (
        loc.withColumn("_rn", F.row_number().over(w_final))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def q_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV distinct sketch + exact twin + mergeability theorem (module
    doc)."""
    (events,) = load_testdata(spark, sf_dir, "events")
    hashed = events.select(
        "event_type",
        (F.col("user_id") % 2).alias("parity"),
        _h40(F.col("user_id").cast("string")).alias("h"),
    )
    dh = hashed.select("event_type", "h").distinct()
    bot = _bottom_k(dh, ["event_type"], KMV_K)
    sk = bot.groupBy("event_type").agg(
        F.max("h").alias("kth_min"), F.count(F.lit(1)).alias("m")
    )
    # Per-half sketches, then the merged sketch: bottom-K of the
    # DISTINCT union of the two halves' bottom-K sets.
    dhp = hashed.distinct()
    half = _bottom_k(dhp, ["event_type", "parity"], KMV_K)
    merged = _bottom_k(
        half.select("event_type", "h").distinct(), ["event_type"], KMV_K
    )
    msk = merged.groupBy("event_type").agg(
        F.max("h").alias("kth_merged"), F.count(F.lit(1)).alias("m_merged")
    )
    exact = events.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_exact")
    )
    est = F.when(F.col("m") < KMV_K, F.col("m")).otherwise(
        F.expr(f"{KMV_K - 1}L * {_H40_SPACE}L div kth_min")
    )
    return (
        sk.join(msk, "event_type")
        .join(exact, "event_type")
        .select(
            "event_type",
            "n_exact",
            "m",
            "kth_min",
            est.alias("kmv_est"),
            (F.abs(est - F.col("n_exact")) * 4 <= F.col("n_exact")).alias(
                "within_bound"
            ),
            (
                (F.col("kth_merged") == F.col("kth_min"))
                & (F.col("m_merged") == F.col("m"))
            ).alias("merge_consistent"),
        )
    )


def _kmv_sql() -> str:
    h = _sql_h40("CAST(user_id AS VARCHAR)")
    return f"""
WITH hashed AS (
  SELECT event_type, user_id % 2 AS parity, {h} AS h FROM events
),
dh AS (SELECT DISTINCT event_type, h FROM hashed),
bot AS (
  SELECT event_type, h,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn
  FROM dh
),
sk AS (
  SELECT event_type, MAX(h) AS kth_min, CAST(COUNT(*) AS BIGINT) AS m
  FROM bot WHERE rn <= {KMV_K} GROUP BY 1
),
dhp AS (SELECT DISTINCT event_type, parity, h FROM hashed),
half AS (
  SELECT event_type, h FROM (
    SELECT event_type, h,
           ROW_NUMBER() OVER (PARTITION BY event_type, parity ORDER BY h)
             AS rn
    FROM dhp
  ) WHERE rn <= {KMV_K}
),
merged AS (
  SELECT event_type, h,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn
  FROM (SELECT DISTINCT event_type, h FROM half)
),
msk AS (
  SELECT event_type, MAX(h) AS kth_merged,
         CAST(COUNT(*) AS BIGINT) AS m_merged
  FROM merged WHERE rn <= {KMV_K} GROUP BY 1
),
ex AS (
  SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact
  FROM events GROUP BY 1
),
est AS (
  SELECT sk.event_type, n_exact, m, kth_min,
         CAST(CASE WHEN m < {KMV_K} THEN m
              ELSE {KMV_K - 1} * {_H40_SPACE} // kth_min END AS BIGINT)
           AS kmv_est,
         kth_merged, m_merged
  FROM sk JOIN msk ON sk.event_type = msk.event_type
  JOIN ex ON sk.event_type = ex.event_type
)
SELECT event_type, n_exact, m, kth_min, kmv_est,
       ABS(kmv_est - n_exact) * 4 <= n_exact AS within_bound,
       kth_merged = kth_min AND m_merged = m AS merge_consistent
FROM est
"""


# ---------------------------------------------------------------------------
# naive_bayes_lang
# ---------------------------------------------------------------------------


def q_naive_bayes_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial NB language confusion matrix in integer micro-bits
    (module doc)."""
    (documents,) = load_testdata(spark, sf_dir, "documents")
    train = documents.filter(F.col("doc_id") % 2 == 0)
    test = documents.filter(F.col("doc_id") % 2 == 1)
    ttok = train.select("lang", F.explode(tokens(F.col("text"))).alias("tok"))
    # ONE tokenize+explode pass: the (lang, tok) count table is staged
    # (vocabulary-grain — tiny), and the per-language totals and the
    # vocabulary size are aggregated FROM it instead of re-exploding
    # the training corpus per consumer (round-12: the static plan ran
    # the explode three times — 16 exchanges).  SUM(c) over toks ==
    # the token-occurrence count, and cnt's distinct tok set == the
    # corpus token set, so the derived values are identical.
    cnt = stage_to_tmp(
        ttok.groupBy("lang", "tok").agg(F.count(F.lit(1)).alias("c")),
        "nb_lang_counts",
    )
    tot = cnt.groupBy("lang").agg(F.sum("c").alias("n_l"))
    vocab = cnt.select("tok").distinct().agg(
        F.count(F.lit(1)).alias("v")
    )  # 1-row scalar
    dl = train.groupBy("lang").agg(F.count(F.lit(1)).alias("d_l"))
    dtot = train.agg(F.count(F.lit(1)).alias("d"))  # 1-row scalar
    # Staged SQL-parsed log2 (round-12): the four Column-Horner
    # micro-bit instances cost ~1 s of py4j plan construction per
    # build; the staged form is bit-identical and the floor(1e6·lg +
    # 0.5) wrap (_microbits) is applied unchanged on the staged
    # doubles.
    langdim = portable_int_log2_staged(
        dl.join(tot, "lang", "left")
        .na.fill({"n_l": 0})
        .crossJoin(F.broadcast(vocab))
        .crossJoin(F.broadcast(dtot)),
        {"lg_nlv": "n_l + v", "lg_dl": "d_l", "lg_d": "d"},
    ).select(
        "lang",
        _microbits(F.col("lg_nlv")).alias("denom_m"),
        (_microbits(F.col("lg_dl")) - _microbits(F.col("lg_d"))).alias("prior_m"),
    )
    cntm = portable_int_log2_staged(cnt, {"lg_c1": "c + 1"}).select(
        "lang", "tok", _microbits(F.col("lg_c1")).alias("ll1")
    )
    dt = (
        test.select(
            "doc_id",
            F.col("lang").alias("true_lang"),
            F.explode(tokens(F.col("text"))).alias("tok"),
        )
        .groupBy("doc_id", "true_lang", "tok")
        .agg(F.count(F.lit(1)).alias("c_dt"))
    )
    scored = (
        dt.crossJoin(F.broadcast(langdim))  # 5-row language dim
        .join(cntm, ["lang", "tok"], "left")
        .groupBy("doc_id", "true_lang", "lang")
        .agg(
            (
                F.sum(
                    F.col("c_dt")
                    * (F.coalesce(F.col("ll1"), F.lit(0)) - F.col("denom_m"))
                )
                + F.min("prior_m")
            ).alias("score_m")
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("score_m"), F.asc("lang")
    )
    pred = (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("doc_id", "true_lang", F.col("lang").alias("pred_lang"))
    )
    return pred.groupBy("true_lang", "pred_lang").agg(
        F.count(F.lit(1)).alias("n_docs")
    )


def _naive_bayes_sql() -> str:
    return f"""
WITH ttok AS (
  SELECT lang, unnest({SQL_TOKS}) AS tok
  FROM documents WHERE doc_id % 2 = 0
),
cnt AS (SELECT lang, tok, COUNT(*) AS c FROM ttok GROUP BY 1, 2),
cntm AS (
  SELECT lang, tok,
         CAST(floor(1000000.0 * p_lg + 0.5) AS BIGINT) AS ll1
  FROM (SELECT lang, tok, {portable_int_log2_sql("c + 1", "p")} FROM cnt)
),
tot AS (SELECT lang, COUNT(*) AS n_l FROM ttok GROUP BY 1),
v AS (SELECT COUNT(DISTINCT tok) AS v FROM ttok),
dl AS (
  SELECT lang, COUNT(*) AS d_l FROM documents WHERE doc_id % 2 = 0 GROUP BY 1
),
dtot AS (SELECT COUNT(*) AS d FROM documents WHERE doc_id % 2 = 0),
langdim AS (
  SELECT lang,
         CAST(floor(1000000.0 * dn_lg + 0.5) AS BIGINT) AS denom_m,
         CAST(floor(1000000.0 * pl_lg + 0.5) AS BIGINT)
           - CAST(floor(1000000.0 * pd_lg + 0.5) AS BIGINT) AS prior_m
  FROM (
    SELECT dl.lang,
           {portable_int_log2_sql("COALESCE(tot.n_l, 0) + v.v", "dn")},
           {portable_int_log2_sql("dl.d_l", "pl")},
           {portable_int_log2_sql("dtot.d", "pd")}
    FROM dl LEFT JOIN tot ON dl.lang = tot.lang, v, dtot
  )
),
dt AS (
  SELECT doc_id, true_lang, tok, COUNT(*) AS c_dt
  FROM (
    SELECT doc_id, lang AS true_lang, unnest({SQL_TOKS}) AS tok
    FROM documents WHERE doc_id % 2 = 1
  ) GROUP BY 1, 2, 3
),
scored AS (
  SELECT dt.doc_id, dt.true_lang, ld.lang,
         SUM(c_dt * (COALESCE(cntm.ll1, 0) - ld.denom_m)) + MIN(ld.prior_m)
           AS score_m
  FROM dt CROSS JOIN langdim ld
  LEFT JOIN cntm ON cntm.lang = ld.lang AND cntm.tok = dt.tok
  GROUP BY 1, 2, 3
),
pred AS (
  SELECT doc_id, true_lang, lang AS pred_lang FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                 ORDER BY score_m DESC, lang ASC) AS rn
    FROM scored
  ) WHERE rn = 1
)
SELECT true_lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS n_docs
FROM pred GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# keyphrase_rake
# ---------------------------------------------------------------------------

RAKE_MAX_LEN = 4
RAKE_TOPK = 25
_RAKE_STOPS: tuple[str, ...] = tuple(
    sorted({w for ws in STOPWORDS.values() for w in ws})
)


def q_keyphrase_rake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyphrases, ratio-of-sums scoring (module doc)."""
    (documents,) = load_testdata(spark, sf_dir, "documents")
    pt = documents.select(
        "doc_id", F.posexplode(tokens(F.col("text"))).alias("pos", "tok")
    )
    is_brk = (~F.col("tok").rlike("^[a-z]+$")) | F.col("tok").isin(
        *_RAKE_STOPS
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    pid = pt.select(
        "doc_id",
        "pos",
        "tok",
        is_brk.cast("int").alias("brk"),
    ).withColumn("pid", F.sum("brk").over(w))
    occ = (
        pid.filter(F.col("brk") == 0)
        .groupBy("doc_id", "pid")
        .agg(F.sort_array(F.collect_list(F.struct("pos", "tok"))).alias("ws"))
        .select(F.expr("transform(ws, x -> x.tok)").alias("warr"))
        .filter(F.size("warr").between(1, RAKE_MAX_LEN))
        .select(
            "warr",
            F.size("warr").cast("long").alias("len"),
            F.concat_ws(" ", F.col("warr")).alias("phrase"),
        )
    )
    wstat = (
        occ.select(F.explode("warr").alias("word"), "len")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"), F.sum("len").alias("deg"))
    )
    phr = occ.groupBy("phrase").agg(F.count(F.lit(1)).alias("cnt"))
    scored = (
        phr.select(
            "phrase", "cnt", F.explode(F.split("phrase", " ")).alias("word")
        )
        .join(wstat, "word")
        .groupBy("phrase", "cnt")
        .agg(F.sum("deg").alias("dsum"), F.sum("freq").alias("fsum"))
        .select(
            "phrase",
            F.size(F.split("phrase", " ")).alias("n_words"),
            "cnt",
            F.expr("dsum * 1000000L div fsum").alias("score_ppm"),
        )
    )
    return scored.orderBy(
        F.desc("score_ppm"), F.desc("cnt"), F.asc("phrase")
    ).limit(RAKE_TOPK)


def _rake_sql() -> str:
    stops = ", ".join(f"'{s}'" for s in _RAKE_STOPS)
    return f"""
WITH pt AS (
  SELECT doc_id, unnest(list_transform(range(1, len(t) + 1),
           i -> struct_pack(pos := i, tok := t[i]))) AS s
  FROM (SELECT doc_id, {SQL_TOKS} AS t FROM documents)
),
pw AS (
  SELECT doc_id, s.pos AS pos, s.tok AS tok,
         CASE WHEN NOT regexp_full_match(s.tok, '[a-z]+')
                   OR s.tok IN ({stops}) THEN 1 ELSE 0 END AS brk
  FROM pt
),
pid AS (
  SELECT *, SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS pid
  FROM pw
),
occ0 AS (
  SELECT doc_id, pid, list(tok ORDER BY pos) AS warr
  FROM pid WHERE brk = 0 GROUP BY 1, 2
),
occ AS (
  SELECT warr, CAST(len(warr) AS BIGINT) AS len,
         array_to_string(warr, ' ') AS phrase
  FROM occ0 WHERE len(warr) BETWEEN 1 AND {RAKE_MAX_LEN}
),
wstat AS (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS freq,
         CAST(SUM(len) AS BIGINT) AS deg
  FROM (SELECT unnest(warr) AS word, len FROM occ) GROUP BY 1
),
phr AS (
  SELECT phrase, CAST(COUNT(*) AS BIGINT) AS cnt FROM occ GROUP BY 1
),
scored AS (
  SELECT p.phrase, p.cnt,
         CAST(SUM(w.deg) AS BIGINT) AS dsum,
         CAST(SUM(w.freq) AS BIGINT) AS fsum
  FROM (SELECT phrase, cnt, unnest(string_split(phrase, ' ')) AS word
        FROM phr) p
  JOIN wstat w ON p.word = w.word
  GROUP BY 1, 2
)
SELECT phrase, CAST(len(string_split(phrase, ' ')) AS INT) AS n_words,
       cnt, dsum * 1000000 // fsum AS score_ppm
FROM scored
ORDER BY score_ppm DESC, cnt DESC, phrase ASC LIMIT {RAKE_TOPK}
"""


# ---------------------------------------------------------------------------
# feature_hashing
# ---------------------------------------------------------------------------

FH_BUCKETS = 1024
FH_TOPK = 20


def q_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick collision profile over the shingle vocabulary
    (module doc)."""
    (documents,) = load_testdata(spark, sf_dir, "documents")
    n_tasks = spark.sparkContext.defaultParallelism
    folded = documents.select(
        F.translate("text", AZ_UPPER, AZ_LOWER).alias("_t")
    ).repartition(n_tasks)
    tokocc = folded.select(
        F.explode(
            char_shingles(F.col("_t"), SETSIM_K, prefolded=True)
        ).alias("tok")
    )
    tstat = tokocc.groupBy("tok").agg(F.count(F.lit(1)).alias("occ"))
    b = (
        tstat.select(
            (_h40(F.col("tok")) % FH_BUCKETS).alias("bucket"), "occ"
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("occ").alias("n_occ"),
        )
    )
    # Corpus-level columns over the <= FH_BUCKETS-row bucket table.
    wall = Window.partitionBy()
    prof = b.select(
        "bucket",
        "n_tokens",
        "n_occ",
        F.count(F.lit(1)).over(wall).alias("buckets_used"),
        F.sum("n_tokens").over(wall).alias("vocab_size"),
    ).withColumn(
        "collision_ppm",
        F.expr("(vocab_size - buckets_used) * 1000000L div vocab_size"),
    )
    return prof.orderBy(F.desc("n_tokens"), F.asc("bucket")).limit(FH_TOPK)


def _feature_hashing_sql() -> str:
    h = _sql_h40("tok")
    sh = _SQL_SHINGLES.format(
        km1=SETSIM_K - 1, k=SETSIM_K, u=AZ_UPPER, l=AZ_LOWER
    )
    return f"""
WITH tokocc AS (SELECT unnest({sh}) AS tok FROM documents),
tstat AS (SELECT tok, COUNT(*) AS occ FROM tokocc GROUP BY 1),
b AS (
  SELECT {h} % {FH_BUCKETS} AS bucket,
         CAST(COUNT(*) AS BIGINT) AS n_tokens,
         CAST(SUM(occ) AS BIGINT) AS n_occ
  FROM tstat GROUP BY 1
),
prof AS (
  SELECT bucket, n_tokens, n_occ,
         CAST(COUNT(*) OVER () AS BIGINT) AS buckets_used,
         CAST(SUM(n_tokens) OVER () AS BIGINT) AS vocab_size
  FROM b
)
SELECT bucket, n_tokens, n_occ, buckets_used, vocab_size,
       (vocab_size - buckets_used) * 1000000 // vocab_size AS collision_ppm
FROM prof
ORDER BY n_tokens DESC, bucket ASC LIMIT {FH_TOPK}
"""


QUERIES = {
    "setsim_join": q_setsim_join,
    "kmv_distinct": q_kmv_distinct,
    "naive_bayes_lang": q_naive_bayes_lang,
    "keyphrase_rake": q_keyphrase_rake,
    "feature_hashing": q_feature_hashing,
}


ORACLE_SQL = {
    "setsim_join": _setsim_sql(),
    "kmv_distinct": _kmv_sql(),
    "naive_bayes_lang": _naive_bayes_sql(),
    "keyphrase_rake": _rake_sql(),
    "feature_hashing": _feature_hashing_sql(),
}
