"""Tenth query bank: BPE tokenizer training and privacy auditing.

- ``bpe_train`` — the full iterative byte-pair-encoding trainer
  (``operators/bpe.py``): ``BPE_MERGES`` rounds of most-frequent-pair
  merge over the word-frequency dictionary, output = the ranked merge
  table.  The oracle UNROLLS the trainer round for round into chained
  CTEs (the ``kmeans_centroids`` / ``pagerank_knn`` promotion applied
  to a tokenizer fit): per round, a pair aggregate, a top-1 selection,
  and a ``list_reduce`` greedy merge fold that is bit-identical to the
  engine's ``F.aggregate`` fold.  Pure integer counts, lexicographic
  tie-break — hash-exact with no rounding anywhere.
- ``bpe_encode_stats`` — the tokenizer's APPLY path: after the same
  ``BPE_MERGES`` rules, the distribution of symbols-per-word across
  the dictionary (weighted by corpus frequency) — the
  fertility/compression curve a tokenizer team watches when sizing a
  vocabulary.
- ``k_anonymity`` — privacy audit for training-data release: group
  rows into quasi-identifier equivalence classes (nation × market
  segment × account-balance band), then report the k-anonymity
  histogram: for each class size k, how many classes / rows sit there,
  the share of the table they carry, and whether they fall below the
  re-identification threshold ``K_ANON_K``.  Two chained hash
  aggregates — the second input is class-count-sized; scale-safe.

Reference scope note: the reference (smohiudd/gtfs-realtime-etl) has
no tokenizer or privacy surface; these are driver-mandated
LLM-pipeline extensions (SURVEY.md §7 step 7).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gtfs_realtime_etl_spark.functions.stats import (
    portable_int_log2_sql,
    portable_int_log2_staged,
)
from gtfs_realtime_etl_spark.functions.text import tokens
from gtfs_realtime_etl_spark.operators.bpe import (
    _symbols,
    apply_merges,
    bpe_train,
    word_dictionary,
)
from gtfs_realtime_etl_spark.operators.diff import row_hash60, snapshot_diff
from gtfs_realtime_etl_spark.plans.base import (
    Q_DEDUP_NGRAM_JACCARD_SQL,
    Q_MINHASH_LSH_PAIRS_SQL,
    Q_SIMHASH_PAIRS_SQL,
    SQL_TOKS,
    q_dedup_ngram_jaccard,
    q_minhash_lsh_pairs,
    q_simhash_pairs,
)
from gtfs_realtime_etl_spark.sources.testdata import load_testdata

BPE_MERGES = 8


def q_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    (documents,) = load_testdata(spark, sf_dir, "documents")
    merges = bpe_train(documents, n_merges=BPE_MERGES)
    return spark.createDataFrame(
        [
            (m["merge_rank"], m["lhs"], m["rhs"], m["pair_count"])
            for m in merges
        ],
        "merge_rank int, lhs string, rhs string, pair_count long",
    ).orderBy("merge_rank")


def q_bpe_encode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    (documents,) = load_testdata(spark, sf_dir, "documents")
    merges = bpe_train(documents, n_merges=BPE_MERGES)
    encoded = word_dictionary(documents).select(
        apply_merges(F.col("s"), merges).alias("s"), "c"
    )
    return (
        encoded.select(F.size(_symbols(F.col("s"))).alias("n_syms"), "c")
        .groupBy("n_syms")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("c").alias("n_occurrences"),
        )
        .orderBy("n_syms")
    )


# ---------------------------------------------------------------------------
# Oracle: the trainer unrolled.  d0 is the spaced single-character word
# dictionary; each round t adds p{t} (pair counts), b{t} (the merged
# pair, ties on the smaller pair string) and d{t} (the dictionary after
# the greedy left-to-right list_reduce fold — same sentinel-space
# semantics as operators/bpe.py::merge_fold).
# ---------------------------------------------------------------------------

def _bpe_round_sql(t: int) -> str:
    return f"""p{t} AS (
  SELECT pair, CAST(SUM(c) AS BIGINT) AS n FROM (
    SELECT unnest(list_transform(range(1, len(sy)), i -> sy[i] || ' ' || sy[i+1])) AS pair, c
    FROM (SELECT string_split(s[2:], ' ') AS sy, c FROM d{t - 1})
  ) GROUP BY pair
),
b{t} AS (
  SELECT string_split(pair, ' ')[1] AS lhs, string_split(pair, ' ')[2] AS rhs, n
  FROM p{t} ORDER BY n DESC, pair ASC LIMIT 1
),
d{t} AS (
  SELECT list_reduce(list_prepend('', string_split(s[2:], ' ')),
    (acc, x) -> acc || CASE WHEN ends_with(acc, ' ' || b.lhs) AND x = b.rhs
                       THEN '' ELSE ' ' END || x) AS s, c
  FROM d{t - 1} CROSS JOIN b{t} b
)"""


def _bpe_prefix_sql() -> str:
    rounds = ",\n".join(_bpe_round_sql(t) for t in range(1, BPE_MERGES + 1))
    return f"""
WITH toks AS (SELECT unnest({SQL_TOKS}) AS w FROM documents),
words AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM toks GROUP BY w),
d0 AS (SELECT regexp_replace(w, '(.)', ' \\1', 'g') AS s, c FROM words),
{rounds}"""


def _bpe_train_sql() -> str:
    union = "\nUNION ALL\n".join(
        f"SELECT CAST({t} AS INTEGER) AS merge_rank, lhs, rhs,"
        f" n AS pair_count FROM b{t}"
        for t in range(1, BPE_MERGES + 1)
    )
    return f"""{_bpe_prefix_sql()}
SELECT * FROM ({union}) ORDER BY merge_rank
"""


def _bpe_encode_stats_sql() -> str:
    return f"""{_bpe_prefix_sql()}
SELECT CAST(len(string_split(s[2:], ' ')) AS INTEGER) AS n_syms,
       CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(c) AS BIGINT) AS n_occurrences
FROM d{BPE_MERGES} GROUP BY n_syms ORDER BY n_syms
"""


Q_BPE_TRAIN_SQL = _bpe_train_sql()
Q_BPE_ENCODE_STATS_SQL = _bpe_encode_stats_sql()


# ---------------------------------------------------------------------------
# k-anonymity audit.  Quasi-identifier = (nation, market segment,
# account-balance band of K_ANON_BAND); histogram keyed by class size.
# The table-total scalar rides a 1-row broadcast (SCALAR_BNLJ_OK).
# ---------------------------------------------------------------------------

K_ANON_K = 5
K_ANON_BAND = 1000


def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    (customer,) = load_testdata(spark, sf_dir, "customer")
    classes = (
        customer.select(
            "c_nationkey",
            "c_mktsegment",
            F.floor(F.col("c_acctbal") / F.lit(K_ANON_BAND))
            .cast("int")
            .alias("bal_band"),
        )
        .groupBy("c_nationkey", "c_mktsegment", "bal_band")
        .agg(F.count(F.lit(1)).alias("k_size"))
    )
    total = customer.agg(F.count(F.lit(1)).alias("n_total"))
    return (
        classes.groupBy("k_size")
        .agg(
            F.count(F.lit(1)).alias("n_classes"),
            F.sum("k_size").alias("n_rows"),
        )
        .crossJoin(F.broadcast(total))
        .select(
            "k_size",
            "n_classes",
            "n_rows",
            (F.round((F.col("n_rows").cast("double") / F.col("n_total")) * F.lit(1e12), 0) / F.lit(1e12)).alias("row_share"),
            (F.col("k_size") < F.lit(K_ANON_K)).alias("at_risk"),
        )
        .orderBy("k_size")
    )


Q_K_ANONYMITY_SQL = f"""
WITH classes AS (
  SELECT c_nationkey, c_mktsegment,
         CAST(FLOOR(c_acctbal / {K_ANON_BAND}) AS INTEGER) AS bal_band,
         CAST(COUNT(*) AS BIGINT) AS k_size
  FROM customer GROUP BY 1, 2, 3
),
total AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM customer)
SELECT k_size,
       CAST(COUNT(*) AS BIGINT) AS n_classes,
       CAST(SUM(k_size) AS BIGINT) AS n_rows,
       ROUND((CAST(SUM(k_size) AS DOUBLE) / n_total) * 1e12, 0) / 1e12 AS row_share,
       k_size < {K_ANON_K} AS at_risk
FROM classes CROSS JOIN total
GROUP BY k_size, n_total
ORDER BY k_size
"""


# ---------------------------------------------------------------------------
# l-diversity audit — the companion attack model to k-anonymity: a
# class can be k-large yet leak if every member shares the same
# sensitive value (homogeneity attack).  Sensitive attribute =
# o_orderpriority of the customers' orders; l = distinct sensitive
# values observed per quasi-identifier class (0 for classes whose
# customers never ordered).  One shuffle join on custkey + two hash
# aggregates; the second input is class-count-sized.  Scale-safe.
# ---------------------------------------------------------------------------

L_DIV_L = 2


def q_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer, orders = load_testdata(spark, sf_dir, "customer", "orders")
    qi = customer.select(
        "c_custkey",
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / F.lit(K_ANON_BAND))
        .cast("int")
        .alias("bal_band"),
    )
    joined = qi.join(
        orders.select("o_custkey", "o_orderpriority"),
        qi.c_custkey == F.col("o_custkey"),
        "left",
    )
    per_class = joined.groupBy(
        "c_nationkey", "c_mktsegment", "bal_band"
    ).agg(
        F.countDistinct("o_orderpriority").alias("l"),
        F.countDistinct("c_custkey").alias("n_customers"),
    )
    return (
        per_class.groupBy("l")
        .agg(
            F.count(F.lit(1)).alias("n_classes"),
            F.sum("n_customers").alias("n_customers"),
        )
        .select(
            "l",
            "n_classes",
            "n_customers",
            (F.col("l") < F.lit(L_DIV_L)).alias("at_risk"),
        )
        .orderBy("l")
    )


Q_L_DIVERSITY_SQL = f"""
WITH per_class AS (
  SELECT c_nationkey, c_mktsegment,
         CAST(FLOOR(c_acctbal / {K_ANON_BAND}) AS INTEGER) AS bal_band,
         CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS l,
         CAST(COUNT(DISTINCT c_custkey) AS BIGINT) AS n_customers
  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
  GROUP BY 1, 2, 3
)
SELECT l,
       CAST(COUNT(*) AS BIGINT) AS n_classes,
       CAST(SUM(n_customers) AS BIGINT) AS n_customers,
       l < {L_DIV_L} AS at_risk
FROM per_class GROUP BY l ORDER BY l
"""


# ---------------------------------------------------------------------------
# BM25 top-k — the sparse-retrieval leg next to the dense ANN family
# (ann_cosine_topk / rrf_fusion).  Lucene-shaped non-negative idf,
# expressed in log2 base through the engine's PORTABLE integer log2
# (functions/stats.py):
#
#   idf(t) = log2((N + 1) / (df_t + 0.5))
#          = plog2(2N + 2) - plog2(2·df_t + 1)      -- integer args only
#
# so the whole score is deterministic cross-engine: integer tf/df/dl
# aggregates, portable logs, IEEE-exact division chain, decimal
# accumulation of the <=|Q| per-term scores (sum order cannot matter),
# one final round.  Plan: one token explode feeding dl and (filtered)
# tf aggregates, broadcast df + corpus scalars, TakeOrderedAndProject
# top-k — no full sort, no Python.
# ---------------------------------------------------------------------------

BM25_K1 = 1.2
BM25_B = 0.75
BM25_QUERY = ("dup", "hash", "join")
BM25_N = 10
_BM_DEC = "decimal(30,15)"


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    (documents,) = load_testdata(spark, sf_dir, "documents")
    # NO token explode, NO token-stream shuffle: dl and the |Q| term
    # frequencies are per-doc HOF projections over the tokens array
    # (size / size∘filter — array traversals, not exchanges), and ALL
    # corpus scalars (N, Σdl, per-term df) fold into ONE 1-row
    # aggregate that broadcasts back.  Cost = two columnar scans (the
    # scalar pass and the tf pass); the explode alternative scanned
    # once but shuffled the full token stream per consumer — at 100 TB
    # the second scan is far cheaper than one token-stream exchange.
    # The two-stage select keeps tokens(text) a named attribute so
    # CollapseProject cannot duplicate its evaluation per consumer.
    tks = documents.select("doc_id", tokens(F.col("text")).alias("tks"))

    def _eq(term: str):
        # closure factory — a `t=t` default arg would give the lambda
        # TWO parameters, which Spark reads as an (element, index) HOF.
        return lambda x: x == F.lit(term)

    per_doc = tks.select(
        "doc_id",
        F.size("tks").alias("dl"),
        *[
            F.size(F.filter(F.col("tks"), _eq(t))).alias(f"tf_{i}")
            for i, t in enumerate(BM25_QUERY)
        ],
    )
    stats = per_doc.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("total_toks"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("long")).alias(f"df_{i}")
            for i in range(len(BM25_QUERY))
        ],
    )
    stack_args = ", ".join(
        f"'{t}', tf_{i}" for i, t in enumerate(BM25_QUERY)
    )
    tf = per_doc.select(
        "doc_id",
        "dl",
        F.expr(
            f"stack({len(BM25_QUERY)}, {stack_args}) AS (token, tf)"
        ),
    ).where(F.col("tf") > 0)
    # Staged SQL-parsed log2 (round-12): the two inline Column-Horner
    # instances cost ~0.4 s of py4j plan construction per build; the
    # staged form is bit-identical (grid pin) and the df-of-token CASE
    # dispatch is the same expression the old F.when chain built.
    df_case = (
        "CASE "
        + " ".join(
            f"WHEN token = '{t}' THEN df_{i}"
            for i, t in enumerate(BM25_QUERY)
        )
        + " END"
    )
    scored = portable_int_log2_staged(
        tf.crossJoin(F.broadcast(stats)),
        {
            "_lg_idf_num": "2 * n_docs + 2",
            "_lg_idf_den": f"2 * ({df_case}) + 1",
        },
    )
    idf = F.col("_lg_idf_num") - F.col("_lg_idf_den")
    ratio = (F.col("dl") * F.col("n_docs")).cast("double") / F.col(
        "total_toks"
    ).cast("double")
    tf_d = F.col("tf").cast("double")
    denom = tf_d + F.lit(BM25_K1) * (
        F.lit(1.0 - BM25_B) + F.lit(BM25_B) * ratio
    )
    term_score = idf * ((tf_d * F.lit(BM25_K1 + 1.0)) / denom)
    return (
        scored.select("doc_id", term_score.cast(_BM_DEC).alias("ts"))
        .groupBy("doc_id")
        .agg(
            (F.round((F.sum("ts").cast("double")) * F.lit(1e6), 0) / F.lit(1e6)).alias("bm25"),
            F.count(F.lit(1)).alias("n_terms_hit"),
        )
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(BM25_N)
    )


def _bm25_sql() -> str:
    terms = ", ".join(f"'{t}'" for t in BM25_QUERY)
    lg_n = portable_int_log2_sql("2 * n_docs + 2", "bn")
    lg_d = portable_int_log2_sql("2 * df + 1", "bd")
    return f"""
WITH toks AS (
  SELECT doc_id, unnest({SQL_TOKS}) AS token FROM documents
),
dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM toks GROUP BY doc_id),
tf AS (
  SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
  FROM toks WHERE token IN ({terms}) GROUP BY doc_id, token
),
dfreq AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY token),
stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(dl) AS BIGINT) AS total_toks
  FROM dl
),
logs AS (
  SELECT doc_id, tf, dl, n_docs, total_toks, {lg_n}, {lg_d}
  FROM tf JOIN dl USING (doc_id) JOIN dfreq USING (token) CROSS JOIN stats
),
scored AS (
  SELECT doc_id,
         CAST((bn_lg - bd_lg)
              * ((CAST(tf AS DOUBLE) * {BM25_K1 + 1.0!r})
                 / (CAST(tf AS DOUBLE)
                    + {BM25_K1!r} * ({1.0 - BM25_B!r}
                       + {BM25_B!r} * (CAST(dl * n_docs AS DOUBLE)
                                       / CAST(total_toks AS DOUBLE)))))
              AS DECIMAL(30,15)) AS ts
  FROM logs
)
SELECT doc_id,
       ROUND((CAST(SUM(ts) AS DOUBLE)) * 1e6, 0) / 1e6 AS bm25,
       CAST(COUNT(*) AS BIGINT) AS n_terms_hit
FROM scored GROUP BY doc_id
ORDER BY bm25 DESC, doc_id ASC
LIMIT {BM25_N}
"""


# ---------------------------------------------------------------------------
# Near-dup method agreement matrix — the dedup counterpart of
# ann_recall_report: for the three pair generators (blocked exact
# n-gram Jaccard, MinHash-LSH, SimHash), the size of each pair set and
# the Jaccard agreement of every method pair.  No "recall" claim — the
# methods use different similarity definitions by design; the matrix
# is the drift diagnostic a pipeline owner watches when retuning
# bands/thresholds.  Plan: three existing pair pipelines, one pinned
# union grouped to per-pair method sets, seeded so all three rows
# always exist.
# ---------------------------------------------------------------------------

_DEDUP_METHOD_PAIRS = (
    ("minhash", "ngram"),
    ("minhash", "simhash"),
    ("ngram", "simhash"),
)


def q_dedup_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    ng = q_dedup_ngram_jaccard(spark, sf_dir).select(
        F.lit("ngram").alias("m"), F.col("doc_a").alias("a"), F.col("doc_b").alias("b")
    )
    mh = q_minhash_lsh_pairs(spark, sf_dir).select(
        F.lit("minhash").alias("m"), F.col("id_a").alias("a"), F.col("id_b").alias("b")
    )
    sh = q_simhash_pairs(spark, sf_dir).select(
        F.lit("simhash").alias("m"), F.col("id_a").alias("a"), F.col("id_b").alias("b")
    )
    # ONE PASS over the unioned pair frame: group to per-pair method
    # SETS, then generate method combinations IN-ROW (<= 3-element
    # sets) — no self-join, and every generator pipeline is evaluated
    # exactly once.  The pin keeps the two tiny consumers (counts and
    # combos) from replaying the generators.
    allp = (
        ng.unionByName(mh).unionByName(sh).localCheckpoint(eager=False)
    )
    pairsets = allp.groupBy("a", "b").agg(
        F.sort_array(F.collect_set("m")).alias("ms")
    )
    counts = pairsets.select(F.explode("ms").alias("m")).groupBy("m").agg(
        F.count(F.lit(1)).alias("n")
    )
    combos = F.expr(
        "flatten(transform(ms, (x, i) ->"
        " transform(slice(ms, i + 2, size(ms)), y ->"
        " struct(x AS method_a, y AS method_b))))"
    )
    common = (
        pairsets.select(F.explode(combos).alias("c"))
        .groupBy(F.col("c.method_a").alias("method_a"),
                 F.col("c.method_b").alias("method_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    # JVM-literal seed (a createDataFrame seed is a Python-RDD scan —
    # seconds per tiny job deep into a long session, NOTES_r7 lesson).
    seed = spark.range(1).select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(a).alias("method_a"), F.lit(b).alias("method_b")
                    )
                    for a, b in _DEDUP_METHOD_PAIRS
                ]
            )
        ).alias("s")
    ).select("s.*")
    ca = counts.select(F.col("m").alias("method_a"), F.col("n").alias("n_a"))
    cb = counts.select(F.col("m").alias("method_b"), F.col("n").alias("n_b"))
    j = (
        seed.join(F.broadcast(ca), "method_a", "left")
        .join(F.broadcast(cb), "method_b", "left")
        .join(F.broadcast(common), ["method_a", "method_b"], "left")
        .select(
            "method_a",
            "method_b",
            F.coalesce(F.col("n_a"), F.lit(0)).alias("n_a"),
            F.coalesce(F.col("n_b"), F.lit(0)).alias("n_b"),
            F.coalesce(F.col("n_common"), F.lit(0)).alias("n_common"),
        )
    )
    union_n = F.col("n_a") + F.col("n_b") - F.col("n_common")
    agreement = F.when(union_n == 0, F.lit(0.0)).otherwise(
        (F.round((F.col("n_common").cast("double") / union_n) * F.lit(1e6), 0) / F.lit(1e6))
    )
    return j.select(
        "method_a", "method_b", "n_a", "n_b", "n_common",
        agreement.alias("agreement"),
    ).orderBy("method_a", "method_b")


def _dedup_agreement_sql() -> str:
    seed = ", ".join(f"('{a}', '{b}')" for a, b in _DEDUP_METHOD_PAIRS)
    return f"""
WITH ng AS ({Q_DEDUP_NGRAM_JACCARD_SQL.strip()}),
mh AS ({Q_MINHASH_LSH_PAIRS_SQL.strip()}),
sh AS ({Q_SIMHASH_PAIRS_SQL.strip()}),
allp AS (
  SELECT 'ngram' AS m, doc_a AS a, doc_b AS b FROM ng
  UNION ALL SELECT 'minhash', id_a, id_b FROM mh
  UNION ALL SELECT 'simhash', id_a, id_b FROM sh
),
counts AS (SELECT m, CAST(COUNT(*) AS BIGINT) AS n FROM allp GROUP BY m),
common AS (
  SELECT x.m AS method_a, y.m AS method_b, CAST(COUNT(*) AS BIGINT) AS n_common
  FROM allp x JOIN allp y ON x.a = y.a AND x.b = y.b AND x.m < y.m
  GROUP BY 1, 2
),
seed AS (SELECT * FROM (VALUES {seed}) t(method_a, method_b))
SELECT method_a, method_b,
       COALESCE(ca.n, 0) AS n_a,
       COALESCE(cb.n, 0) AS n_b,
       COALESCE(common.n_common, 0) AS n_common,
       CASE WHEN COALESCE(ca.n, 0) + COALESCE(cb.n, 0)
                 - COALESCE(common.n_common, 0) = 0 THEN 0.0
            ELSE ROUND((CAST(COALESCE(common.n_common, 0) AS DOUBLE)
                       / (COALESCE(ca.n, 0) + COALESCE(cb.n, 0)
                          - COALESCE(common.n_common, 0))) * 1e6, 0) / 1e6
       END AS agreement
FROM seed
LEFT JOIN counts ca ON ca.m = method_a
LEFT JOIN counts cb ON cb.m = method_b
LEFT JOIN common USING (method_a, method_b)
ORDER BY method_a, method_b
"""


# ---------------------------------------------------------------------------
# Order-invariant table checksums — the "did the 100 TB copy match"
# integrity op a migration/replication pipeline runs on both sides.
# Per row: md5 of a canonical field string, its first 60 bits parsed as
# an integer (md5 is JVM-native in Spark and engine-native in DuckDB —
# no HOF, no Python, one scan per table); per table: row count + the
# modular sum of row hashes (mod 2^61-1), which is partition- and
# order-invariant by construction.  Money columns ride as exact cents
# (ROUND(x*100) — never a .5 tie for 2-dp values), timestamps as
# yyyy-MM-dd strings.  Decimal(38,0) accumulation keeps the sum exact
# at any row count before the final mod.
# ---------------------------------------------------------------------------

_CHK_MERSENNE61 = (1 << 61) - 1


def _chk_agg(df: DataFrame, name: str, canonical) -> DataFrame:
    return df.select(row_hash60(canonical).alias("h")).agg(
        F.lit(name).alias("table_name"),
        F.count(F.lit(1)).alias("n_rows"),
        F.pmod(F.sum(F.col("h").cast("decimal(38,0)")), F.lit(_CHK_MERSENNE61))
        .cast("long")
        .alias("checksum"),
    )


def q_table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer, orders, documents = load_testdata(
        spark, sf_dir, "customer", "orders", "documents"
    )
    cust = _chk_agg(
        customer,
        "customer",
        F.concat_ws(
            "|",
            "c_custkey",
            "c_name",
            "c_nationkey",
            F.round(F.col("c_acctbal") * 100).cast("long"),
            "c_mktsegment",
        ),
    )
    ords = _chk_agg(
        orders,
        "orders",
        F.concat_ws(
            "|",
            "o_orderkey",
            "o_custkey",
            "o_orderstatus",
            F.round(F.col("o_totalprice") * 100).cast("long"),
            F.date_format("o_orderdate", "yyyy-MM-dd"),
            "o_orderpriority",
        ),
    )
    docs = _chk_agg(
        documents,
        "documents",
        F.concat_ws(
            "|", "doc_id", F.md5("text"), "lang", "source", "n_chars"
        ),
    )
    return cust.unionByName(ords).unionByName(docs).orderBy("table_name")


def _chk_sql(table: str, canonical: str) -> str:
    h = f"CAST(concat('0x', substr(md5({canonical}), 1, 15)) AS BIGINT)"
    return f"""
SELECT '{table}' AS table_name,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(((SUM(CAST({h} AS DECIMAL(38,0))) % {_CHK_MERSENNE61})
             + {_CHK_MERSENNE61}) % {_CHK_MERSENNE61} AS BIGINT) AS checksum
FROM {table}"""


Q_TABLE_CHECKSUM_SQL = (
    _chk_sql(
        "customer",
        "concat_ws('|', c_custkey, c_name, c_nationkey, "
        "CAST(ROUND(c_acctbal * 100) AS BIGINT), c_mktsegment)",
    )
    + "\nUNION ALL"
    + _chk_sql(
        "orders",
        "concat_ws('|', o_orderkey, o_custkey, o_orderstatus, "
        "CAST(ROUND(o_totalprice * 100) AS BIGINT), "
        "strftime(o_orderdate, '%Y-%m-%d'), o_orderpriority)",
    )
    + "\nUNION ALL"
    + _chk_sql(
        "documents",
        "concat_ws('|', doc_id, md5(text), lang, source, n_chars)",
    )
    + "\nORDER BY table_name"
)


# ---------------------------------------------------------------------------
# Key-skew report — the pre-join audit: is o_custkey safe to shuffle
# on?  One row: key count, row count, top-1/top-10 key share, and the
# Gini coefficient of the per-key distribution.  The Gini rank does
# NOT use a single-task global sort: keys bucket by bit_length(count)
# (monotone in count — floor(log2): pure integer, deterministic), sort
# in parallel within buckets, and add broadcast per-bucket prefix
# offsets — the epoch_shuffle two-level range rank, re-keyed by value.
# Scalar assembly is 1-row broadcasts (SCALAR_BNLJ_OK).
# ---------------------------------------------------------------------------


def q_key_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    (orders,) = load_testdata(spark, sf_dir, "orders")
    counts = orders.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("c"))
    # bit_length bucket: length(bin(c)) - 1 == floor(log2 c), monotone.
    bucketed = counts.withColumn(
        "bkt", (F.length(F.bin(F.col("c"))) - F.lit(1)).cast("int")
    )
    local = bucketed.withColumn(
        "local_pos",
        F.row_number().over(
            Window.partitionBy("bkt").orderBy("c", "o_custkey")
        ),
    )
    offsets = (
        bucketed.groupBy("bkt")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn(
            "offset",
            F.coalesce(
                F.sum("n").over(
                    Window.orderBy("bkt").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ),
        )
        .select("bkt", "offset")
    )
    ranked = local.join(F.broadcast(offsets), "bkt").select(
        "c", (F.col("offset") + F.col("local_pos")).alias("rnk")
    )
    sums = ranked.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum(F.col("c").cast("decimal(38,0)")).alias("sc"),
        F.sum((F.col("rnk") * F.col("c")).cast("decimal(38,0)")).alias("src"),
        F.max("c").alias("max_c"),
    )
    top10 = (
        counts.orderBy(F.desc("c"), F.asc("o_custkey"))
        .limit(10)
        .agg(F.sum("c").alias("top10_rows"))
    )
    j = sums.crossJoin(F.broadcast(top10))
    nk = F.col("n_keys").cast("double")
    sc = F.col("sc").cast("double")
    src = F.col("src").cast("double")
    return j.select(
        "n_keys",
        F.col("sc").cast("long").alias("n_rows"),
        (F.round((F.col("max_c").cast("double") / sc) * F.lit(1e12), 0) / F.lit(1e12)).alias("top1_share"),
        (F.round((F.col("top10_rows").cast("double") / sc) * F.lit(1e12), 0) / F.lit(1e12)).alias(
            "top10_share"
        ),
        (F.round(((F.lit(2.0) * src) / (nk * sc) - (nk + F.lit(1.0)) / nk) * F.lit(1e12), 0) / F.lit(1e12)).alias("gini"),
    )


Q_KEY_SKEW_REPORT_SQL = """
WITH counts AS (
  SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS c FROM orders GROUP BY o_custkey
),
ranked AS (
  SELECT c, CAST(ROW_NUMBER() OVER (ORDER BY c, o_custkey) AS BIGINT) AS rnk
  FROM counts
),
sums AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
         SUM(CAST(c AS DECIMAL(38,0))) AS sc,
         SUM(CAST(rnk * c AS DECIMAL(38,0))) AS src,
         MAX(c) AS max_c
  FROM ranked
),
top10 AS (
  SELECT CAST(SUM(c) AS BIGINT) AS top10_rows
  FROM (SELECT c FROM counts ORDER BY c DESC, o_custkey ASC LIMIT 10)
)
SELECT n_keys,
       CAST(sc AS BIGINT) AS n_rows,
       ROUND((CAST(max_c AS DOUBLE) / CAST(sc AS DOUBLE)) * 1e12, 0) / 1e12 AS top1_share,
       ROUND((CAST(top10_rows AS DOUBLE) / CAST(sc AS DOUBLE)) * 1e12, 0) / 1e12 AS top10_share,
       ROUND(((2.0 * CAST(src AS DOUBLE)) / (CAST(n_keys AS DOUBLE) * CAST(sc AS DOUBLE))
             - (CAST(n_keys AS DOUBLE) + 1.0) / CAST(n_keys AS DOUBLE)) * 1e12, 0) / 1e12 AS gini
FROM sums CROSS JOIN top10
"""


# ---------------------------------------------------------------------------
# Snapshot diff — row-level reconciliation between two table versions
# (operators/diff.py).  The "new" snapshot is derived deterministically
# from orders so both engines build the identical pair: keys divisible
# by 97 deleted, keys divisible by 101 get a mutated status, keys
# divisible by 89 are re-keyed clones (the added rows).  Output is the
# change-type census plus min/max affected key per class — the report
# a migration runs when the table checksums disagree.
# ---------------------------------------------------------------------------

_DIFF_DEL = 97
_DIFF_MOD = 101
_DIFF_ADD = 89
_DIFF_KEY_OFFSET = 10_000_000_000


def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    (orders,) = load_testdata(spark, sf_dir, "orders")
    base = orders.select("o_orderkey", "o_orderstatus", "o_totalprice")
    kept = base.where(F.col("o_orderkey") % _DIFF_DEL != 0)
    mutated = kept.withColumn(
        "o_orderstatus",
        F.when(F.col("o_orderkey") % _DIFF_MOD == 0, F.lit("X")).otherwise(
            F.col("o_orderstatus")
        ),
    )
    clones = base.where(F.col("o_orderkey") % _DIFF_ADD == 0).withColumn(
        "o_orderkey", F.col("o_orderkey") + F.lit(_DIFF_KEY_OFFSET)
    )
    new = mutated.unionByName(clones)
    canonical = F.concat_ws(
        "|",
        "o_orderkey",
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100).cast("long"),
    )
    d = snapshot_diff(base, new, "o_orderkey", canonical)
    return (
        d.groupBy("change_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("o_orderkey").alias("min_key"),
            F.max("o_orderkey").alias("max_key"),
        )
        .orderBy("change_type")
    )


Q_SNAPSHOT_DIFF_SQL = f"""
WITH base AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
),
new_snap AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % {_DIFF_MOD} = 0 THEN 'X'
              ELSE o_orderstatus END AS o_orderstatus,
         o_totalprice
  FROM base WHERE o_orderkey % {_DIFF_DEL} <> 0
  UNION ALL
  SELECT o_orderkey + {_DIFF_KEY_OFFSET}, o_orderstatus, o_totalprice
  FROM base WHERE o_orderkey % {_DIFF_ADD} = 0
),
o AS (
  SELECT o_orderkey AS k,
         CAST(concat('0x', substr(md5(concat_ws('|', o_orderkey, o_orderstatus,
           CAST(ROUND(o_totalprice * 100) AS BIGINT))), 1, 15)) AS BIGINT) AS h_old
  FROM base
),
n AS (
  SELECT o_orderkey AS k,
         CAST(concat('0x', substr(md5(concat_ws('|', o_orderkey, o_orderstatus,
           CAST(ROUND(o_totalprice * 100) AS BIGINT))), 1, 15)) AS BIGINT) AS h_new
  FROM new_snap
),
d AS (
  SELECT COALESCE(o.k, n.k) AS k,
         CASE WHEN o.k IS NULL THEN 'added'
              WHEN n.k IS NULL THEN 'deleted'
              WHEN h_old <> h_new THEN 'modified'
              ELSE 'unchanged' END AS change_type
  FROM o FULL OUTER JOIN n ON o.k = n.k
)
SELECT change_type,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       MIN(k) AS min_key,
       MAX(k) AS max_key
FROM d GROUP BY change_type ORDER BY change_type
"""


# ---------------------------------------------------------------------------
# CountMin join-cardinality estimate — the planner-adjacent sketch: how
# big will A ⋈ B be, WITHOUT joining A and B?  Each side folds its key
# counts into a depth×width counter matrix (additive → partition- and
# order-invariant, unlike Misra-Gries); the estimate is the minimum
# over rows of the per-row inner product.  The CountMin inner-product
# theorem gives est_i >= exact for EVERY row (collisions only add
# nonnegative cross terms), so ``overestimate_ok`` is a deterministic
# verdict, not a probabilistic claim — the probabilistic part (how
# close) rides as ``rel_error``.  Exact twin: one count-frame join.
# At 100 TB the sketch path never joins the key domains — two scans,
# two depth×width aggregates, one broadcast-sized merge.
# ---------------------------------------------------------------------------

CM_DEPTH_PARAMS = ((0, 1103515245, 12345), (1, 69069, 362437), (2, 1664525, 1013904223))
CM_WIDTH = 8191  # prime (no affine-hash cycles on dense keys); err ~ Na*Nb/w
_CM_MOD = 2147483647


def _cm_bucket(key, a: int, b: int):
    return F.pmod(
        F.pmod(key.cast("long") * F.lit(a) + F.lit(b), F.lit(_CM_MOD)),
        F.lit(CM_WIDTH),
    )


def _cm_sketch(counts: DataFrame, key: str) -> DataFrame:
    rows = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(i).alias("i"),
                    _cm_bucket(F.col(key), a, b).alias("bucket"),
                )
                for i, a, b in CM_DEPTH_PARAMS
            ]
        )
    ).alias("r")
    return (
        counts.select(rows, "c")
        .select("r.i", "r.bucket", "c")
        .groupBy("i", "bucket")
        .agg(F.sum("c").alias("v"))
    )


def q_join_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders, events = load_testdata(spark, sf_dir, "orders", "events")
    ca = orders.groupBy(F.col("o_custkey").alias("k")).agg(
        F.count(F.lit(1)).alias("c")
    )
    cb = events.groupBy(F.col("user_id").alias("k")).agg(
        F.count(F.lit(1)).alias("c")
    )
    exact = (
        ca.join(cb.withColumnRenamed("c", "c2"), "k")
        .agg(F.sum(F.col("c") * F.col("c2")).alias("exact_card"))
        .select(F.coalesce(F.col("exact_card"), F.lit(0)).alias("exact_card"))
    )
    sa, sb = _cm_sketch(ca, "k"), _cm_sketch(cb, "k")
    # Totals ride off the (already bucket-sized) sketch frames — no
    # extra pass over either count frame.
    tot = (
        sa.where(F.col("i") == 0)
        .agg(F.sum("v").alias("n_a"))
        .crossJoin(
            F.broadcast(sb.where(F.col("i") == 0).agg(F.sum("v").alias("n_b")))
        )
    )
    est = (
        sa.join(sb.withColumnRenamed("v", "v2"), ["i", "bucket"])
        .groupBy("i")
        .agg(F.sum(F.col("v") * F.col("v2")).alias("ip"))
        .agg(F.min("ip").alias("est_card"))
    )
    j = exact.crossJoin(F.broadcast(est)).crossJoin(F.broadcast(tot))
    # cm_epsilon: realized error as a multiple of the CM additive term
    # Na*Nb/w — O(1) when the estimator behaves per theory.
    return j.select(
        "exact_card",
        "est_card",
        (F.col("est_card") >= F.col("exact_card")).alias("overestimate_ok"),
        (F.round(((F.col("est_card") - F.col("exact_card")).cast("double")
            / F.col("exact_card").cast("double")) * F.lit(1e12), 0) / F.lit(1e12)).alias("rel_error"),
        (F.round(((F.col("est_card") - F.col("exact_card")).cast("double")
            * F.lit(float(CM_WIDTH))
            / (F.col("n_a") * F.col("n_b")).cast("double")) * F.lit(1e12), 0) / F.lit(1e12)).alias("cm_epsilon"),
    )


def _cm_sql() -> str:
    params = ", ".join(f"({i}, {a}, {b})" for i, a, b in CM_DEPTH_PARAMS)

    def sketch(src: str) -> str:
        return f"""
  SELECT i, ((k * a + b) % {_CM_MOD} + {_CM_MOD}) % {_CM_MOD} % {CM_WIDTH} AS bucket,
         CAST(SUM(c) AS BIGINT) AS v
  FROM {src} CROSS JOIN (SELECT * FROM (VALUES {params}) t(i, a, b))
  GROUP BY 1, 2"""

    return f"""
WITH ca AS (SELECT o_custkey AS k, CAST(COUNT(*) AS BIGINT) AS c FROM orders GROUP BY 1),
cb AS (SELECT user_id AS k, CAST(COUNT(*) AS BIGINT) AS c FROM events GROUP BY 1),
exact AS (
  SELECT COALESCE(CAST(SUM(ca.c * cb.c) AS BIGINT), 0) AS exact_card
  FROM ca JOIN cb USING (k)
),
sa AS ({sketch("ca")}),
sb AS ({sketch("cb")}),
est AS (
  SELECT CAST(MIN(ip) AS BIGINT) AS est_card FROM (
    SELECT sa.i, SUM(sa.v * sb.v) AS ip
    FROM sa JOIN sb ON sa.i = sb.i AND sa.bucket = sb.bucket
    GROUP BY sa.i
  )
),
tot AS (
  SELECT (SELECT CAST(SUM(v) AS BIGINT) FROM sa WHERE i = 0) AS n_a,
         (SELECT CAST(SUM(v) AS BIGINT) FROM sb WHERE i = 0) AS n_b
)
SELECT exact_card, est_card,
       est_card >= exact_card AS overestimate_ok,
       ROUND((CAST(est_card - exact_card AS DOUBLE)
             / CAST(exact_card AS DOUBLE)) * 1e12, 0) / 1e12 AS rel_error,
       ROUND((CAST(est_card - exact_card AS DOUBLE) * {float(CM_WIDTH)!r}
             / CAST(n_a * n_b AS DOUBLE)) * 1e12, 0) / 1e12 AS cm_epsilon
FROM exact CROSS JOIN est CROSS JOIN tot
"""


Q_JOIN_CARDINALITY_SQL = _cm_sql()


# ---------------------------------------------------------------------------
# Bloom semi-join pruning — the shuffle-reduction primitive: build a
# Bloom filter over a selective dimension subset, probe the fact side
# BEFORE its shuffle, report what survived.  The bit set is an OR over
# keys (multiset- and partition-invariant), membership uses the same
# three integer hash rows as the CountMin sketch; the no-false-negative
# property is a theorem, so ``fn_count = 0`` is a hash-gated verdict
# and the measured false-positive rate rides next to it.  The filter's
# set-bit table is bounded by BLOOM_BITS — broadcast-class by
# construction, which is exactly why this works at 100 TB.
# ---------------------------------------------------------------------------

BLOOM_BITS = 4096
BLOOM_SEGMENT = "BUILDING"


def _bloom_pos(key, a: int, b: int):
    return F.pmod(
        F.pmod(key.cast("long") * F.lit(a) + F.lit(b), F.lit(_CM_MOD)),
        F.lit(BLOOM_BITS),
    )


def _bloom_positions(df: DataFrame, key: str) -> DataFrame:
    rows = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(i).alias("i"),
                    _bloom_pos(F.col(key), a, b).alias("pos"),
                )
                for i, a, b in CM_DEPTH_PARAMS
            ]
        )
    ).alias("r")
    return df.select(rows).select("r.i", "r.pos")


def q_bloom_prune_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer, orders = load_testdata(spark, sf_dir, "customer", "orders")
    build = customer.where(
        F.col("c_mktsegment") == BLOOM_SEGMENT
    ).select(F.col("c_custkey").alias("k"))
    bits = _bloom_positions(build, "k").distinct()
    probe = orders.select(F.col("o_custkey").alias("k")).distinct()
    probed = probe.select(
        "k",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("i"),
                        _bloom_pos(F.col("k"), a, b).alias("pos"),
                    )
                    for i, a, b in CM_DEPTH_PARAMS
                ]
            )
        ).alias("r"),
    ).select("k", "r.i", "r.pos")
    hits = (
        probed.join(F.broadcast(bits), ["i", "pos"], "left_semi")
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    flags = (
        probe.join(F.broadcast(hits), "k", "left")
        .withColumn(
            "bloom_pass",
            F.coalesce(F.col("n_hit"), F.lit(0)) == len(CM_DEPTH_PARAMS),
        )
        .join(F.broadcast(build.withColumn("is_member", F.lit(True))), "k", "left")
        .withColumn("is_member", F.coalesce(F.col("is_member"), F.lit(False)))
    )
    return flags.agg(
        F.count(F.lit(1)).alias("n_probe_keys"),
        F.sum(F.col("bloom_pass").cast("long")).alias("n_pass"),
        F.sum(F.col("is_member").cast("long")).alias("n_members"),
        F.sum((F.col("bloom_pass") & ~F.col("is_member")).cast("long")).alias(
            "fp_count"
        ),
        F.sum((~F.col("bloom_pass") & F.col("is_member")).cast("long")).alias(
            "fn_count"
        ),
    ).select(
        "n_probe_keys",
        "n_pass",
        "n_members",
        "fp_count",
        "fn_count",
        (F.round((F.col("fp_count").cast("double")
            / (F.col("n_probe_keys") - F.col("n_members")).cast("double")) * F.lit(1e12), 0) / F.lit(1e12)).alias("fp_rate"),
    )


def _bloom_sql() -> str:
    params = ", ".join(f"({i}, {a}, {b})" for i, a, b in CM_DEPTH_PARAMS)
    pos = f"((k * a + b) % {_CM_MOD} + {_CM_MOD}) % {_CM_MOD} % {BLOOM_BITS}"
    return f"""
WITH build AS (
  SELECT c_custkey AS k FROM customer WHERE c_mktsegment = '{BLOOM_SEGMENT}'
),
bits AS (
  SELECT DISTINCT i, {pos} AS pos
  FROM build CROSS JOIN (SELECT * FROM (VALUES {params}) t(i, a, b))
),
probe AS (SELECT DISTINCT o_custkey AS k FROM orders),
probed AS (
  SELECT k, i, {pos} AS pos
  FROM probe CROSS JOIN (SELECT * FROM (VALUES {params}) t(i, a, b))
),
hits AS (
  SELECT k, CAST(COUNT(*) AS BIGINT) AS n_hit
  FROM probed SEMI JOIN bits USING (i, pos)
  GROUP BY k
),
flags AS (
  SELECT probe.k,
         COALESCE(n_hit, 0) = {len(CM_DEPTH_PARAMS)} AS bloom_pass,
         build.k IS NOT NULL AS is_member
  FROM probe
  LEFT JOIN hits ON probe.k = hits.k
  LEFT JOIN (SELECT DISTINCT k FROM build) build ON probe.k = build.k
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_probe_keys,
       CAST(SUM(CASE WHEN bloom_pass THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
       CAST(SUM(CASE WHEN is_member THEN 1 ELSE 0 END) AS BIGINT) AS n_members,
       CAST(SUM(CASE WHEN bloom_pass AND NOT is_member THEN 1 ELSE 0 END) AS BIGINT) AS fp_count,
       CAST(SUM(CASE WHEN NOT bloom_pass AND is_member THEN 1 ELSE 0 END) AS BIGINT) AS fn_count,
       ROUND((CAST(SUM(CASE WHEN bloom_pass AND NOT is_member THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) - SUM(CASE WHEN is_member THEN 1 ELSE 0 END) AS DOUBLE)) * 1e12, 0) / 1e12 AS fp_rate
FROM flags
"""


Q_BLOOM_PRUNE_STATS_SQL = _bloom_sql()


QUERIES = {
    "bpe_train": q_bpe_train,
    "bpe_encode_stats": q_bpe_encode_stats,
    "k_anonymity": q_k_anonymity,
    "l_diversity": q_l_diversity,
    "bm25_topk": q_bm25_topk,
    "dedup_agreement": q_dedup_agreement,
    "table_checksum": q_table_checksum,
    "key_skew_report": q_key_skew_report,
    "snapshot_diff": q_snapshot_diff,
    "join_cardinality": q_join_cardinality,
    "bloom_prune_stats": q_bloom_prune_stats,
}

ORACLE_SQL = {
    "bpe_train": Q_BPE_TRAIN_SQL,
    "bpe_encode_stats": Q_BPE_ENCODE_STATS_SQL,
    "k_anonymity": Q_K_ANONYMITY_SQL,
    "l_diversity": Q_L_DIVERSITY_SQL,
    "bm25_topk": _bm25_sql(),
    "dedup_agreement": _dedup_agreement_sql(),
    "table_checksum": Q_TABLE_CHECKSUM_SQL,
    "key_skew_report": Q_KEY_SKEW_REPORT_SQL,
    "snapshot_diff": Q_SNAPSHOT_DIFF_SQL,
    "join_cardinality": Q_JOIN_CARDINALITY_SQL,
    "bloom_prune_stats": Q_BLOOM_PRUNE_STATS_SQL,
}
