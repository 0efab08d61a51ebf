"""Scale probes: each runs an engine kernel on a large synthetic or
replicated input and checks an analytic answer and a wall bound.

Tests marked ``scale_smoke`` are opt-in (``SPARK_GRAFT_SCALE_SMOKE=1``;
the slow lane runs them with ``-m scale_smoke``); the rest run in the
default suite."""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

scale = pytest.mark.skipif(
    not os.environ.get("SPARK_GRAFT_SCALE_SMOKE"),
    reason="opt-in: SPARK_GRAFT_SCALE_SMOKE=1 runs the scale smokes",
)

SF_DIR = "/root/testdata/sf0.1"

N_DOCS = 50_000
WORDS = 60
ALT_WORDS = 2  # setsim partner differs in the last 2 of 60 => J = 58/62
SUB_WORDS = 48  # containment partner keeps the first 48/60 => 0.8 reverse containment
PLANT_EVERY = 200

_NS_PER_HOUR = 3_600_000_000_000


# epoch_shuffle's two-level range rank at 200x corpus: the parallel
# shape must beat the naive single-task-per-epoch ROW_NUMBER it replaced
# (that change doubled the sf0.1 cost; this is the scale where the trade
# pays off), and both shapes must produce bit-identical positions.


@pytest.mark.scale_smoke
@scale
def test_epoch_shuffle_two_level_beats_naive_rank(spark):
    from gtfs_realtime_etl_spark.plans.analytics2 import (
        _shuffle_key,
        epoch_shuffle_positions,
    )

    docs = (
        spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
        .crossJoin(spark.range(200).select(F.col("id").alias("rep")))
        .select((F.col("doc_id") * 1000 + F.col("rep")).alias("doc_id"))
    )

    def checksum(df):
        # order-free fingerprint of the (epoch, doc_id, pos) relation
        return df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.col("pos").cast("long") * (F.pmod(F.col("doc_id"), F.lit(9973)) + 1)
            ).alias("s"),
        ).collect()[0]

    # naive shape the two-level rank replaced: ROW_NUMBER over
    # PARTITION BY epoch — each epoch's ENTIRE corpus sorts in ONE task
    naive = (
        docs.select(
            "doc_id",
            F.explode(F.sequence(F.lit(0), F.lit(1))).alias("epoch"),
        )
        .select(
            "epoch",
            "doc_id",
            _shuffle_key(F.col("doc_id"), F.col("epoch")).alias("k"),
        )
        .withColumn(
            "pos",
            F.row_number().over(
                Window.partitionBy("epoch").orderBy("k", "doc_id")
            ).cast("int"),
        )
        .select("epoch", "doc_id", "pos")
    )

    t0 = time.time()
    naive_sum = checksum(naive)
    t_naive = time.time() - t0

    t0 = time.time()
    two_level_sum = checksum(epoch_shuffle_positions(docs))
    t_two = time.time() - t0

    # bit-identical positions (same relation, order-free checksum)
    assert tuple(two_level_sum) == tuple(naive_sum)
    # the parallel shape must actually win at this scale — this is the
    # justification for the 2x sf0.1 cost the round-6 change accepted
    print(f"epoch_shuffle 200x: naive={t_naive:.1f}s two_level={t_two:.1f}s")
    assert t_two < t_naive, (
        f"two-level rank ({t_two:.1f}s) did not beat the naive "
        f"single-task sort ({t_naive:.1f}s) at 200x"
    )


# 1. mahalanobis_outliers at 20x embeddings (2.56M vectors, ~164M
#    exploded terms): a planted extreme vector must rank first, and the
#    whole pass must stay one-scan/one-broadcast shaped (wall bound).
# 2. auc_score and hazard_table replication invariance: both statistics
#    are RATIOS of counts, so a 20x row replication must leave auc_ppm
#    and every hazard_ppm bit-identical while the counts scale by
#    exactly 20 — the property that makes the integer formulations safe
#    to shard: partial aggregates from any split combine to the same
#    ratios.


@pytest.mark.scale_smoke
@scale
def test_mahalanobis_20x_plants_outlier_first(spark):
    from gtfs_realtime_etl_spark.plans.analytics10 import mahalanobis_topk

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    dims = len(emb.select("embedding").head()[0])
    big = (
        emb.crossJoin(spark.range(20).select(F.col("id").alias("rep")))
        .select(
            (F.col("vec_id") * 100 + F.col("rep") + 1).alias("vec_id"),
            "label",
            "embedding",
        )
    )
    planted = spark.range(1).select(
        F.lit(0).cast(big.schema["vec_id"].dataType).alias("vec_id"),
        F.lit(-1).cast(big.schema["label"].dataType).alias("label"),
        F.array(*[F.lit(10.0).cast("float") for _ in range(dims)]).alias(
            "embedding"
        ),
    )
    t0 = time.perf_counter()
    rows = mahalanobis_topk(big.unionByName(planted)).collect()
    wall = time.perf_counter() - t0
    assert rows[0].vec_id == 0 and rows[0].label == -1
    assert rows[0].d2_micro > rows[1].d2_micro
    # one explode scan + 64-row broadcast + one group shuffle at 2.56M
    # vectors — minutes would mean a quadratic sneaked in.
    assert wall < 120, f"mahalanobis 20x took {wall:.1f}s"


@pytest.mark.scale_smoke
@scale
def test_auc_and_hazard_replication_invariance(spark):
    """20x-replicated lineitem must leave auc_ppm / hazard_ppm
    bit-identical (ratio statistics), with counts scaled exactly 20x."""
    from gtfs_realtime_etl_spark.plans.analytics10 import q_auc_score
    from gtfs_realtime_etl_spark.plans.analytics11 import q_hazard_table
    from gtfs_realtime_etl_spark.sources import testdata as td

    base_auc = {r.l_linestatus: r for r in q_auc_score(spark, SF_DIR).collect()}
    base_hz = {r.delay: r for r in q_hazard_table(spark, SF_DIR).collect()}

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    big_li = li.crossJoin(spark.range(20).select(F.col("id").alias("rep"))).drop(
        "rep"
    )
    orig_load = td.load_testdata

    def patched(spark_, sf_dir_, *names):
        tabs = orig_load(spark_, sf_dir_, *names)
        return [big_li if n == "lineitem" else df for n, df in zip(names, tabs)]

    td_patch = patched
    import gtfs_realtime_etl_spark.plans.analytics10 as a10
    import gtfs_realtime_etl_spark.plans.analytics11 as a11

    try:
        a10.load_testdata = td_patch
        a11.load_testdata = td_patch
        t0 = time.perf_counter()
        big_auc = {
            r.l_linestatus: r for r in q_auc_score(spark, SF_DIR).collect()
        }
        big_hz = {r.delay: r for r in q_hazard_table(spark, SF_DIR).collect()}
        wall = time.perf_counter() - t0
    finally:
        a10.load_testdata = orig_load
        a11.load_testdata = orig_load

    assert set(big_auc) == set(base_auc)
    for ls, b in base_auc.items():
        g = big_auc[ls]
        assert g.n_pos == 20 * b.n_pos and g.n_neg == 20 * b.n_neg
        assert g.auc_ppm == b.auc_ppm
        assert g.u2 == 400 * b.u2
    assert set(big_hz) == set(base_hz)
    for d, b in base_hz.items():
        g = big_hz[d]
        assert g.d_i == 20 * b.d_i and g.n_i == 20 * b.n_i
        assert g.hazard_ppm == b.hazard_ppm
    assert wall < 180, f"20x auc+hazard took {wall:.1f}s"


# Set-similarity and containment joins at 50k documents.
#
# Two smoke designs were rejected for cause, and the reasons are the
# real scale lessons:
#
# - REPLICATION smokes are the wrong tool for a similarity join: exact
#   content duplication multiplies every prefix bucket's df by the
#   replication factor, so candidates grow QUADRATICALLY — an
#   adversarial input, not a scale model.
# - CHAR-SHINGLE smokes saturate: a k-char shingle vocabulary is capped
#   at alphabet^k (16^5 ~ 1M on md5-hex content), so at 50k docs every
#   shingle had df ~ 60 and the candidate join exploded to ~400M rows
#   regardless of filters.  Real corpora hit the same wall (26^5 ~ 12M)
#   — which is why AllPairs/PPJoin systems run on WORD tokens, whose
#   vocabulary grows with the corpus (Zipf) and keeps rare-first
#   prefixes rare.
#
# So both joins run with ``token_mode="word"`` on a fresh-content corpus
# generated engine-side (every document = 60 md5-hex WORDS keyed by doc
# id — 16^32 word space, df ~ 1 everywhere; no driver loop, no Python
# generation).
#
# 1. setsim_pairs: near-dup partners planted for 1-in-200 documents (two
#    differing words => pair Jaccard 58/62 ~ 0.935).  The output must be
#    exactly the planted pair set — no false positives (fresh words
#    share nothing) and, by the prefix-filter theorem, no false
#    negatives — and the plan stays linear: 3M token rows, ~350k prefix
#    rows, candidate matches ~ planted pairs only; a wall bound far below
#    any quadratic's cost.  The probe also caught a third 100 TB trap in
#    review: a forced broadcast of the vocabulary df table (~3M distinct
#    words here, tens of millions in shingle mode — removed; AQE
#    auto-broadcasts only when the table is actually small).
# 2. containment_pairs with PLANTED subset partners: every 200th doc gets
#    a partner holding its first 48 words — so c(partner, doc) = 48/48 =
#    1.0 passes the 0.9 threshold while c(doc, partner) = 48/60 = 0.8
#    does NOT.  The expected pair set is analytic (no quadratic
#    verifier), directional asymmetry is exercised, and the wall bound
#    proves the prefix filter carries the join (a df blowup would take
#    minutes).


@pytest.mark.scale_smoke
@scale
def test_setsim_join_word_mode_50k_exact_planted_pairs(spark):
    from gtfs_realtime_etl_spark.plans.analytics12 import setsim_pairs

    base = spark.range(N_DOCS)
    words = [
        F.md5(F.concat_ws(":", F.col("id"), F.lit(str(b))))
        for b in range(WORDS)
    ]
    docs = base.select(
        F.col("id").alias("doc_id"), F.concat_ws(" ", *words).alias("text")
    )
    alt = words[: WORDS - ALT_WORDS] + [
        F.md5(F.concat_ws(":", F.col("id"), F.lit(f"alt{b}")))
        for b in range(ALT_WORDS)
    ]
    partners = base.filter(F.col("id") % PLANT_EVERY == 0).select(
        (F.col("id") + N_DOCS).alias("doc_id"),
        F.concat_ws(" ", *alt).alias("text"),
    )
    corpus = docs.unionByName(partners)

    t0 = time.perf_counter()
    rows = setsim_pairs(corpus, token_mode="word").collect()
    wall = time.perf_counter() - t0

    expected = {(i, i + N_DOCS) for i in range(0, N_DOCS, PLANT_EVERY)}
    got = {(r.doc_a, r.doc_b) for r in rows}
    assert got == expected
    exp_ppm = (WORDS - ALT_WORDS) * 1_000_000 // (WORDS + ALT_WORDS)
    assert all(r.jaccard_ppm == exp_ppm for r in rows)
    assert all(
        (r.n_a, r.n_b, r.n_inter) == (WORDS, WORDS, WORDS - ALT_WORDS)
        for r in rows
    )
    # 3M token rows end-to-end at 50,200 docs: minutes would mean a
    # quadratic (a df blowup or a collision storm) sneaked back in.
    assert wall < 120, f"setsim word-mode 50k took {wall:.1f}s"


@pytest.mark.scale_smoke
@scale
def test_containment_join_word_mode_50k_planted_subsets(spark):
    from gtfs_realtime_etl_spark.plans.analytics14 import containment_pairs

    base = spark.range(N_DOCS)
    words = [
        F.md5(F.concat_ws(":", F.col("id"), F.lit(str(b))))
        for b in range(WORDS)
    ]
    docs = base.select(
        F.col("id").alias("doc_id"), F.concat_ws(" ", *words).alias("text")
    )
    partners = base.filter(F.col("id") % PLANT_EVERY == 0).select(
        (F.col("id") + N_DOCS).alias("doc_id"),
        F.concat_ws(" ", *words[:SUB_WORDS]).alias("text"),
    )
    corpus = docs.unionByName(partners)

    t0 = time.perf_counter()
    rows = containment_pairs(corpus, token_mode="word").collect()
    wall = time.perf_counter() - t0

    expected = {(i + N_DOCS, i) for i in range(0, N_DOCS, PLANT_EVERY)}
    got = {(r.doc_a, r.doc_b) for r in rows}
    assert got == expected  # subset direction only — never the reverse
    assert all(
        (r.n_a, r.n_b, r.n_inter, r.containment_ppm)
        == (SUB_WORDS, WORDS, SUB_WORDS, 1_000_000)
        for r in rows
    )
    # ~3M token rows end-to-end at 50,250 docs: minutes would mean the
    # prefix filter stopped biting (df blowup / collision storm).
    assert wall < 180, f"containment word-mode 50k took {wall:.1f}s"


# bootstrap_ci structure invariance: the Poisson bootstrap needs no
# global row count, so 10x the corpus must keep every type's B resamples
# intact while narrowing the CI — the property that makes it THE
# terabyte-scale CI method.


@pytest.mark.scale_smoke
@scale
def test_bootstrap_ci_structure_survives_corpus_10x(spark):
    from gtfs_realtime_etl_spark.plans.analytics16 import BOOT_B, q_bootstrap_ci

    base = q_bootstrap_ci(spark, "/root/testdata/sf0.01").collect()
    big = q_bootstrap_ci(spark, "/root/testdata/sf0.1").collect()
    for rows in (base, big):
        for r in rows:
            assert r.n_resamples == BOOT_B
            assert r.ci_lo_cents <= r.mean_cents <= r.ci_hi_cents
    width = {r.event_type: r.ci_hi_cents - r.ci_lo_cents for r in base}
    width_big = {r.event_type: r.ci_hi_cents - r.ci_lo_cents for r in big}
    # 10x the rows -> the CI must narrow for every event type (~sqrt(10)
    # in expectation; assert the direction, not the constant).
    for et, wd in width_big.items():
        assert wd < width[et], (et, wd, width[et])


# Always-on (no env gate — these run in the default suite):
#
# - spearman_moments on a perfectly monotone synthetic frame returns
#   rho2_signed_ppm == +1_000_000 exactly, and on an anti-monotone frame
#   -1_000_000 exactly (the integer doubled-rank path has zero slack).
# - window_funnel at 60k users x 9 staged events with PLANTED level
#   patterns: user_id % 3 picks the pattern (full in-window chain /
#   click-only-in-window / views only), so the level histogram is
#   analytic — and the wall bound proves the per-(user,stage) cap keeps
#   the in-row chain search linear in users, not quadratic in events.
# - kendall_trend two-phase == one conceptual global rank: on a 500k-row
#   synthetic corpus the salted two-phase sample must pick EXACTLY the
#   global top-K by (hash, event_id) — verified against a driver-side
#   replica of the global order — and the counts must be invariant to
#   input partitioning (repartition(7) == repartition(64)).
# - seq_pairs_support at 200k users: planted strict orderings (every
#   user emits 'view' then 'purchase'; only even users emit 'click'
#   after 'purchase') give analytic support counts; per-user state is
#   the bounded type-span list, so wall stays flat.


def test_spearman_monotone_is_exactly_one(spark):
    from gtfs_realtime_etl_spark.plans.analytics20 import spearman_moments

    base = spark.range(1000).select(
        F.lit("t").alias("event_type"),
        (F.col("id") * 3 % 997).alias("x"),
    )
    mono = base.withColumn("y", F.col("x") * 2 + 1)
    anti = base.withColumn("y", -F.col("x"))
    assert (
        spearman_moments(mono).collect()[0].rho2_signed_ppm == 1_000_000
    )
    assert (
        spearman_moments(anti).collect()[0].rho2_signed_ppm == -1_000_000
    )


# Promoted to always-on in round 10: ~2.4 s, planted-pattern analytic
# histogram plus the linear-cost wall bound.
def test_window_funnel_planted_levels_60k_users(spark):
    from gtfs_realtime_etl_spark.plans.analytics19 import (
        FUNNEL_WINDOW_NS,
        funnel_levels,
    )

    n_users = 60_000
    w = FUNNEL_WINDOW_NS
    users = spark.range(n_users).select(F.col("id").alias("user_id"))
    # Pattern by user_id % 3:
    #   0 -> view@0, click@w/4, purchase@w/2   (level 3)
    #   1 -> view@0, click@w/4, purchase@2w    (level 2: chain too long)
    #   2 -> view@0 only                        (level 1)
    # plus 6 decoy 'error' events per user (filtered by stage list).
    rows = users.select(
        "user_id",
        F.explode(
            F.expr(
                f"""CASE user_id % 3
WHEN 0 THEN array(
  struct('view' AS event_type, CAST(0 AS BIGINT) AS off),
  struct('click' AS event_type, CAST({w // 4} AS BIGINT) AS off),
  struct('purchase' AS event_type, CAST({w // 2} AS BIGINT) AS off))
WHEN 1 THEN array(
  struct('view' AS event_type, CAST(0 AS BIGINT) AS off),
  struct('click' AS event_type, CAST({w // 4} AS BIGINT) AS off),
  struct('purchase' AS event_type, CAST({2 * w} AS BIGINT) AS off))
ELSE array(struct('view' AS event_type, CAST(0 AS BIGINT) AS off)) END"""
            )
        ).alias("e"),
    ).select(
        "user_id",
        F.col("e.event_type").alias("event_type"),
        (F.col("user_id") * 17 + F.col("e.off")).alias("ts"),
        (F.col("user_id") * 100 + F.col("e.off") % 97).alias("event_id"),
    )

    t0 = time.perf_counter()
    got = {
        r.level: r.n_users for r in funnel_levels(rows.repartition(32)).collect()
    }
    wall = time.perf_counter() - t0

    third = n_users // 3
    assert got == {3: third, 2: third, 1: third}
    assert wall < 60, f"funnel wall {wall:.1f}s — cap not carrying the search"


# Promoted to always-on in round 10 (verdict #5): the cheapest
# partitioning-invariance probe (~3 s) — repartition(7) == repartition(64)
# regressions must surface without the opt-in env gate.
def test_kendall_two_phase_sample_equals_global_rank_500k(spark):
    from gtfs_realtime_etl_spark.plans.analytics18 import (
        KENDALL_K,
        _KH_MOD1,
        _KH_MOD2,
        _KH_MULT,
        kendall_counts,
    )

    n = 500_000
    base = spark.range(n).select(
        F.col("id").alias("event_id"),
        F.expr("CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END").alias(
            "event_type"
        ),
        (F.col("id") * 1_000_003).alias("ts"),
        (F.col("id") % 10_000 / 100.0).alias("value"),
    )

    t0 = time.perf_counter()
    got7 = {
        r.event_type: (r.n_sample, r.n_pairs, r.conc, r.disc, r.tau_ppm)
        for r in kendall_counts(base.repartition(7)).collect()
    }
    got64 = {
        r.event_type: (r.n_sample, r.n_pairs, r.conc, r.disc, r.tau_ppm)
        for r in kendall_counts(base.repartition(64)).collect()
    }
    wall = time.perf_counter() - t0

    # Partitioning invariance: the deterministic hash order is data-only.
    assert got7 == got64
    # The sample is the global top-K by (hash, event_id): replicate the
    # order on the driver and check the selected ids via a replica of
    # the counting (concordant-only data: value is monotone in id mod
    # 10000 but ties across the sample are possible).
    import math
    by_type: dict = {"a": [], "b": []}
    for i in range(n):
        h = ((i % _KH_MOD1) * _KH_MULT) % _KH_MOD2
        by_type["a" if i % 2 == 0 else "b"].append((h, i))
    for t, xs in by_type.items():
        xs.sort()
        samp = sorted(
            (i * 1_000_003, i, math.floor((i % 10_000) / 100.0 * 100 + 0.5))
            for _, i in xs[:KENDALL_K]
        )
        conc = disc = tie_v = tie_t = 0
        m = len(samp)
        for a in range(m):
            for b in range(a + 1, m):
                if samp[a][0] == samp[b][0]:
                    tie_t += 1
                elif samp[a][2] == samp[b][2]:
                    tie_v += 1
                elif samp[b][2] > samp[a][2]:
                    conc += 1
                else:
                    disc += 1
        n_pairs = m * (m - 1) // 2
        diff = conc - disc
        tau = (abs(diff) * 1_000_000 // n_pairs) * (
            1 if diff >= 0 else -1
        )
        assert got7[t] == (m, n_pairs, conc, disc, tau), t
    assert wall < 90, f"kendall wall {wall:.1f}s"


# Promoted to always-on in round 10: ~1.8 s, planted strict orderings.
def test_seq_pairs_planted_orderings_200k_users(spark):
    from gtfs_realtime_etl_spark.plans.analytics20 import seq_pair_support

    n_users = 200_000
    rows = (
        spark.range(n_users)
        .select(F.col("id").alias("user_id"))
        .select(
            "user_id",
            F.explode(
                F.expr(
                    """CASE WHEN user_id % 2 = 0 THEN array(
  struct('view' AS event_type, CAST(0 AS BIGINT) AS off),
  struct('purchase' AS event_type, CAST(10 AS BIGINT) AS off),
  struct('click' AS event_type, CAST(20 AS BIGINT) AS off))
ELSE array(
  struct('view' AS event_type, CAST(0 AS BIGINT) AS off),
  struct('purchase' AS event_type, CAST(10 AS BIGINT) AS off)) END"""
                )
            ).alias("e"),
        )
        .select(
            "user_id",
            F.col("e.event_type").alias("event_type"),
            (F.col("user_id") * 31 + F.col("e.off")).alias("ts"),
        )
    )

    t0 = time.perf_counter()
    got = {
        (r.t_first, r.t_then): (r.n_users, r.n_eligible, r.support_ppm)
        for r in seq_pair_support(rows.repartition(32)).collect()
    }
    wall = time.perf_counter() - t0

    half = n_users // 2
    exp = {
        ("view", "purchase"): n_users,
        ("view", "click"): half,
        ("purchase", "click"): half,
    }
    expected = {
        k: (v, n_users, v * 1_000_000 // n_users) for k, v in exp.items()
    }
    assert got == expected
    assert wall < 60, f"seq_pairs wall {wall:.1f}s"
