"""One-decade scale probe for the heavy LLM dedup operators
(round-11 verdict item 3): measure, at 5k docs (the sf0.1 shape) and
50k docs (one decade up), wall time AND the emission-side quantities
the 100 TB arguments rest on — candidate-pair counts, bucket sizes,
token document frequencies — so the structural claims ("bucket caps
bound emission", "df-bounded prefixes stay rare on corpus-growing
vocabularies") carry measured ratios, not just reasoning.

The driver's testdata is read-only and has no sf1.0 drop, so the probe
generates its own corpora (deterministic, numpy seed 42) under
``.scale_probe/`` (gitignored):

- ``driver``: fitted to /root/testdata/sf0.1/documents.parquet
  empirics — 30-word uniform vocabulary, uniform 10-100 word lengths,
  5% of docs a copy of a uniformly chosen earlier doc with " dup"
  appended (the planted near-dup mechanism observed in the real
  table), lang 40/15/15/15/15, 20 uniform sources.  n=5,000 matches
  sf0.1; the probe cross-checks its emission counts against the REAL
  sf0.1 table to validate the fit.  This family exercises the
  CAP-BOUNDED operators (dedup_incremental's LSH bucket cap, winnowing
  fingerprint buckets): a fixed vocabulary is the adversarial case for
  them, and the caps are what keep emission linear anyway.
- ``zipf``: scale-shaped text — the vocabulary GROWS with the corpus
  (V=n words, Zipf s=1.1), same lengths and near-dup planting.  This
  is the corpus family word-token prefix filtering is designed for
  (plans/analytics12.py setsim_pairs docstring) and exercises the
  LOSSLESS df-bounded joins (setsim/containment, word mode) where no
  cap exists and emission is governed by token df structure.

For the lossless joins the probe FIRST computes the candidate-instance
upper bound sum_tok(pref_cnt(tok) * df(tok)) with a two-aggregate
query and only executes the join when the bound is under a budget —
on a bounded-vocabulary corpus the shingle-form bound grows ~100x per
decade (every token's df rises linearly), which is exactly the
documented reason the registry's shingle form is the parity form and
word-over-Zipf is the scale form.  Recording the exploded bound IS the
probe result for that cell; running a deliberately quadratic join adds
nothing.

Usage: python scripts/scale_probe.py [--out SCALE_PROBE.json]
Writes one JSON with every cell + printed ratio table for
BENCH_ANCHOR.md.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import numpy as np
import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

DATA_DIR = os.path.join(ROOT, ".scale_probe")
REAL_SF01 = "/root/testdata/sf0.1/documents.parquet"

# the 30-word uniform vocabulary observed in the driver's documents
# table ('dup' excluded: it is the near-dup marker, appended not drawn)
DRIVER_VOCAB = [
    "a", "agg", "batch", "big", "column", "customer", "data", "dup_x",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort",
    "spark", "stream", "table", "the", "value", "vector", "window",
]
DRIVER_VOCAB = [w for w in DRIVER_VOCAB if w != "dup_x"]  # 30 words

# candidate-instance budget for lossless joins (SCALE_PROBE_BUDGET
# overrides; the default keeps the standard run under ~15 min)
CAND_BUDGET = int(os.environ.get("SCALE_PROBE_BUDGET", 30_000_000))


def _gen_texts(n: int, seed: int, vocab: list[str], probs=None) -> list[str]:
    rng = np.random.default_rng(seed)
    lengths = rng.integers(10, 101, size=n)
    flat = rng.choice(len(vocab), size=int(lengths.sum()), p=probs)
    words = np.asarray(vocab, dtype=object)[flat]
    bounds = np.concatenate([[0], np.cumsum(lengths)])
    texts: list[str] = []
    dup_draw = rng.random(n)
    base_draw = rng.integers(0, 1 << 62, size=n)
    for i in range(n):
        if i > 0 and dup_draw[i] < 0.05:
            texts.append(texts[base_draw[i] % i] + " dup")
        else:
            texts.append(" ".join(words[bounds[i] : bounds[i + 1]]))
    return texts


def gen_corpus(kind: str, n: int, seed: int = 42) -> pd.DataFrame:
    if kind == "driver":
        vocab, probs = DRIVER_VOCAB, None
    elif kind == "zipf":
        vocab = [f"w{j}" for j in range(n)]
        p = 1.0 / np.power(np.arange(1, n + 1, dtype="float64"), 1.1)
        probs = p / p.sum()
    else:
        raise ValueError(kind)
    rng = np.random.default_rng(seed + 1)
    texts = _gen_texts(n, seed, vocab, probs)
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype="int64"),
            "text": texts,
            "lang": rng.choice(
                ["en", "de", "es", "fr", "zh"], n, p=[0.4, 0.15, 0.15, 0.15, 0.15]
            ),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.asarray([len(t) for t in texts], dtype="int64"),
        }
    )


def corpus_path(kind: str, n: int) -> str:
    return os.path.join(DATA_DIR, f"{kind}_{n}", "documents.parquet")


def materialize(spark, kind: str, n: int):
    path = corpus_path(kind, n)
    if not os.path.exists(path):
        pdf = gen_corpus(kind, n)
        spark.createDataFrame(pdf).repartition(32).write.mode(
            "overwrite"
        ).parquet(path)
    return spark.read.parquet(path)


# ---------------------------------------------------------------------------
# probes: each returns {"wall_s": ..., plus emission metrics}
# ---------------------------------------------------------------------------


def _tokenized(docs, mode: str):
    """(doc_id, n, tok, rnk) in the operators' own rare-first order —
    the same kernels setsim/containment use, for bound computation."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from gtfs_realtime_etl_spark.functions.hashing import (
        shingle_hash64_set_kernel,
        token_hash64_set_kernel,
    )
    from gtfs_realtime_etl_spark.functions.text import tokens
    from gtfs_realtime_etl_spark.plans.analytics12 import SETSIM_K

    if mode == "word":
        sh = token_hash64_set_kernel()(tokens(F.col("text")))
    else:
        sh = shingle_hash64_set_kernel(SETSIM_K)(F.col("text"))
    sets = docs.select("doc_id", sh.alias("sh")).select(
        "doc_id", "sh", F.size("sh").cast("long").alias("n")
    )
    tok = sets.select("doc_id", "n", F.explode("sh").alias("tok"))
    df_tok = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("doc_id").orderBy("df", "tok")
    return (
        tok.join(df_tok, "tok")
        .withColumn("rnk", F.row_number().over(w).cast("long"))
        .select("doc_id", "n", "tok", "rnk", "df")
    )


def candidate_bound(docs, mode: str, num: int, den: int) -> dict:
    """sum over prefix token instances of that token's df — an upper
    bound on candidate-pair instances for the t=num/den prefix join —
    plus the df distribution the bound is governed by."""
    from pyspark.sql import functions as F

    ranked = _tokenized(docs, mode)
    # containment A-prefix: rnk <= n - ceil(t*n) + 1
    pref = ranked.filter(
        F.col("rnk")
        <= F.col("n") - F.ceil(F.col("n") * F.lit(num) / F.lit(den)) + 1
    )
    row = pref.agg(
        F.sum("df").alias("bound"), F.count(F.lit(1)).alias("pref_insts")
    ).collect()[0]
    dfs = ranked.agg(
        F.max("df").alias("max_df"),
        F.countDistinct("tok").alias("distinct_toks"),
    ).collect()[0]
    return {
        "cand_bound": int(row["bound"] or 0),
        "prefix_instances": int(row["pref_insts"]),
        "max_df": int(dfs["max_df"]),
        "distinct_tokens": int(dfs["distinct_toks"]),
    }


def probe_pair_join(docs, which: str, mode: str) -> dict:
    from gtfs_realtime_etl_spark.plans.analytics12 import setsim_pairs
    from gtfs_realtime_etl_spark.plans.analytics14 import (
        CONT_DEN,
        CONT_NUM,
        containment_pairs,
    )

    if which == "containment":
        num, den = CONT_NUM, CONT_DEN
    else:
        from gtfs_realtime_etl_spark.plans.analytics12 import (
            SETSIM_NUM,
            SETSIM_DEN,
        )

        num, den = SETSIM_NUM, SETSIM_DEN
    out = candidate_bound(docs, mode, num, den)
    if out["cand_bound"] > CAND_BUDGET:
        out.update(wall_s=None, pairs=None, skipped="cand_bound over budget")
        return out
    t0 = time.perf_counter()
    if which == "containment":
        pairs = containment_pairs(docs, token_mode=mode)
    else:
        pairs = setsim_pairs(docs, token_mode=mode)
    out["pairs"] = pairs.count()
    out["wall_s"] = round(time.perf_counter() - t0, 2)
    return out


def probe_dedup_incremental(docs) -> dict:
    from pyspark.sql import functions as F

    from gtfs_realtime_etl_spark.operators.dedup import (
        MAX_BUCKET,
        lsh_band_rows,
    )
    from gtfs_realtime_etl_spark.plans.analytics23 import (
        dedup_incremental_pairs,
    )

    t0 = time.perf_counter()
    n_pairs = dedup_incremental_pairs(docs).count()
    wall = round(time.perf_counter() - t0, 2)
    sizes = (
        lsh_band_rows(docs)
        .groupBy("band_id", "band_key")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    row = sizes.agg(
        F.max("cnt").alias("max_bucket"),
        F.sum(
            F.when(
                (F.col("cnt") >= 2) & (F.col("cnt") <= MAX_BUCKET),
                F.col("cnt") * (F.col("cnt") - 1) / 2,
            )
        ).alias("cand_pairs_capped"),
        F.sum(F.col("cnt") * (F.col("cnt") - 1) / 2).alias("cand_pairs_uncapped"),
        F.sum(
            F.when(F.col("cnt") > MAX_BUCKET, 1).otherwise(0)
        ).alias("buckets_over_cap"),
    ).collect()[0]
    return {
        "wall_s": wall,
        "pairs": n_pairs,
        "max_bucket": int(row["max_bucket"]),
        "cand_pairs_capped": int(row["cand_pairs_capped"] or 0),
        "cand_pairs_uncapped": int(row["cand_pairs_uncapped"] or 0),
        "buckets_over_cap": int(row["buckets_over_cap"]),
    }


def probe_winnow(docs) -> dict:
    from gtfs_realtime_etl_spark.operators.dedup import (
        jaccard_pairs,
        winnow_candidates,
    )
    from gtfs_realtime_etl_spark.plans.graph import (
        WD_JACCARD,
        WD_MIN_SHARED,
        WINNOW_K,
        WINNOW_W,
        _winnow_corpus,
    )

    corpus = _winnow_corpus(docs)
    t0 = time.perf_counter()
    cand = winnow_candidates(
        corpus, shingle_k=WINNOW_K, window=WINNOW_W, min_shared=WD_MIN_SHARED
    )
    n_cand = cand.count()
    verified = jaccard_pairs(
        corpus,
        cand.select("id_a", "id_b"),
        shingle_k=WINNOW_K,
        threshold=WD_JACCARD,
    ).count()
    return {
        "wall_s": round(time.perf_counter() - t0, 2),
        "candidates": n_cand,
        "pairs": verified,
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default=os.path.join(ROOT, "SCALE_PROBE.json"))
    args = ap.parse_args()

    from gtfs_realtime_etl_spark.session import get_spark

    spark = get_spark(app_name="scale-probe", shuffle_partitions=32)
    spark.sparkContext.setLogLevel("ERROR")

    results: dict = {"cand_budget": CAND_BUDGET, "cells": []}

    only = os.environ.get("SCALE_PROBE_ONLY")  # substring filter

    def cell(corpus, n, query, probe):
        """``probe`` is a thunk so SCALE_PROBE_ONLY can skip the work,
        not just the record."""
        if only and only not in query:
            return
        rec = {"corpus": corpus, "n_docs": n, "query": query, **probe()}
        results["cells"].append(rec)
        print(json.dumps(rec))

    real = spark.read.parquet(REAL_SF01)

    decade2 = bool(os.environ.get("SCALE_PROBE_DECADE2"))
    scales = () if decade2 else (5_000, 50_000)

    for n in scales:
        docs = materialize(spark, "driver", n)
        cell("driver", n, "dedup_incremental",
             lambda: probe_dedup_incremental(docs))
        cell("driver", n, "winnow_dedup", lambda: probe_winnow(docs))
        # registry (shingle) form: bound always, join only under budget
        cell("driver", n, "containment_join[shingle]",
             lambda: probe_pair_join(docs, "containment", "shingle"))
        cell("driver", n, "setsim_join[shingle]",
             lambda: probe_pair_join(docs, "setsim", "shingle"))

    # fit validation: synthetic driver-like 5k vs the REAL sf0.1 table
    if not decade2:
        cell("real-sf0.1", 5_000, "dedup_incremental",
             lambda: probe_dedup_incremental(real))
        cell("real-sf0.1", 5_000, "containment_join[shingle]",
             lambda: probe_pair_join(real, "containment", "shingle"))

    for n in scales:
        docs = materialize(spark, "zipf", n)
        cell("zipf", n, "containment_join[word]",
             lambda: probe_pair_join(docs, "containment", "word"))
        cell("zipf", n, "setsim_join[word]",
             lambda: probe_pair_join(docs, "setsim", "word"))

    # Optional SECOND decade (SCALE_PROBE_DECADE2=1): 500k docs.  At
    # 50k the dedup cap had not yet bound (max bucket 992 < 1000); the
    # second decade is where buckets cross the cap and the capped vs
    # uncapped candidate counts diverge — the direct evidence the cap
    # bounds emission.  Winnow is excluded (its emission is linear by
    # group construction, already shown at one decade, and its 500k
    # wall is minutes).
    if decade2:
        docs = materialize(spark, "driver", 500_000)
        cell("driver", 500_000, "dedup_incremental",
             lambda: probe_dedup_incremental(docs))
        docs = materialize(spark, "zipf", 500_000)
        cell("zipf", 500_000, "containment_join[word]",
             lambda: probe_pair_join(docs, "containment", "word"))
        cell("zipf", 500_000, "setsim_join[word]",
             lambda: probe_pair_join(docs, "setsim", "word"))

    # Merge with an existing artifact: keep prior cells this run did
    # not recompute (keyed by corpus/n/query), so decade-2 reruns
    # extend rather than clobber.
    try:
        with open(args.out) as fh:
            prior = json.load(fh).get("cells", [])
    except (OSError, ValueError):
        prior = []
    key = lambda c: (c["corpus"], c["n_docs"], c["query"])  # noqa: E731
    have = {key(c) for c in results["cells"]}
    results["cells"].extend(c for c in prior if key(c) not in have)
    results["cells"].sort(key=key)

    with open(args.out, "w") as fh:
        json.dump(results, fh, indent=1)
        fh.write("\n")
    print(f"wrote {args.out} ({len(results['cells'])} cells)")
    spark.stop()


if __name__ == "__main__":
    main()
