"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry re-expresses an operator from SURVEY.md §2 (or a
training-data-pipeline operator: dedup / similarity / text analysis) over the
driver testdata tables; ``oracle_sql()`` gives the DuckDB-equivalent ANSI
SQL. The events table doubles as the reference's canonical series shape
``(itemid, clock, value)`` (models/history.py:10 → user_id/ts/value).

Portability rules (so the driver's value-hash compare is exact):
- float outputs rounded to 6 dp on BOTH sides, computed with the SAME algebra
- hashing via md5 (bit-identical in Spark + DuckDB); h60(s) = first 15 hex
  chars of md5 as a long
- ranking always on ROUNDED values with explicit id tie-breaks
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pyanomalydetector2_spark.operators.dedup import (
    exact_dup_groups,
    jaccard_pairs,
    lsh_candidate_pairs,
    minhash_signatures,
    simhash,
)
from pyanomalydetector2_spark.operators.similarity import brute_force_topk
from pyanomalydetector2_spark.operators.stats import moment_stats
from pyanomalydetector2_spark.operators.text import doc_fingerprint, lang_id, token_metrics
from pyanomalydetector2_spark.operators.windows import top_n_per_group
from pyanomalydetector2_spark.sources.tables import events_as_series, load_table

# recent/trend split for the detect1-style screen (events span 2024-01).
# Spark-side comparisons use the epoch value (tz-independent even if the
# driver's session timezone is not UTC); the oracle's naive TIMESTAMP
# literal is UTC by DuckDB convention.
_CUT = "2024-01-28 00:00:00"


def _ntz(ts_str: str):
    """Constant-folded TIMESTAMP_NTZ literal: comparisons against it reach
    the parquet scan as PushedFilters (unix_timestamp(col) wrapped the
    column in a function and blocked pushdown — caught by the
    tests/test_plans_contract.py gate). For integer-second cutoffs the
    rewrite is exact: floor(epoch) < N  <=>  ts < N and floor(epoch) >= N
    <=> ts >= N, sub-second values included."""
    return F.to_timestamp_ntz(F.lit(ts_str))

# thresholds scaled to the synthetic events distribution so the screen has a
# non-trivial survivor set (semantics identical to the reference's λ1 screen)
_LAMBDA1 = 0.5
_IGNORE_DIFF_RATE = 0.05
# per-process materialized inputs (indexes, synthesized corpora, arrival
# dirs): (kind, <sf>/<table>.parquet, st_mtime_ns, st_size, *extra) →
# whatever the builder returned (see _cached_input)
_INPUT_CACHE: dict[tuple, object] = {}


def _cache_tmpdir(prefix: str) -> str:
    """mkdtemp for a per-process materialized-input cache, removed at
    normal interpreter exit — the padded-clip/snippet tiers are GBs per
    process, so leaking them across a multi-process bench sweep would
    exhaust a small /tmp."""
    import atexit
    import shutil
    import tempfile

    d = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d


def _input_key(kind: str, sf: str, table: str, *extra) -> tuple:
    """Identity of a derived input: the source table's path + mtime + size
    (a regenerated parquet can never be served a stale derivation) plus
    ``extra`` (e.g. the fingerprint oracle version)."""
    import os

    p = os.path.join(sf, f"{table}.parquet")
    st = os.stat(p)
    return (kind, p, st.st_mtime_ns, st.st_size, *extra)


def _cached_input(kind: str, sf: str, table: str, build, *extra):
    """Build a derived input ONCE PER PROCESS per source table: on a miss,
    ``build(dir)`` writes into a fresh ``_cache_tmpdir`` directory (an
    unpredictable 0700 dir per process — no shared-path races, removed at
    exit) and its return value is cached under ``_input_key``. Repeated
    bench/contract invocations then measure the query over a stored
    table — the engine's real input shape — not the datagen/index build."""
    key = _input_key(kind, sf, table, *extra)
    if key not in _INPUT_CACHE:
        _INPUT_CACHE[key] = build(_cache_tmpdir(f"pyad2_{kind}_"))
    return _INPUT_CACHE[key]


_TRENDS_MIN_COUNT = 3
# TPC-H cuts — Spark compares the TIMESTAMP_NTZ column to an NTZ literal
# (tz-proof AND pushed to the scan); the oracle uses the same naive literal
_Q1_CUT = "1998-12-01 00:00:00"
_Q3_CUT = "1998-03-15 00:00:00"

# single source of truth: the oracle SQL is generated from the SAME
# constants the Spark operators compute with (operators/text.py)
from pyanomalydetector2_spark.functions import local_rows_df  # noqa: E402
from pyanomalydetector2_spark.operators.text import (  # noqa: E402
    LANG_MARKERS as _LANGS,
    STOPWORDS as _STOPWORDS,
)


def _r(c, n=6):
    return F.round(c, n)


# ============================================================ §2 reference ==
def q_stats_moment(spark: SparkSession, sf: str) -> DataFrame:
    """A1 — per-item moment sketch (reference stats.py:75-135)."""
    ev = events_as_series(spark, sf)
    s = moment_stats(ev, ["itemid"])
    return s.select(
        "itemid",
        F.col("cnt").cast("long").alias("cnt"),
        _r("sum").alias("sum_v"),
        _r("mean").alias("mean_v"),
        _r("std").alias("std_v"),
    )


def q_zscore_screen(spark: SparkSession, sf: str) -> DataFrame:
    """detect1 — λ-threshold z-score screen of recent window vs trend
    (reference detector.py:150-215), verbose output for value checks."""
    ev = load_table(spark, sf, "events").select(
        F.col("user_id").alias("itemid"), "ts", "value"
    )
    trend = moment_stats(ev.filter(F.col("ts") < _ntz(_CUT)), ["itemid"]).select(
        "itemid",
        F.col("mean").alias("mean_t"),
        F.col("std").alias("std_t"),
        F.col("cnt").alias("cnt_t"),
    )
    recent = (
        ev.filter(F.col("ts") >= _ntz(_CUT))
        .groupBy("itemid")
        .agg(F.avg("value").alias("mean_h"))
    )
    dev = F.abs(F.col("mean_h") - F.col("mean_t"))
    out = (
        recent.join(trend, "itemid")
        .filter(F.col("cnt_t") > _TRENDS_MIN_COUNT)
        .filter(F.col("std_t") > 0)
        .filter(dev > _LAMBDA1 * F.col("std_t"))
        .filter(
            (F.col("mean_t") == 0)
            | (F.try_divide(dev, F.abs(F.col("mean_t"))) > _IGNORE_DIFF_RATE)
        )
    )
    return out.select(
        "itemid",
        _r("mean_h").alias("mean_h"),
        _r("mean_t").alias("mean_t"),
        _r("std_t").alias("std_t"),
    )


def q_time_bucket_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """A9 — tumbling-window rollup history→trends (reference
    logan_getter.py:249-263): daily buckets per event_type."""
    ev = load_table(spark, sf, "events")
    epoch = F.unix_timestamp("ts").cast("long")
    bucket = (epoch - epoch % 86400).alias("clock")
    return ev.groupBy("event_type", bucket).agg(
        F.count("value").cast("long").alias("cnt"),
        _r(F.avg("value")).alias("value_avg"),
        _r(F.min("value")).alias("value_min"),
        _r(F.max("value")).alias("value_max"),
    )


def q_adjacent_diff_stats(spark: SparkSession, sf: str) -> DataFrame:
    """W1+A5 — per-item adjacent-diff distribution stats (reference
    detector.py:288-301)."""
    ev = load_table(spark, sf, "events").select(
        F.col("user_id").alias("itemid"), "ts", "event_id", "value"
    )
    w = Window.partitionBy("itemid").orderBy("ts", "event_id")
    d = ev.withColumn("diff", F.col("value") - F.lag("value").over(w)).filter(
        F.col("diff").isNotNull() & (F.col("diff") != 0)
    )
    s = moment_stats(d, ["itemid"], "diff")
    return s.select(
        "itemid",
        F.col("cnt").cast("long").alias("cnt"),
        _r("mean").alias("mean_d"),
        _r("std").alias("std_d"),
    )


def q_minmax_first(spark: SparkSession, sf: str) -> DataFrame:
    """A4 — per-item min/max/first-by-time (reference detector.py:333)."""
    ev = load_table(spark, sf, "events")
    return ev.groupBy(F.col("user_id").alias("itemid")).agg(
        _r(F.min("value")).alias("min_v"),
        _r(F.max("value")).alias("max_v"),
        _r(F.min_by("value", F.struct("ts", "event_id"))).alias("first_v"),
    )


def q_topn_per_group(spark: SparkSession, sf: str) -> DataFrame:
    """W5/O3 — deterministic top-3 per event_type by value (reference
    detector.py:628-638 nlargest)."""
    ev = load_table(spark, sf, "events").select(
        "event_type", "event_id", "user_id", "value"
    )
    top = top_n_per_group(ev, ["event_type"], "value", 3, tiebreak=["event_id"])
    return top.select("event_type", "event_id", "user_id", _r("value").alias("value"))


def q_star_join_agg(spark: SparkSession, sf: str) -> DataFrame:
    """J8 — star join over dimension tables, broadcast both dims."""
    orders = load_table(spark, sf, "orders")
    customer = load_table(spark, sf, "customer")
    nation = load_table(spark, sf, "nation")
    region = load_table(spark, sf, "region")
    j = (
        orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    return j.groupBy(
        F.col("r_name").alias("region_name"), F.col("n_name").alias("nation_name")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("order_cnt"),
        _r(F.sum("o_totalprice"), 2).alias("revenue"),
    )


def q_anti_join_ids(spark: SparkSession, sf: str) -> DataFrame:
    """P10/U5/J9 — anti-membership (reference detector.py:527,
    models/model.py:44-59); broadcast left-anti join."""
    ev = load_table(spark, sf, "events")
    err = (
        ev.filter((F.col("event_type") == "error") & (F.col("value") > 95))
        .select(F.col("user_id").alias("itemid"))
        .distinct()
    )
    buy = (
        ev.filter((F.col("event_type") == "purchase") & (F.col("value") > 95))
        .select(F.col("user_id").alias("itemid"))
        .distinct()
    )
    return err.join(F.broadcast(buy), "itemid", "left_anti")


def q_union_distinct(spark: SparkSession, sf: str) -> DataFrame:
    """U2/U4 — union-distinct of id sets from two overlapping scans
    (reference zabbix_getter.py:65-76)."""
    ev = load_table(spark, sf, "events")
    a = ev.filter(F.col("value") > 50).select(F.col("user_id").alias("itemid"))
    b = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("itemid")
    )
    return a.union(b).distinct()


# ==================================================== training-data ops ====
def q_dedup_exact_prefix(spark: SparkSession, sf: str) -> DataFrame:
    """Exact dedup via hash-groupBy on a normalized key (3-token prefix) —
    the hash/shuffle shape of full exact dedup on md5(text)."""
    docs = load_table(spark, sf, "documents")
    toks = F.split(F.lower(F.trim("text")), r"\s+")
    prefixed = docs.withColumn("prefix", F.concat_ws(" ", F.slice(toks, 1, 3)))
    return exact_dup_groups(prefixed, "doc_id", ["prefix"])


def q_minhash_lsh_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """MinHash (k=8, 3-gram shingles) + LSH banding (4 bands × 2 rows) →
    candidate near-dup pairs."""
    docs = load_table(spark, sf, "documents")
    sigs = minhash_signatures(docs, "doc_id", "text", k=8, n=3)
    # max_bucket_size=None: the DuckDB oracle has no cap — contract
    # semantics are exact; production callers keep the capped default
    return lsh_candidate_pairs(sigs, bands=4, rows_per_band=2, max_bucket_size=None)


def q_ngram_jaccard_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Exact 3-gram Jaccard over the LSH candidate pairs, thresholded —
    the composed pipeline builds + persists the shingle frame ONCE for its
    three consumers (one documents scan, not three)."""
    from pyanomalydetector2_spark.operators.dedup import near_dup_jaccard

    docs = load_table(spark, sf, "documents")
    j = near_dup_jaccard(docs, "doc_id", "text", k=8, n=3, bands=4,
                         rows_per_band=2, threshold=0.1,
                         max_bucket_size=None)  # oracle has no cap
    return j.select("id_a", "id_b", _r("jaccard").alias("jaccard"))


def q_dup_clusters(spark: SparkSession, sf: str) -> DataFrame:
    """Duplicate-cluster resolution: connected components over the
    jaccard-thresholded near-dup pairs (min-label propagation; each doc
    labeled with its component's smallest doc_id — the canonical keep-one
    representative). Oracle = recursive-CTE reachability over the same
    pairs."""
    from pyanomalydetector2_spark.operators.dedup import (
        dup_clusters,
        near_dup_jaccard,
    )

    docs = load_table(spark, sf, "documents")
    j = near_dup_jaccard(docs, "doc_id", "text", k=8, n=3, bands=4,
                         rows_per_band=2, threshold=0.1,
                         max_bucket_size=None)  # oracle has no cap
    out = dup_clusters(j.select("id_a", "id_b"))
    return out.select(F.col("id").alias("doc_id"), "cluster_id")


def q_dedup_keep_best(spark: SparkSession, sf: str) -> DataFrame:
    """The end-to-end dedup decision: near-dup clusters → keep the highest
    quality_score member per cluster (ties → smallest doc_id), mark the
    rest as drops — what a training-data pipeline actually executes."""
    from pyanomalydetector2_spark.operators.dedup import (
        dup_clusters,
        keep_best_per_cluster,
        near_dup_jaccard,
    )
    from pyanomalydetector2_spark.operators.text import token_metrics

    docs = load_table(spark, sf, "documents")
    j = near_dup_jaccard(docs, "doc_id", "text", k=8, n=3, bands=4,
                         rows_per_band=2, threshold=0.1,
                         max_bucket_size=None)  # oracle has no cap
    clusters = dup_clusters(j.select("id_a", "id_b"))
    scores = token_metrics(docs, "text").select(
        "doc_id", _r("quality_score").alias("quality_score")
    )
    out = keep_best_per_cluster(clusters, scores)
    return out.select(
        "doc_id", "cluster_id", _r("score").alias("score"), "keep"
    )


# docs with doc_id < cut play the "newly ingested batch" in the
# incremental-dedup contract query — exactly 100 docs at every sf, so the
# batch stays the small side while the indexed corpus grows with sf
_INCR_CUT = 100


def q_near_dup_incremental(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental dedup ingest: near-dup pairs touching the new batch
    (doc_id < 100), computed by probing the batch's LSH bands against the
    stored corpus signature index instead of re-running the corpus self-join
    (dedup.near_dup_jaccard_incremental — pair generation proportional to
    the batch, not the corpus)."""
    from pyanomalydetector2_spark.operators.dedup import (
        minhash_signatures,
        near_dup_jaccard_incremental,
    )

    docs = load_table(spark, sf, "documents")
    new = docs.filter(F.col("doc_id") < _INCR_CUT)
    # the query's declared semantics is probing a STORED corpus signature
    # index ("minhash_signatures persisted across runs — e.g. a
    # SnapshotTable", near_dup_jaccard_incremental docstring): materialize
    # that index once per process per id source — the _audio_corpus
    # stored-table convention — instead of re-shingling the corpus per
    # invocation through the testing-convenience index_sigs=None path.
    def build(base: str) -> str:
        old = docs.filter(F.col("doc_id") >= _INCR_CUT)
        minhash_signatures(old, "doc_id", "text", 8, 3).write.mode(
            "overwrite"
        ).parquet(f"{base}/sigs")
        return base

    base = _cached_input("incr_index", sf, "documents", build)
    index_sigs = spark.read.parquet(f"{base}/sigs")
    j = near_dup_jaccard_incremental(docs, new, "doc_id", "text",
                                     index_sigs=index_sigs,
                                     max_bucket_size=None)  # oracle has no cap
    return j.select("id_a", "id_b", _r("jaccard").alias("jaccard"))


def q_simhash(spark: SparkSession, sf: str) -> DataFrame:
    """16-bit SimHash signatures over tokens."""
    docs = load_table(spark, sf, "documents")
    return simhash(docs, "doc_id", "text", bits=16).withColumnRenamed("id", "doc_id")


def q_embedding_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Brute-force cosine top-5 for query vectors vec_id < 20 (ANN baseline)."""
    emb = load_table(spark, sf, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    q = emb.filter(F.col("vec_id") < 20)
    out = brute_force_topk(emb, q, k=5)
    return out.select("query_id", "match_id", "cosine", F.col("rank").cast("int").alias("rank"))


def q_text_embed(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic feature-hash text embeddings (VERDICT r04 stretch #8
    — the hashing trick, Weinberger et al. 2009): token → h60 bucket with
    an independent-hash sign, signed counts L2-normalized. Lets the whole
    ANN/near-dup stack run on corpora that arrive WITHOUT vectors, with
    zero trained state, and is DuckDB-replayable by construction: the
    pre-normalization sums are integer-valued doubles, so float addition
    order cannot differ between engines and the check is hash-exact.
    Output exploded to (doc_id, i, val) scalars for the value-hash.

    posexplode_OUTER, deliberately: plain posexplode makes Catalyst push a
    `size(embedding) > 0` guard below the projections, and because
    `embedding` is a computed expression (not a stored column) the pushed
    filter INLINES the whole normalize/aggregate lambda tree ~3x per row
    in an interpreted Filter — measured 5.5 s vs 1.2 s at sf0.1. The
    embedding is a fixed dims-length array (all-zero for empty docs, never
    empty/null), so outer and inner explode are row-for-row identical."""
    from pyanomalydetector2_spark.operators.text import text_embed

    docs = load_table(spark, sf, "documents")
    emb = text_embed(docs, "doc_id", "text", dims=64)
    return emb.select(
        F.col("id").alias("doc_id"),
        F.posexplode_outer("embedding").alias("i", "val"),
    )


def q_text_embed_near_dup(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding near-dup over DERIVED vectors: the exact blocked-matmul
    operator (same kernel as embedding_near_dup) consumes text_embed's
    output instead of the datagen embeddings table — the planted
    near-identical documents surface as high-cosine pairs from nothing
    but their text. The DuckDB oracle replays the whole pipeline:
    tokenize → feature-hash → normalize → all-pairs cosine."""
    from pyanomalydetector2_spark.operators.similarity import (
        cosine_near_dup_pairs_blocked,
    )
    from pyanomalydetector2_spark.operators.text import text_embed

    docs = load_table(spark, sf, "documents")
    # round6=False: rounded components make pair dots land exactly on
    # 6-dp midpoints where numpy and SQL round() disagree (see text_embed)
    emb = text_embed(docs, "doc_id", "text", dims=64, round6=False).select(
        F.col("id").alias("vec_id"), "embedding"
    )
    # num_blocks=16: exact op (output invariant to K); 16 gives 136 block-
    # pair groups — enough parallel kernel tasks to hide the matmul
    # entirely behind the embed feed (K=4 had only 10 groups)
    return cosine_near_dup_pairs_blocked(emb, threshold=0.9, num_blocks=16)


def q_text_quality(spark: SparkSession, sf: str) -> DataFrame:
    """Token counting + quality scoring per document."""
    docs = load_table(spark, sf, "documents")
    m = token_metrics(docs, "text")
    return m.select(
        "doc_id",
        F.col("n_tokens").cast("int").alias("n_tokens"),
        F.col("n_bpe_ish").cast("int").alias("n_bpe_ish"),
        _r("avg_token_len").alias("avg_token_len"),
        _r("stopword_ratio").alias("stopword_ratio"),
        _r("alpha_ratio").alias("alpha_ratio"),
        _r("quality_score").alias("quality_score"),
    )


_VOCAB_K = 20
_OOV_VOCAB_K = 12


def q_vocab_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus vocabulary head: top-k (20 here; the corpus vocabulary is ~31 types, so the boundary cut and its tiebreak are real) tokens by global count with a
    deterministic (count desc, token asc) tiebreak — the statistic
    tokenizer/vocab design reads off a corpus. One explode + one groupBy
    (map-side combine absorbs the Zipf head) + TakeOrderedAndProject (no
    global sort shuffle; CI plan gate pins it)."""
    from pyanomalydetector2_spark.operators.text import vocab_topk

    docs = load_table(spark, sf, "documents")
    return vocab_topk(docs, _VOCAB_K).select(
        "token", F.col("cnt").cast("long").alias("cnt"),
        F.col("docs").cast("long").alias("docs"),
    )


def q_oov_rate(spark: SparkSession, sf: str) -> DataFrame:
    """Per-document out-of-vocabulary rate vs a self-derived reference
    vocabulary (the corpus' own top-12 tokens — ~19 types stay OOV, so every document carries a real nonzero rate) — the tokenizer-coverage
    check of a training pipeline. Broadcast vocab join; oov_ppm is an
    exact floored integer ratio (no float-rounding convention)."""
    from pyanomalydetector2_spark.operators.text import oov_rate, vocab_topk

    docs = load_table(spark, sf, "documents")
    # with_docs=False: the vocabulary only needs the token set, so skip
    # the per-(doc, token) document-frequency stage — same cnt integers,
    # same (cnt desc, token asc) cut, identical k-set (see vocab_topk)
    vocab = vocab_topk(docs, _OOV_VOCAB_K, with_docs=False).select("token")
    return oov_rate(docs, vocab)


def q_lang_id(spark: SparkSession, sf: str) -> DataFrame:
    """Stopword-marker language-ID heuristic with stable-argmax prediction."""
    docs = load_table(spark, sf, "documents")
    out = lang_id(docs, "text")
    return out.select(
        "doc_id",
        *[_r(f"lang_{code}").alias(f"lang_{code}") for code in _LANGS],
        "lang_pred",
    )


def q_stable_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic hash-based stratified sampling + train/val split:
    per-language downsampling fractions and a stable split assignment —
    same doc_id ⇒ same verdict on every engine/plan (the reproducibility
    property df.sample() lacks)."""
    from pyanomalydetector2_spark.operators.sampling import (
        stratified_hash_sample,
        train_split,
    )

    docs = load_table(spark, sf, "documents")
    sampled = stratified_hash_sample(
        docs, "doc_id", "lang", {"en": 0.5, "fr": 0.25, "de": 1.0}
    )
    return train_split(sampled, "doc_id", 0.8).select("doc_id", "lang", "split")


def q_quota_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Per-group quota cap (≤ 10 documents per (lang, source)) with a
    deterministic hash-ordered draw — the training-mix primitive for
    unknown/skewed group sizes (sampling.group_quota_sample)."""
    from pyanomalydetector2_spark.operators.sampling import (
        group_quota_sample,
    )

    docs = load_table(spark, sf, "documents").select(
        "doc_id", "lang", "source"
    )
    return group_quota_sample(docs, "doc_id", ["lang", "source"], cap=10)


def q_doc_fingerprint(spark: SparkSession, sf: str) -> DataFrame:
    """Winnowing-style fingerprint: 3 smallest 3-gram shingle hashes."""
    docs = load_table(spark, sf, "documents")
    return doc_fingerprint(docs, "doc_id", "text", k=3, n=3).withColumnRenamed(
        "id", "doc_id"
    )


# ======================================= §2 windows / detect / regularize ==
def q_local_peak(spark: SparkSession, sf: str) -> DataFrame:
    """W2 — sliding local-peak window means (reference detector.py:424-446):
    running extremes of trailing-2h window means per item."""
    from pyanomalydetector2_spark.operators.windows import local_peak

    ev = events_as_series(spark, sf)
    p = local_peak(ev, 7200)
    return p.select("itemid", _r("peak_up").alias("peak_up"), _r("peak_dn").alias("peak_dn"))


def q_minmax_normalize(spark: SparkSession, sf: str) -> DataFrame:
    """W4 — per-item (x−min)/(max−min) (reference normalizer.py:74-91)."""
    from pyanomalydetector2_spark.operators.windows import minmax_normalize

    ev = load_table(spark, sf, "events").select(
        "event_id", F.col("user_id").alias("itemid"), "value"
    )
    return minmax_normalize(ev, key="itemid").select(
        "event_id", "itemid", _r("norm").alias("norm")
    )


def q_zscore_indicator(spark: SparkSession, sf: str) -> DataFrame:
    """W6 — binary |z| > σ indicator per sample (reference
    classifiers/__init__.py:21-34)."""
    from pyanomalydetector2_spark.functions import z_indicator

    ev = load_table(spark, sf, "events").select(
        "event_id", F.col("user_id").alias("itemid"), "value"
    )
    stats = moment_stats(ev, ["itemid"]).select("itemid", "mean", "std")
    j = ev.join(F.broadcast(stats), "itemid")
    return j.select(
        "event_id",
        "itemid",
        z_indicator(F.col("value"), F.col("mean"), F.col("std"), 2.0).alias("zind"),
    )


def q_first_per_group(spark: SparkSession, sf: str) -> DataFrame:
    """A15 — deterministic first row per (item, day) (reference reporter.py:25)."""
    ev = load_table(spark, sf, "events")
    epoch = F.unix_timestamp("ts").cast("long")
    day = (epoch - epoch % 86400).alias("day")
    return (
        ev.select(F.col("user_id").alias("itemid"), day, "ts", "event_id", "value")
        .withColumn("rn", F.row_number().over(Window.partitionBy("itemid", "day").orderBy("ts", "event_id")))
        .filter(F.col("rn") == 1)
        .select("itemid", "day", "event_id", _r("value").alias("value"))
    )


def q_group_min_size(spark: SparkSession, sf: str) -> DataFrame:
    """A14 — keep groups with ≥ N members (reference reporter.py:28-32)."""
    ev = load_table(spark, sf, "events")
    return (
        ev.groupBy(F.col("user_id").alias("itemid"))
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .filter(F.col("cnt") >= 80)
    )


def q_like_wildcard(spark: SparkSession, sf: str) -> DataFrame:
    """P9 — '*'→'%' wildcard name resolution (reference zabbix_getter.py:114-160)."""
    from pyanomalydetector2_spark.functions import wildcard_to_like

    docs = load_table(spark, sf, "documents")
    return docs.filter(
        F.col("source").like(wildcard_to_like("src1*")) & (F.col("lang") == "en")
    ).select("doc_id", "source")


def q_union_all_counts(spark: SparkSession, sf: str) -> DataFrame:
    """U1 — UNION ALL of two source scans then rollup (reference
    zabbix_getter.py:36-47 history ∪ history_uint)."""
    ev = load_table(spark, sf, "events")
    a = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("itemid"), "value"
    )
    b = ev.filter(F.col("event_type") == "error").select(
        F.col("user_id").alias("itemid"), "value"
    )
    return (
        a.unionAll(b)
        .groupBy("itemid")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"), _r(F.sum("value")).alias("sum_v"))
    )


def q_incremental_merge(spark: SparkSession, sf: str) -> DataFrame:
    """A2/J2 — incremental moment merge: stats(half1) ⊕ stats(half2) must
    equal whole-table stats (reference stats.py:88-124); oracle computes the
    whole-table stats directly.

    Cross-engine determinism: raw float sums differ in the last ulp between
    summation orders, which can flip a 6-dp rounding at scale (observed at
    sf0.1). Both sides therefore round the RAW sums first — a no-op for
    this 1e-2-gridded data (sums on a 1e-2 grid, square-sums on 1e-4), i.e.
    bit-identical on both engines — and derive
    mean/std from those identical inputs (IEEE ops on identical doubles are
    deterministic)."""
    from pyanomalydetector2_spark.operators.stats import merge_moments

    ev = load_table(spark, sf, "events").select(
        F.col("user_id").alias("itemid"), "ts", "value"
    )
    a = moment_stats(ev.filter(F.col("ts") < _ntz(_CUT)), ["itemid"])
    b = moment_stats(ev.filter(F.col("ts") >= _ntz(_CUT)), ["itemid"])
    m = merge_moments(a, b, ["itemid"])
    s4 = F.round("sum", 4)
    q2 = F.round("sqr_sum", 4)
    mean = s4 / F.col("cnt")
    # cnt>1 + greatest(...,0) guards mirror _STD_CLOSED: a single-sample
    # item must yield std 0 (not NaN-vs-NULL engine divergence), and float
    # cancellation must not reach sqrt as a tiny negative
    var = F.try_divide(q2 - s4 * s4 / F.col("cnt"), F.col("cnt") - 1)
    std = F.when(
        F.col("cnt") > 1, F.sqrt(F.greatest(var, F.lit(0.0)))
    ).otherwise(F.lit(0.0))
    return m.select(
        "itemid",
        F.col("cnt").cast("long").alias("cnt"),
        s4.alias("sum_v"),
        _r(mean).alias("mean_v"),
        _r(std).alias("std_v"),
    )


_GRID_S, _GRID_E, _GRID_U = 1704067200, 1706659200, 86400  # Jan 2024, daily


def q_fit_base_clocks(spark: SparkSession, sf: str) -> DataFrame:
    """W3 — regularize irregular series onto the base-clock grid (reference
    normalizer.py:31-72): bucket-average, forward-fill, leading back-fill."""
    from pyanomalydetector2_spark.operators.windows import fit_to_base_clocks

    ev = events_as_series(spark, sf).filter(F.col("itemid") < 20)
    out = fit_to_base_clocks(ev, _GRID_S, _GRID_E, _GRID_U)
    return out.select("itemid", "clock", _r("value").alias("value"))


def q_detect2_screen(spark: SparkSession, sf: str) -> DataFrame:
    """detect2 — jump screen: recent extremes vs trend adjacent-diff
    distribution (reference detector.py:262-345), verbose output."""
    ev = load_table(spark, sf, "events").select(
        F.col("user_id").alias("itemid"), "ts", "event_id", "value"
    )
    trend = ev.filter(F.col("ts") < _ntz(_CUT))
    w = Window.partitionBy("itemid").orderBy("ts", "event_id")
    diffs = trend.withColumn(
        "diff", F.col("value") - F.lag("value").over(w)
    ).filter(F.col("diff").isNotNull() & (F.col("diff") != 0))
    dstats = moment_stats(diffs, ["itemid"], "diff").select(
        "itemid", F.col("mean").alias("dmean"), F.col("std").alias("dstd")
    )
    last_t = trend.groupBy("itemid").agg(
        F.max_by("value", F.struct("ts", "event_id")).alias("last_t")
    )
    recent = (
        ev.filter(F.col("ts") >= _ntz(_CUT))
        .groupBy("itemid")
        .agg(F.max("value").alias("max_h"), F.min("value").alias("min_h"))
    )
    j = recent.join(dstats, "itemid").join(last_t, "itemid").filter(F.col("dstd") > 0)
    up = (F.col("max_h") - F.col("last_t")) > (F.col("dmean") + 2.0 * F.col("dstd"))
    dn = (F.col("min_h") - F.col("last_t")) < (F.col("dmean") - 2.0 * F.col("dstd"))
    return j.filter(up | dn).select(
        "itemid",
        _r("max_h").alias("max_h"),
        _r("min_h").alias("min_h"),
        _r("last_t").alias("last_t"),
        _r("dmean").alias("dmean"),
        _r("dstd").alias("dstd"),
    )


def _detect3_screen(spark: SparkSession, sf: str, extra_cols: tuple = ()):
    """Shared detect3 phase-1 screen (ONE implementation for
    q_detect3_support and q_detect3_phase2 — a one-sided edit here cannot
    desync the two contract queries): returns (h, phase1_with_rates) where
    h = recent events joined to trend stats, filtered to std_t > 0 exactly
    like the oracle's h CTE."""
    ev = load_table(spark, sf, "events").select(
        F.col("user_id").alias("itemid"), "ts", *extra_cols, "value"
    )
    tstats = moment_stats(ev.filter(F.col("ts") < _ntz(_CUT)), ["itemid"]).select(
        "itemid", F.col("mean").alias("mean_t"), F.col("std").alias("std_t")
    )
    h = (
        ev.filter(F.col("ts") >= _ntz(_CUT))
        .join(F.broadcast(tstats), "itemid")
        .filter(F.col("std_t") > 0)
    )
    beyond = (
        F.abs(F.col("value") - F.col("mean_t")) > 0.5 * F.col("std_t")
    ).cast("int")
    phase1 = (
        h.groupBy("itemid")
        .agg(F.avg(beyond).alias("anom_rate"), F.avg("value").alias("mean_h"))
        .filter(F.col("anom_rate") >= 0.6)
    )
    return h, phase1


def q_detect3_support(spark: SparkSession, sf: str) -> DataFrame:
    """detect3 phase (a) — sustained deviation: share of recent samples
    beyond mean±λ·std of the trend ≥ rate (reference detector.py:395-421)."""
    _, sup = _detect3_screen(spark, sf)
    return sup.select(
        "itemid", _r("anom_rate").alias("anom_rate"), _r("mean_h").alias("mean_h")
    )


def q_embedding_near_dup(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: EXACT all-pairs via the
    distributed block-matmul operator — no driver-side collect, each block
    pair is one BLAS product inside applyInPandas. Hash-exact vs the
    all-pairs DuckDB oracle because the operator is exact (LSH cannot reach
    recall 1 at threshold 0.4; see cosine_near_dup_pairs_blocked docs)."""
    from pyanomalydetector2_spark.operators.similarity import (
        cosine_near_dup_pairs_blocked,
    )

    emb = load_table(spark, sf, "embeddings")
    # num_blocks=16: output invariant to K (exact op); see text_embed_near_dup
    return cosine_near_dup_pairs_blocked(emb, threshold=0.4, num_blocks=16)


def q_embedding_near_dup_lsh(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding near-dup via BANDED hyperplane-LSH (the r02 'weak' variant,
    now on the same capped-bucket + streamed-pair machinery as the MinHash
    side). Deterministic hyperplanes ⇒ the DuckDB oracle replicates every
    band signature, the bucket join, and the rounded-cosine re-rank —
    hash-exact, recall measured not assumed. max_bucket_size=None here for
    oracle parity (the production default 10k is pytest-covered with a
    planted hot bucket)."""
    from pyanomalydetector2_spark.operators.similarity import (
        cosine_near_dup_pairs,
    )

    emb = load_table(spark, sf, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    return cosine_near_dup_pairs(
        emb, threshold=0.4, dims=64, planes=4, bands=3, max_bucket_size=None
    )


def q_ann_lsh_topk(spark: SparkSession, sf: str) -> DataFrame:
    """ANN scale path: random-hyperplane LSH buckets + in-bucket exact
    re-rank. The hyperplanes are fully deterministic (sign = parity of
    md5('p:d')), so the DuckDB oracle replicates the ENTIRE pipeline —
    signature, bucket join, re-rank — and the check is hash-exact, not
    rows-only. Sign-margin audited: min |projection| over the fixtures is
    3.7e-5, ~8 orders above cross-engine float-sum error."""
    from pyanomalydetector2_spark.operators.similarity import lsh_bucketed_topk

    emb = load_table(spark, sf, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    q = emb.filter(F.col("vec_id") < 20)
    return lsh_bucketed_topk(emb, q, dims=64, k=5, planes=6)


def q_ann_ivf_topk(spark: SparkSession, sf: str) -> DataFrame:
    """ANN scale path #2 — IVF-flat: deterministic md5-ranked medoid
    centroids, nearest-cell assignment on rounded cosine, nprobe=2 probing,
    exact in-cell re-rank. Fully deterministic ⇒ the oracle replicates cell
    assignment, probing, and re-rank (hash-exact)."""
    from pyanomalydetector2_spark.operators.similarity import ivf_topk

    emb = load_table(spark, sf, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    q = emb.filter(F.col("vec_id") < 20)
    return ivf_topk(emb, q, k=5, n_cells=16, nprobe=2)


def q_ann_ivf_index_topk(spark: SparkSession, sf: str) -> DataFrame:
    """IVF against a PERSISTED index — the production shape: centroids +
    per-row cell assignments are built once, snapshotted (assignments
    partitioned by cell so a probe prunes to nprobe/n_cells of the files),
    read back, and probed. Same oracle as ann_ivf_topk because the index
    path is result-identical to the fresh path by construction.

    The index is built ONCE PER PROCESS per corpus (keyed on the corpus
    file's path+mtime+size, so a regenerated embeddings.parquet can never
    be served a stale index; see _cached_input) — repeated bench/contract
    invocations in one session measure the PROBE path, the one a
    production batch pays."""
    from pyanomalydetector2_spark.operators.similarity import (
        ivf_assignments,
        ivf_centroids,
        ivf_probe_topk,
    )
    from pyanomalydetector2_spark.sources.catalog import SnapshotTable

    emb = load_table(spark, sf, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )

    def build(base: str) -> str:
        cents = ivf_centroids(emb, n_cells=16)
        SnapshotTable(f"{base}/centroids").write_snapshot(cents)
        SnapshotTable(f"{base}/assignments").write_snapshot(
            ivf_assignments(emb, cents), partition_by=["cell"]
        )
        return base

    base = _cached_input("ivf_index", sf, "embeddings", build)
    t_c = SnapshotTable(f"{base}/centroids")
    t_a = SnapshotTable(f"{base}/assignments")
    q = emb.filter(F.col("vec_id") < 20)
    return ivf_probe_topk(
        emb, q, t_c.read(spark), t_a.read(spark), k=5, nprobe=2
    )


def q_item_conds(spark: SparkSession, sf: str) -> DataFrame:
    """P8 — declarative item_conds: a metadata filter selects an item subset
    (broadcast), then a {operator, value} condition applies to the item's
    aggregate (reference detector.py:169-257 + samples/zabbix.yml:26-81).
    Spec is compiled to Column expressions, not evaluated row-by-row."""
    spec = {"filter": "c_nationkey < 5", "condition": {"operator": ">", "value": 30000.0}}
    customer = load_table(spark, sf, "customer")
    orders = load_table(spark, sf, "orders")
    selected = customer.filter(F.expr(spec["filter"])).select(
        F.col("c_custkey").alias("itemid")
    )
    stats = (
        orders.join(F.broadcast(selected), orders.o_custkey == F.col("itemid"))
        .groupBy("itemid")
        .agg(F.avg("o_totalprice").alias("mean_v"))
    )
    cond = spec["condition"]
    return stats.filter(
        F.expr(f"mean_v {cond['operator']} {cond['value']}")
    ).select("itemid", _r("mean_v").alias("mean_v"))


def q_detect3_phase2(spark: SparkSession, sf: str) -> DataFrame:
    """detect3 phase 2 — items failing the phase-1 sustained screen get a
    second chance on their last-6-sample mean with λ3_2 scaled to this
    data (reference detector.py:519-546); output = phase1 ∪ rescued ids.
    Shares the phase-1 screen with q_detect3_support (std_t > 0 applied to
    h itself, matching the oracle's h CTE — zero-variance items never
    reach the rescue)."""
    h, sup = _detect3_screen(spark, sf, extra_cols=("event_id",))
    phase1 = sup.select("itemid")
    failed = h.join(phase1, "itemid", "left_anti")
    w = Window.partitionBy("itemid").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    recent = failed.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") <= 6)
    rescued = (
        recent.groupBy("itemid")
        .agg(F.avg("value").alias("mean_r"), F.first("mean_t").alias("mean_t"), F.first("std_t").alias("std_t"))
        .filter(F.abs(F.col("mean_r") - F.col("mean_t")) > 0.5 * F.col("std_t"))
        .select("itemid")
    )
    return phase1.union(rescued).distinct()


def q_topitems(spark: SparkSession, sf: str) -> DataFrame:
    """update_topitems (reference update_topitems.py:16-51 +
    detector.py:628-638): per-item trend stats enriched with the metadata
    dim (J7, broadcast), then top-3 per group by item_count (W5 nlargest)
    with an itemid tiebreak; clusterid pinned to -1 as the reference does."""
    ev = load_table(spark, sf, "events")
    cust = load_table(spark, sf, "customer").select(
        F.col("c_custkey").alias("itemid"),
        F.col("c_nationkey").alias("hostid"),
        F.col("c_name").alias("item_name"),
    )
    stats = moment_stats(
        ev.select(F.col("user_id").alias("itemid"), "value"), ["itemid"]
    ).select(
        "itemid",
        F.col("cnt").cast("long").alias("item_count"),
        F.col("mean").alias("trend_mean"),
        F.col("std").alias("trend_std"),
    )
    enriched = stats.join(F.broadcast(cust), "itemid")
    top = top_n_per_group(
        enriched, ["hostid"], "item_count", 3, tiebreak=["itemid"]
    )
    return top.select(
        "hostid",
        "itemid",
        "item_name",
        "item_count",
        F.lit(-1).alias("clusterid"),
        _r("trend_mean").alias("trend_mean"),
        _r("trend_std").alias("trend_std"),
    )


def q_tpch_q1(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q1 pricing summary — the canonical scan→filter→agg shape
    (predicate pushdown + map-side combine).

    Money algebra is EXACT fixed-point (cents / 1e-4 / 1e-6 integer
    units), like real TPC-H decimals. The float version failed at sf1.0:
    a charge sum of ~2.9e10 has double ulp ~7.6e-6, so round(sum, 2) sits
    near the noise floor and the summation order — parquet row order,
    which make_sf1.py regeneration does not preserve — decided the hash.
    Every per-row value is exactly 2-dp in the testdata, so the fixed-
    point quantization is lossless and the sums are order-independent
    BIGINTs at any scale; averages divide two exact integers (the same
    single IEEE op on both engines). Lesson recorded in BENCH §22."""
    li = load_table(spark, sf, "lineitem").filter(
        F.col("l_shipdate") <= _ntz(_Q1_CUT)  # date-granular: <= is exact
    )
    cents = li.select(
        "l_returnflag",
        "l_linestatus",
        F.round("l_quantity", 0).cast("long").alias("q"),
        F.round(F.col("l_extendedprice") * 100, 0).cast("long").alias("p"),
        F.round(F.col("l_discount") * 100, 0).cast("long").alias("d"),
        F.round(F.col("l_tax") * 100, 0).cast("long").alias("t"),
    )
    g = cents.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum("q").alias("sum_qty"),
        F.sum("p").alias("sum_base_price_c"),
        F.sum(F.col("p") * (100 - F.col("d"))).alias("sum_disc_price_e4"),
        F.sum(
            F.col("p") * (100 - F.col("d")) * (100 + F.col("t"))
        ).alias("sum_charge_e6"),
        F.sum("d").alias("_sum_d"),
        F.count(F.lit(1)).cast("long").alias("count_order"),
    )
    n = F.col("count_order")
    return g.select(
        "l_returnflag",
        "l_linestatus",
        "sum_qty",
        "sum_base_price_c",
        "sum_disc_price_e4",
        "sum_charge_e6",
        F.round(F.col("sum_qty").cast("double") / n, 6).alias("avg_qty"),
        F.round(
            (F.col("sum_base_price_c").cast("double") / n) / F.lit(100.0), 6
        ).alias("avg_price"),
        F.round(
            (F.col("_sum_d").cast("double") / n) / F.lit(100.0), 6
        ).alias("avg_disc"),
        "count_order",
    )


def q_tpch_q3(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q3 shipping priority — selective star join + top-10 with
    deterministic tie-break; dims broadcast."""
    cust = load_table(spark, sf, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf, "orders").filter(
        F.col("o_orderdate") < _ntz(_Q3_CUT)
    )
    li = load_table(spark, sf, "lineitem").filter(
        F.col("l_shipdate") > _ntz(_Q3_CUT)
    )
    sel_orders = orders.join(
        F.broadcast(cust), orders.o_custkey == cust.c_custkey
    ).select("o_orderkey", "o_orderdate")
    j = li.join(sel_orders, li.l_orderkey == F.col("o_orderkey"))
    agg = j.groupBy("l_orderkey", "o_orderdate").agg(
        _r(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "revenue"
        )
    )
    return agg.orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc()).limit(10)


def q_column_profile(spark: SparkSession, sf: str) -> DataFrame:
    """North-rule core — single-pass per-group column-stats profile
    (count, null-rate, min/max, mean/std via the moment algebra) in long
    layout; quantiles/HLL omitted here (sketches differ across engines)."""
    from pyanomalydetector2_spark.operators.stats import column_profile

    ev = load_table(spark, sf, "events")
    prof = column_profile(ev, ["value", "user_id"], group_cols=["event_type"])
    return prof.select(
        "event_type",
        "column",
        F.col("row_cnt").cast("long").alias("row_cnt"),
        F.col("cnt").cast("long").alias("cnt"),
        F.col("null_cnt").cast("long").alias("null_cnt"),
        _r("min").alias("min_v"),
        _r("max").alias("max_v"),
        _r("mean").alias("mean_v"),
        _r("std").alias("std_v"),
    )


def q_column_quantiles(spark: SparkSession, sf: str) -> DataFrame:
    """North-rule quantiles, exact flavor: per-group p25/p50/p75 via Spark's
    exact percentile (linear interpolation — matches DuckDB quantile_cont
    on doubles). The production profile uses the percentile_approx sketch
    (column_profile); this exact variant is the oracle-checkable pin of the
    quantile semantics."""
    ev = load_table(spark, sf, "events")
    q = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit([0.25, 0.5, 0.75])).alias("_q")
    )
    return q.select(
        "event_type",
        _r(F.element_at("_q", 1)).alias("p25"),
        _r(F.element_at("_q", 2)).alias("p50"),
        _r(F.element_at("_q", 3)).alias("p75"),
    )


# drift bins for the events.value distribution (observed range ≈ 0..490)
_DRIFT_LO, _DRIFT_HI, _DRIFT_NBINS = 0.0, 500.0, 10
# allowed-language dimension; 'zh' is the out-of-domain code in the testdata
_ALLOWED_LANGS = ("en", "fr", "de", "es")


def q_kll_quantiles(spark: SparkSession, sf: str) -> DataFrame:
    """North-rule quantiles, sketch flavor: the mergeable KLL sketch
    (operators/kll.py) exercised end-to-end through its real distributed
    path — mapInPandas partials per (partition × group), sketch-rows-only
    shuffle, applyInPandas merge, pandas-UDF quantile query. The input is
    capped at 4000 rows per group (row_number over a unique key) so the
    sketch stays in its exact, zero-compaction regime at EVERY scale factor
    and the nearest-rank answers are hash-comparable against DuckDB's
    quantile_disc; the compacting-regime error bound is pinned by
    tests/test_kll.py instead (a sketch estimate is approximate at scale by
    definition, so that contract is a bound, not a hash)."""
    from pyanomalydetector2_spark.operators.kll import kll_build, kll_quantiles

    ev = load_table(spark, sf, "events").filter(
        F.col("value").isNotNull() & ~F.isnan("value")
    )
    w = Window.partitionBy("event_type").orderBy("event_id")
    capped = (
        ev.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= 4000)
        .select("event_type", "value")
    )
    sk = kll_build(capped, "value", ["event_type"], k=8192)
    q = kll_quantiles(sk, [0.25, 0.5, 0.75], ["event_type"])
    return q.select(
        "event_type",
        F.col("n").cast("long").alias("n"),
        _r(F.element_at("q_values", 1)).alias("p25_d"),
        _r(F.element_at("q_values", 2)).alias("p50_d"),
        _r(F.element_at("q_values", 3)).alias("p75_d"),
    )


def q_drift_psi(spark: SparkSession, sf: str) -> DataFrame:
    """North-rule drift check, fully distributed: PSI + binned KS of the
    recent window vs the trend baseline per event_type
    (drift.drift_scores_df — the no-driver-funnel path for high-cardinality
    groups; same algebra as the reference-shaped drift_scores_multi)."""
    from pyanomalydetector2_spark.operators.drift import drift_scores_df

    ev = load_table(spark, sf, "events")
    cur = ev.filter(F.col("ts") >= _ntz(_CUT))
    base = ev.filter(F.col("ts") < _ntz(_CUT))
    d = drift_scores_df(
        cur, base, "value", _DRIFT_LO, _DRIFT_HI, _DRIFT_NBINS, "event_type"
    )
    return d.select(
        "event_type",
        _r("psi").alias("psi"),
        _r("ks").alias("ks"),
        F.col("cur_n").cast("long").alias("cur_n"),
        F.col("base_n").cast("long").alias("base_n"),
    )


_FRESH_AS_OF = "2024-01-31 00:00:00"
_FRESH_MAX_LAG_S = 1800.0


def q_freshness(spark: SparkSession, sf: str) -> DataFrame:
    """Per-partition freshness (stats.freshness — the Deequ/GE staple):
    exact integer-microsecond lag of each event_type's newest row vs a
    fixed as-of, verdict at 30 min. The sf0.01 maxes spread 23:23–23:57
    on 2024-01-30, so the threshold genuinely splits fresh from stale
    partitions. One map-side-combinable max/count aggregation — the
    cheapest whole-table check in the family. max_ts stays an operator
    output but is projected out here: lag_us encodes it exactly without
    a cross-engine timestamp-formatting convention."""
    from pyanomalydetector2_spark.operators.stats import freshness

    ev = load_table(spark, sf, "events")
    out = freshness(
        ev, "ts", _FRESH_AS_OF, ["event_type"], max_lag_s=_FRESH_MAX_LAG_S
    )
    return out.select(
        "event_type",
        F.col("n_rows").cast("long").alias("n_rows"),
        "lag_us",
        "fresh",
    )


def q_uniqueness_violations(spark: SparkSession, sf: str) -> DataFrame:
    """North-rule uniqueness check, exact stage: violation ROWS for an
    expected-unique key (clip_id analog = 40-char text prefix) via
    uniqueness.duplicate_rows — groupBy count + broadcast semi-join back.
    The HLL cheap screen is sketch-based (not oracle-able) and pytest-pinned
    in tests/test_clips_suite.py."""
    from pyanomalydetector2_spark.operators.uniqueness import duplicate_rows

    docs = load_table(spark, sf, "documents").withColumn(
        "key", F.substring("text", 1, 40)
    )
    v = duplicate_rows(docs, "key", ["doc_id"])
    return v.select(
        "doc_id", "key", F.col("dup_cnt").cast("long").alias("dup_cnt")
    )


def q_ri_violations(spark: SparkSession, sf: str) -> DataFrame:
    """North-rule referential-integrity check: fact rows whose code is absent
    from the allowed dimension (documents.lang vs the language dim — the
    codec/sr_hz domain-check shape), via integrity.referential_violations'
    broadcast anti-join: zero shuffle of the fact side."""
    from pyanomalydetector2_spark.operators.integrity import referential_violations

    docs = load_table(spark, sf, "documents")
    # JVM-side literal dim (no Python parallelize → no py-worker cold start)
    dim = spark.range(1).select(
        F.explode(F.array(*[F.lit(c) for c in _ALLOWED_LANGS])).alias("lang")
    )
    v = referential_violations(docs, "lang", dim, keep_cols=["doc_id"])
    return v.select("doc_id", "lang")


def _audio_corpus(
    spark: SparkSession, sf: str, max_id: int | None = None
) -> DataFrame:
    """Deterministic audio corpus keyed by documents.doc_id: clip i =
    content group i//3 re-encoded through codec variant i%3 (REAL FLAC /
    WAV at gain 0.85 / G.711 μ-law at gain 1.15) — scales with sf through
    the documents table while staying a pure function of the id, so the
    numpy-precomputed oracle fingerprint table covers every sf.

    ``max_id``/id predicates must be applied HERE (they prune at the
    stored table's parquet scan), never as a filter above a synth call:
    synth runs in mapInPandas, which Catalyst cannot push a predicate
    through."""
    from pyanomalydetector2_spark.operators.audio_fp import (
        ORACLE_FP_DIR,
        ORACLE_FP_SEEDS,
        synth_corpus,
    )

    # The synthesized corpus is MATERIALIZED once per process per id
    # source (clips-shaped parquet, _cached_input): every audio
    # query then reads a stored table — the engine's real input shape —
    # so benchmarks charge decode/fingerprint work, not datagen, and an
    # id predicate prunes at the parquet scan instead of dying above
    # mapInPandas.
    def build(base: str) -> str:
        # cap at the oracle table's precomputed seed range: a future sf
        # with more documents must not silently diverge from the oracle
        docs = (
            load_table(spark, sf, "documents")
            .select("doc_id")
            .filter(F.col("doc_id") < ORACLE_FP_SEEDS)
        )
        synth_corpus(spark, docs).write.mode("overwrite").parquet(
            f"{base}/clips"
        )
        return base

    base = _cached_input("audio_corpus", sf, "documents", build, ORACLE_FP_DIR)
    clips = spark.read.parquet(f"{base}/clips")
    if max_id is not None:
        clips = clips.filter(F.col("clip_id") < max_id)
    return clips


def q_audio_fingerprint(spark: SparkSession, sf: str) -> DataFrame:
    """Spectral fingerprints over the audio corpus: decode (REAL codecs) +
    Hann/rFFT band-energy-difference sign bits, fused in one Arrow-batched
    pass (audio_fp.audio_fingerprints). Hash-exact vs the numpy-precomputed
    oracle table because Spark executors run the SAME deterministic
    decode→fingerprint code the oracle precompute ran."""
    from pyanomalydetector2_spark.operators.audio_fp import audio_fingerprints

    fp = audio_fingerprints(_audio_corpus(spark, sf), id_col="clip_id")
    return fp.select(
        F.col("id").alias("clip_id"),
        F.posexplode("frames").alias("frame_idx", "hash"),
    )


def q_audio_near_dup(spark: SparkSession, sf: str) -> DataFrame:
    """Audio near-duplicate pairs (VERDICT r03 next-round #1): the same
    recording re-encoded through FLAC vs WAV vs G.711 — at different gains
    — must collide. decode → fingerprint (persisted once) → capped banded
    candidates on the shared pairs_from_banded machinery → JVM-side
    bit_count Hamming re-rank. max_bucket_size=None here for oracle parity
    (the production 10k cap is pytest-covered, same convention as
    embedding_near_dup_lsh)."""
    from pyanomalydetector2_spark.operators.audio_fp import audio_near_dup

    return audio_near_dup(
        _audio_corpus(spark, sf), threshold=0.85, max_bucket_size=None
    )


def q_ann_ivf_pq_topk(spark: SparkSession, sf: str) -> DataFrame:
    """ANN scale path #3 — IVF-PQ (product quantization, Jégou et al.
    2011): coarse IVF cells + per-sub-space codeword codes form a stored
    compressed index ~50× smaller than the vectors; ADC scoring is rounded
    cosine against the codeword reconstruction, so the probe never reads
    the embeddings table. Codebook = sub-vectors of the 32 smallest-h60
    corpus rows (deterministic, no k-means state), encoding = argmin of
    round(L2, 6) with smallest-j ties — fully SQL-replayable, hash-exact
    (similarity.ivf_pq_topk; the persisted-index probe path
    ivf_pq_probe_topk is pytest-proven result-identical)."""
    from pyanomalydetector2_spark.operators.similarity import ivf_pq_topk

    emb = load_table(spark, sf, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    q = emb.filter(F.col("vec_id") < 20)
    return ivf_pq_topk(emb, q, k=5, n_cells=16, nprobe=2, m_sub=8, n_codes=32)


def q_audio_near_dup_incremental(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental audio dedup ingest: near-dup pairs touching the new
    batch (clip_id < 100), computed by probing the batch's fingerprint
    bands against the STORED corpus fingerprint index
    (audio_fp.audio_near_dup_incremental) — decode runs only on the batch,
    pair generation is proportional to the batch, not the corpus (shared
    incremental_pairs_from_banded probe with the MinHash text path).

    The index is built ONCE PER PROCESS per corpus (same convention as
    q_ann_ivf_index_topk: keyed on the id-source parquet's
    path+mtime+size plus the fingerprint oracle version, banded layout
    partitioned by band) — repeated bench/contract invocations measure
    the batch-proportional PROBE path, the one a production ingest pays;
    the corpus decode is a one-time index build, exactly as it is in
    production."""
    from pyanomalydetector2_spark.operators.audio_fp import (
        ORACLE_FP_DIR,
        audio_fingerprints,
        audio_near_dup_incremental,
        fp_banded,
    )
    from pyanomalydetector2_spark.sources.catalog import SnapshotTable

    clips = _audio_corpus(spark, sf)
    # max_id prunes at the stored corpus's parquet scan — never filter
    # above a synth mapInPandas (measured 12.6 s → 2 s at sf0.1)
    new = _audio_corpus(spark, sf, max_id=_INCR_CUT)

    def build(base: str) -> str:
        old = clips.filter(F.col("clip_id") >= _INCR_CUT)
        fp = audio_fingerprints(old, id_col="clip_id").localCheckpoint()
        SnapshotTable(f"{base}/fp").write_snapshot(fp)
        # repartition by band BEFORE the partitioned write: each task then
        # holds whole bands and writes one file per band (~59 files), not
        # tasks × bands tiny files (~1800 — measured 3× slower to commit,
        # and the small-files debt compounds at every later probe scan)
        SnapshotTable(f"{base}/banded").write_snapshot(
            fp_banded(fp).repartition("band"), partition_by=["band"]
        )
        return base

    base = _cached_input(
        "audio_fp_index", sf, "documents", build, ORACLE_FP_DIR
    )
    index_fp = SnapshotTable(f"{base}/fp").read(spark)
    index_banded = SnapshotTable(f"{base}/banded").read(spark)
    return audio_near_dup_incremental(
        clips,
        new,
        index_fp=index_fp,
        index_banded=index_banded,
        threshold=0.85,
        max_bucket_size=None,
    )  # oracle has no cap (same convention as near_dup_incremental)


def q_ann_recall_audit(spark: SparkSession, sf: str) -> DataFrame:
    """Sampled ANN recall audit (VERDICT r03 next-round #6): per-query
    recall@5 of the LSH-bucketed path vs brute-force exact on the same
    query set — the observability metric a production ANN deployment
    gates on (recall < 1 by construction; measured, not assumed). Both
    constituent pipelines already have SQL-replicated oracles, so the
    audit itself is hash-exact: the oracle is literally a join of the two
    existing oracle subqueries."""
    from pyanomalydetector2_spark.operators.similarity import (
        brute_force_topk,
        lsh_bucketed_topk,
        recall_audit,
    )

    emb = load_table(spark, sf, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    q = emb.filter(F.col("vec_id") < 20)
    exact = brute_force_topk(emb, q, k=5)
    ann = lsh_bucketed_topk(emb, q, dims=64, k=5, planes=6)
    return recall_audit(ann, exact).select(
        "query_id", "exact_n", "hits", _r("recall").alias("recall")
    )


def q_audio_quality(spark: SparkSession, sf: str) -> DataFrame:
    """Per-clip audio quality metrics (the audio analog of text_quality):
    level (rms dB), peak, clipping ratio, silence ratio, zero-crossing
    rate — real decode + vectorized reductions fused in one Arrow pass.
    Hash-exact vs the numpy-precomputed oracle quality table (same
    deterministic code on both sides)."""
    from pyanomalydetector2_spark.operators.audio_fp import audio_quality

    q = audio_quality(_audio_corpus(spark, sf), id_col="clip_id")
    return q.select(
        F.col("id").alias("clip_id"),
        "n_samples",
        _r("rms_db").alias("rms_db"),
        _r("peak").alias("peak"),
        _r("clipping_ratio").alias("clipping_ratio"),
        _r("silence_ratio").alias("silence_ratio"),
        _r("zcr").alias("zcr"),
    )


def q_audio_trim(spark: SparkSession, sf: str) -> DataFrame:
    """Silence trim points (librosa-style relative top_db threshold) over
    a corpus with PLANTED dead air: clip q carries (q·3 mod 17) leading
    and (q·5 mod 13) trailing zero frames around real synth content.
    Spark decodes the actual WAV bytes and scans frame RMS; the DuckDB
    oracle is the closed-form plant arithmetic — a trim scan that
    misplaces a single frame hash-mismatches."""
    from pyanomalydetector2_spark.operators.audio_fp import (
        audio_trim,
        synth_padded_corpus,
    )

    # The padded corpus is datagen INPUT (the oracle's closed-form plant
    # arithmetic treats it as given facts): materialize it once per
    # process per id source — the SAME stored-table convention as
    # _audio_corpus — so the measured operator is audio_trim's real
    # decode + RMS scan over a stored clips table (the engine's actual
    # input shape), not the synth+WAV-encode datagen pass.
    def build(base: str) -> str:
        docs = load_table(spark, sf, "documents").select("doc_id")
        # ~200 rows (≈7 MB of WAV payload) per file: bounds the columnar
        # read batch of the binary column (see synth_padded_corpus)
        n_parts = max(
            spark.sparkContext.defaultParallelism, docs.count() // 200 + 1
        )
        synth_padded_corpus(spark, docs, partitions=n_parts).write.mode(
            "overwrite"
        ).parquet(f"{base}/clips")
        return base

    base = _cached_input("padded_corpus", sf, "documents", build)
    out = audio_trim(spark.read.parquet(f"{base}/clips"))
    return out.withColumnRenamed("id", "clip_id")


def q_audio_container_consistency(spark: SparkSession, sf: str) -> DataFrame:
    """Declared-vs-container cross-field integrity: dur_ms and sr_hz as a
    producer WROTE them vs what the payload's own container header says
    (multimodal.audio_container_consistency — header walk only, never a
    sample decode). Declared columns are planted deterministically: every
    clip truly holds 16384 samples @ 8 kHz (2048 ms); clip_id % 7 == 3
    rows declare a stale +500 ms duration, clip_id % 11 == 5 rows declare
    a resampled-but-never-resampled 16 kHz. Spark must recover the truth
    from real FLAC STREAMINFO / RIFF fmt / raw-G.711 byte counts; the
    DuckDB oracle replays only the arithmetic — so a container parser that
    misreads a single field hash-mismatches."""
    from pyanomalydetector2_spark.operators.multimodal import (
        audio_container_consistency,
    )

    clips = _audio_corpus(spark, sf).select(
        "*",
        (
            F.lit(2048)
            + F.when(F.col("clip_id") % 7 == 3, F.lit(500)).otherwise(F.lit(0))
        ).alias("dur_ms"),
        F.when(F.col("clip_id") % 11 == 5, F.lit(16000))
        .otherwise(F.lit(8000))
        .alias("sr_hz"),
    )
    out = audio_container_consistency(clips)
    # -1 sentinel instead of NULL for the raw-G.711 rows (no container
    # rate): keeps the driver's value-hash free of null-float coercion
    return out.select(
        "clip_id",
        "container",
        F.coalesce(F.col("container_sr"), F.lit(-1)).alias("container_sr"),
        "container_samples",
        "container_dur_ms",
        "dur_ok",
        "sr_ok",
    )


_SILENT_BASE = 1_000_000  # clip_id offset for planted silent clips
_N_SILENT = 8


def q_transcript_audio_consistency(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-modal transcript↔audio consistency (VERDICT r04 next-round
    #1): the north-rule table is clip+transcript PAIRS, and this is the
    first check that compares the two modalities of a row instead of
    validating each alone. Three verdicts per pair, all pure column
    expressions over the already-computed fused-Arrow quality frame and
    the transcript tokens (crossmodal.transcript_audio_consistency —
    zero new decode passes):

    - silent_with_transcript: ≥99 % sub-1 %-FS samples yet ≥1 token;
    - speech_with_empty_transcript: clearly-speech audio, 0 tokens;
    - rate_outlier: tokens/sec outside [2, 60] on speech-with-transcript
      rows (normal docs over the 2.048 s clips run 4.9–48.8 t/s).

    Plants (both engines replay the same arithmetic): transcript '' on
    clip_id % 13 == 4 (empty-on-speech), ×13-repeated text on % 17 == 6
    (rate ≥ 63 t/s), the single token 'ok' on % 19 == 7 (0.49 t/s), and
    8 REAL digitally-silent WAV clips at ids ≥ 1e6 paired with
    a long transcript (even offsets — flagged) or an empty one (odd —
    silence with no label is consistent, the negative control). Spark
    must recover silence_ratio from an actual RIFF walk + PCM decode;
    the DuckDB side reads the same-code-precomputed quality oracle."""
    from pyanomalydetector2_spark.operators.audio_fp import (
        ORACLE_FP_SEEDS,
        audio_quality,
        silent_wav_clip,
    )
    from pyanomalydetector2_spark.operators.crossmodal import (
        transcript_audio_consistency,
    )

    payload = silent_wav_clip()
    silent = local_rows_df(
        spark,
        [(_SILENT_BASE + i, payload, "wav") for i in range(_N_SILENT)],
        "clip_id long, bytes binary, codec string",
    )
    corpus = _audio_corpus(spark, sf).unionByName(silent)
    quality = audio_quality(corpus, id_col="clip_id")

    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    normal_t = docs.filter(F.col("doc_id") < ORACLE_FP_SEEDS).select(
        F.col("doc_id").alias("id"),
        F.when(F.col("doc_id") % 13 == 4, F.lit(""))
        .when(
            F.col("doc_id") % 17 == 6,
            F.repeat(F.concat(F.col("text"), F.lit(" ")), 13),
        )
        .when(F.col("doc_id") % 19 == 7, F.lit("ok"))
        .otherwise(F.col("text"))
        .alias("transcript"),
    )
    silent_t = docs.filter(F.col("doc_id") < _N_SILENT).select(
        (F.col("doc_id") + _SILENT_BASE).alias("id"),
        F.when(F.col("doc_id") % 2 == 0, F.col("text"))
        .otherwise(F.lit(""))
        .alias("transcript"),
    )
    out = transcript_audio_consistency(
        quality,
        normal_t.unionByName(silent_t),
        sr_hz=8000.0,
        min_tokens_per_s=2.0,
        max_tokens_per_s=60.0,
    )
    return out.select(
        F.col("id").alias("clip_id"),
        "n_tokens",
        "silence_ratio",
        "tokens_per_s",
        F.col("silent_with_transcript").cast("int").alias(
            "silent_with_transcript"
        ),
        F.col("speech_with_empty_transcript").cast("int").alias(
            "speech_with_empty_transcript"
        ),
        F.col("rate_outlier").cast("int").alias("rate_outlier"),
        F.col("consistent").cast("int").alias("consistent"),
    )


_STREAM_CUT = 1000  # clips streamed by q_audio_ingest_stream


def q_audio_ingest_stream(spark: SparkSession, sf: str) -> DataFrame:
    """Structured Streaming ingest, oracle-checked end-to-end: the corpus
    (first 1000 clips) is written as 4 parquet files and DRAINED through a
    real file-source stream (Trigger.AvailableNow, maxFilesPerTrigger=1 →
    4 micro-batches), each batch container-gated, fingerprinted, probed
    against the growing stored index, then indexed
    (streaming.audio_ingest). Every pair is discovered exactly once — in
    the micro-batch where its later member arrives — so the accumulated
    pair table equals the one-shot audio_near_dup set and the SAME SQL
    oracle applies: a streaming pipeline with a hash-exact correctness
    gate, not a rows-only smoke check. Fresh state per invocation:
    repeated runs measure the full drain, not a warm cache."""
    from pyanomalydetector2_spark.streaming.audio_ingest import (
        ingest_audio_stream,
        ingested_pairs,
    )

    # arrival directory: written once per process (it is DATAGEN — the
    # producer's side of the fence), 4 files so AvailableNow drains in 4
    # micro-batches; the timed work is the drain itself
    def build(src: str) -> str:
        corpus = _audio_corpus(spark, sf, max_id=_STREAM_CUT).select(
            "clip_id",
            "bytes",
            "codec",
            F.lit(2048).alias("dur_ms"),
            F.lit(8000).alias("sr_hz"),
        )
        corpus.repartition(4).write.mode("overwrite").parquet(src)
        return src

    src = _cached_input("ingest_src", sf, "documents", build)
    state = _cache_tmpdir("pyad2_ingest_state_")
    ingest_audio_stream(
        spark,
        src,
        state,
        threshold=0.85,
        max_bucket_size=None,  # None for oracle parity (cap pytest-covered)
        shuffle_partitions=8,  # size the shuffle to the micro-batch
    )
    return ingested_pairs(spark, state).select("id_a", "id_b", "sim")


def q_audio_dup_clusters(spark: SparkSession, sf: str) -> DataFrame:
    """Audio duplicate-cluster resolution: connected components
    (dedup.dup_clusters min-label propagation) over the spectral
    near-dup pairs — the same cluster machinery the text side uses, keyed
    on audio content. Oracle = recursive-CTE reachability over the SQL
    pair replay."""
    from pyanomalydetector2_spark.operators.audio_fp import audio_near_dup
    from pyanomalydetector2_spark.operators.dedup import dup_clusters

    pairs = audio_near_dup(
        _audio_corpus(spark, sf), threshold=0.85, max_bucket_size=None
    )
    out = dup_clusters(pairs.select("id_a", "id_b"))
    return out.select(F.col("id").alias("clip_id"), "cluster_id")


_SNIPPET_CORPUS_CAP = 2000  # leaves seeds [cap, ORACLE_FP_SEEDS) for
#                             out-of-corpus negative snippets at every sf


def q_audio_snippet_search(spark: SparkSession, sf: str) -> DataFrame:
    """Query-by-audio snippet search (audio_fp.snippet_search): every even
    qid's snippet is a HOP-aligned slice of a corpus clip and must be
    found at its planted frame offset; every odd qid's snippet is real
    audio from a seed OUTSIDE the corpus and must only ever appear via
    chance key collisions (which the oracle replays identically). Spark
    decodes the actual snippet WAV bytes and the corpus clips through the
    real codecs; the DuckDB oracle rebuilds both sides' hashes from the
    numpy-precomputed frames table and replays the broadcast-join +
    offset-groupBy algebra in SQL."""
    from pyanomalydetector2_spark.operators.audio_fp import (
        snippet_search,
        synth_snippets,
    )

    docs = load_table(spark, sf, "documents").select("doc_id")
    # snippet WAVs are datagen INPUT (the arriving queries): materialize
    # them once per process per id source — same stored-table convention
    # as _audio_corpus / the padded trim corpus — so the measured work is
    # the real snippet decode→fingerprint + corpus decode + align, not
    # the query-synthesis pass. ~200 rows/file bounds the binary columnar
    # read batch (see synth_padded_corpus).
    def build(base: str) -> tuple[str, int]:
        n_corpus = min(
            int(docs.agg(F.max("doc_id")).first()[0]) + 1,
            _SNIPPET_CORPUS_CAP,
        )
        n_parts = max(
            spark.sparkContext.defaultParallelism, docs.count() // 200 + 1
        )
        synth_snippets(
            spark, docs, n_corpus, partitions=n_parts
        ).write.mode("overwrite").parquet(f"{base}/snippets")
        return base, n_corpus

    base, n_corpus = _cached_input("snippet_src", sf, "documents", build)
    corpus = _audio_corpus(spark, sf, max_id=n_corpus)
    snippets = spark.read.parquet(f"{base}/snippets")
    return snippet_search(corpus, snippets)


def q_audio_keep_best(spark: SparkSession, sf: str) -> DataFrame:
    """The end-to-end AUDIO dedup decision: spectral near-dup clusters →
    keep the loudest member per cluster (max rms_db, ties → smallest
    clip_id), mark the rest as drops — fingerprint, cluster, quality
    score and decision all computed from the clip bytes by this engine.
    The corpus parquet is scanned twice (pairs, quality) but each pass is
    one Arrow-batched decode with no shuffle of ``bytes``."""
    from pyanomalydetector2_spark.operators.audio_fp import (
        audio_near_dup,
        audio_quality,
    )
    from pyanomalydetector2_spark.operators.dedup import (
        dup_clusters,
        keep_best_per_cluster,
    )

    corpus = _audio_corpus(spark, sf)
    pairs = audio_near_dup(corpus, threshold=0.85, max_bucket_size=None)
    clusters = dup_clusters(pairs.select("id_a", "id_b"))
    scores = audio_quality(corpus).select(
        F.col("id").alias("clip_id"), "rms_db"
    )
    out = keep_best_per_cluster(
        clusters, scores, id_col="clip_id", score_col="rms_db"
    )
    return out.select(
        "clip_id", "cluster_id", _r("score").alias("score"), "keep"
    )


_MISM_BIG = "mislabeled conflicting transcript planted for this member"
_MISM_SMALL = "ok"


def q_audio_dup_transcript_mismatch(spark: SparkSession, sf: str) -> DataFrame:
    """Label-consistency over audio duplicates (the cross-modal completion
    of the dedup funnel): pairs whose AUDIO matches (spectral near-dup,
    the real decode path) but whose transcripts conflict — a defect no
    single-modality check can see (crossmodal.dup_transcript_mismatch).

    Transcript plant, replayed by both engines: every member of content
    group g = clip_id div 3 carries doc 3g's text (members of a group ARE
    the same recording, so agreeing labels are the ground truth), except
    - g % 7 == 3, member clip_id % 3 == 2: its OWN text + a 57-char tail
      (dist ≫ 5 ⇒ the pairs against members 0/1 flag mismatch);
    - g % 11 == 5, member clip_id % 3 == 1: base text + ' ok' (dist = 3
      ≤ max_dist ⇒ dist > 0 yet NOT flagged — the threshold's negative
      control). The member indices differ, so both plants can coexist in
      a group that satisfies both strides."""
    from pyanomalydetector2_spark.operators.audio_fp import (
        ORACLE_FP_SEEDS,
        audio_near_dup,
    )
    from pyanomalydetector2_spark.operators.crossmodal import (
        dup_transcript_mismatch,
    )

    pairs = audio_near_dup(
        _audio_corpus(spark, sf), threshold=0.85, max_bucket_size=None
    )
    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    base = docs.select(
        F.col("doc_id").alias("gdoc"), F.col("text").alias("gtext")
    )
    g = F.expr("doc_id div 3")
    tr = (
        docs.filter(F.col("doc_id") < ORACLE_FP_SEEDS)
        .withColumn("gdoc", g * 3)
        .join(base, "gdoc")
        .select(
            F.col("doc_id").alias("id"),
            F.when(
                (g % 7 == 3) & (F.col("doc_id") % 3 == 2),
                F.concat(F.col("text"), F.lit(" " + _MISM_BIG)),
            )
            .when(
                (g % 11 == 5) & (F.col("doc_id") % 3 == 1),
                F.concat(F.col("gtext"), F.lit(" " + _MISM_SMALL)),
            )
            .otherwise(F.col("gtext"))
            .alias("transcript"),
        )
    )
    return dup_transcript_mismatch(pairs, tr, max_dist=5)


def q_audio_embed(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic spectral embeddings from clip BYTES (the audio analog
    of text_embed — ANN/near-dup on corpora that arrive without vectors):
    decode → per-band log-energy mean/std over the fingerprint frame grid,
    fused in one Arrow pass (audio_fp.audio_embed). Hash-exact vs the
    same-code-precomputed oracle parquet (the ensure_oracle_quality
    convention); exploded to (clip_id, i, val) scalars, both engines
    rounding the identical stored double."""
    from pyanomalydetector2_spark.operators.audio_fp import audio_embed

    emb = audio_embed(_audio_corpus(spark, sf))
    return emb.select(
        F.col("id").alias("clip_id"),
        F.posexplode("embedding").alias("i", "val"),
    ).select("clip_id", "i", _r("val").alias("val"))


def q_audio_embed_near_dup(spark: SparkSession, sf: str) -> DataFrame:
    """Cosine CANDIDATE pairs over the DERIVED audio embeddings — the
    full bytes→vector→exact blocked-matmul pipeline. At 0.995 every
    re-encode variant pair is recovered (recall 1.0 over all 4,999
    within-group pairs of the 5,000-seed corpus, measured), plus
    cross-content neighbors the 4-component synthetic generator makes
    genuinely close in 32-dim spectral space (no threshold separates:
    0.9995 drops recall to 0.985) — candidate-generation semantics, with
    the fingerprint Hamming re-rank (audio_near_dup) as the confirm
    stage, exactly like banded MinHash → Jaccard on the text side. The
    oracle replays all-pairs cosine over the precomputed embedding
    table, so the check is hash-exact wherever the threshold cuts."""
    from pyanomalydetector2_spark.operators.audio_fp import audio_embed
    from pyanomalydetector2_spark.operators.similarity import (
        cosine_near_dup_pairs_blocked,
    )

    emb = audio_embed(_audio_corpus(spark, sf))
    return cosine_near_dup_pairs_blocked(
        emb, threshold=0.995, id_col="id", vec_col="embedding", num_blocks=16
    )


_VDRIFT_K = 10


def q_vocab_drift(spark: SparkSession, sf: str) -> DataFrame:
    """Vocabulary-shift monitor (text.vocab_drift): frequency-PSI + linf
    of each source's TOKEN distribution vs the whole-corpus baseline,
    with the category set CAPPED by construction — the baseline's top-10
    tokens keep identity, the tail folds into '<other>' — so the drift
    grid stays ≤ k+1 categories at any corpus size. Explode → broadcast
    vocab join → the shared window-pinned categorical drift machinery
    (exactly-additive counts, streamable like codec drift)."""
    from pyanomalydetector2_spark.operators.text import vocab_drift

    docs = load_table(spark, sf, "documents")
    out = vocab_drift(docs, docs, vocab_k=_VDRIFT_K)
    return out.select(
        "source",
        _r("psi").alias("psi"),
        _r("linf").alias("linf"),
        F.col("cur_n").cast("long").alias("cur_n"),
        F.col("base_n").cast("long").alias("base_n"),
    )


_AQD_LO, _AQD_HI, _AQD_NBINS = -20.0, -5.0, 20


def q_audio_quality_drift(spark: SparkSession, sf: str) -> DataFrame:
    """Distribution drift on a DECODED audio feature (the north star's
    PSI/KS drift aimed at the signal itself, not declared metadata):
    per-bucket PSI + binned KS of rms_db for the μ-law/gain-1.15 slice
    (clip_id % 3 == 2) vs the WAV/gain-0.85 baseline slice (% 3 == 1) —
    a real ~2.6 dB level shift the histograms must expose. Spark decodes
    both slices in one fused Arrow pass (filter pushed to the corpus
    parquet scan first — variant-0 clips are never decoded) and runs the
    fully-distributed drift_scores_df; the oracle replays binning + the
    window-ordered PSI accumulation over the same-code-precomputed
    quality table."""
    from pyanomalydetector2_spark.operators.audio_fp import audio_quality
    from pyanomalydetector2_spark.operators.drift import drift_scores_df

    corpus = _audio_corpus(spark, sf).filter(F.col("clip_id") % 3 != 0)
    q = audio_quality(corpus)
    cur = q.filter(F.col("id") % 3 == 2).withColumn(
        "bucket", (F.col("id") % 8).cast("int")
    )
    base = q.filter(F.col("id") % 3 == 1)
    d = drift_scores_df(
        cur, base, "rms_db", _AQD_LO, _AQD_HI, _AQD_NBINS, "bucket"
    )
    return d.select(
        "bucket",
        _r("psi").alias("psi"),
        _r("ks").alias("ks"),
        F.col("cur_n").cast("long").alias("cur_n"),
        F.col("base_n").cast("long").alias("base_n"),
    )


def q_drift_categorical(spark: SparkSession, sf: str) -> DataFrame:
    """Categorical drift (VERDICT r03 next-round #5): frequency-PSI + linf
    (max share deviation — the order-free KS analog) of each source's
    ``lang`` distribution vs the whole-corpus baseline. Fully distributed
    (drift_scores_categorical_df): one groupBy per side, broadcast
    baseline counts, window-ordered PSI accumulation so float addition
    order is pinned — which is exactly what lets the DuckDB oracle match
    hash-exactly."""
    from pyanomalydetector2_spark.operators.drift import (
        drift_scores_categorical_df,
    )

    docs = load_table(spark, sf, "documents")
    out = drift_scores_categorical_df(docs, docs, "lang", group_col="source")
    return out.select(
        "source",
        _r("psi").alias("psi"),
        _r("linf").alias("linf"),
        "cur_n",
        "base_n",
    )


# --- streaming constraint suite (suite_stream / suite_stream_verdicts) ----
# A deterministic clips-shaped frame derived from events in pure SQL
# arithmetic, so DuckDB replays the derivation AND the suite semantics.
# Plants (all prime strides): cross-bucket clip_id duplicates (%97),
# unknown codec (%10=7), out-of-dim sr_hz (%53=5), dur_ms=0 (%41=0),
# NULL transcript (%23=4), empty transcript (%29=6).
_SS_EFF = "CASE WHEN event_id % 97 = 1 AND event_id > 0 THEN event_id - 1 ELSE event_id END"
_SS_CODEC5 = (
    "CASE cast(event_id % 5 as int) WHEN 0 THEN 'flac' WHEN 1 THEN 'wav' "
    "WHEN 2 THEN 'opus' WHEN 3 THEN 'mp3' ELSE 'pcm_s16le' END"
)
_SS_CODEC = f"CASE WHEN event_id % 10 = 7 THEN 'weird' ELSE {_SS_CODEC5} END"
_SS_SR = (
    "cast(CASE WHEN event_id % 53 = 5 THEN 12345 ELSE "
    "CASE cast(event_id % 4 as int) WHEN 0 THEN 8000 WHEN 1 THEN 16000 "
    "WHEN 2 THEN 44100 ELSE 48000 END END as int)"
)
_SS_TRANSCRIPT = (
    "CASE WHEN event_id % 23 = 4 THEN cast(NULL as string) "
    "WHEN event_id % 29 = 6 THEN '' "
    "ELSE concat('utterance ', cast(event_id % 13 as string)) END"
)


def _ss_dur(mult: int) -> str:
    return (
        f"cast(CASE WHEN event_id % 41 = 0 THEN 0 "
        f"ELSE 500 + (event_id * {mult}) % 9000 END as int)"
    )


def _ss_clips_frame(spark: SparkSession, sf: str, baseline: bool) -> DataFrame:
    """Current (planted) or baseline (clean codec mix, shifted dur
    distribution) clips frame — a pure function of events.event_id."""
    ev = load_table(spark, sf, "events").select("event_id")
    dur = _ss_dur(31 if baseline else 37)
    codec = _SS_CODEC5 if baseline else _SS_CODEC
    return ev.select(
        F.expr("cast(event_id % 8 as int)").alias("bucket"),
        F.concat(
            F.lit("clip-"),
            F.lpad(F.expr(_SS_EFF).cast("string"), 12, "0"),
        ).alias("clip_id"),
        F.expr(codec).alias("codec"),
        F.expr(_SS_SR).alias("sr_hz"),
        F.expr(dur).alias("dur_ms"),
        F.expr(_SS_TRANSCRIPT).alias("transcript"),
    )


def _ss_suite():
    from pyanomalydetector2_spark.constraints.dsl import (
        DriftCheck,
        ReconcileCheck,
        RefCheck,
        RowCheck,
        StatCheck,
        Suite,
        UniqueCheck,
    )

    # drift thresholds deliberately generous: the ORACLE checks the psi/ks
    # values themselves; pass flags must be robustly off any boundary
    return Suite(
        row_checks=(
            RowCheck(
                "dur_ms_positive",
                "dur_ms IS NOT NULL AND dur_ms > 0 AND dur_ms <= 600000",
                "cast(dur_ms as string)",
                "0 < dur_ms <= 600000",
            ),
            RowCheck(
                "transcript_not_null",
                "transcript IS NOT NULL AND length(transcript) > 0",
                "coalesce(transcript, 'NULL')",
                "non-empty transcript",
            ),
        ),
        stat_checks=(
            StatCheck("transcript_null_rate", "transcript", "null_rate", "<=", 0.02),
            StatCheck("dur_ms_mean_sane", "dur_ms", "mean", "<=", 5500.0),
        ),
        unique_checks=(UniqueCheck("clip_id_unique", "clip_id"),),
        ref_checks=(
            RefCheck("codec_in_dim", "codec", "dim_codec"),
            RefCheck("sr_in_dim", "sr_hz", "dim_sr"),
        ),
        drift_checks=(
            DriftCheck(
                "dur_drift", "dur_ms", 0.0, 10000.0, nbins=20,
                psi_max=5.0, ks_max=1.0,
            ),
            DriftCheck(
                "codec_shift", "codec", 0.0, 0.0,
                psi_max=5.0, ks_max=1.0, categorical=True,
            ),
        ),
        # reconcile vs the baseline snapshot: identical key sets (both
        # derived from events via the same _SS_EFF), so the diff is pure
        # 'changed' rows wherever the planted codec differs — replayed in
        # streaming from merged (key, compare-tuple, bucket) counts. The
        # changed rate is ~0.1 per bucket, robustly under the 0.5 bound;
        # the ORACLE checks the rate values themselves.
        reconcile_checks=(
            ReconcileCheck(
                "codec_reconcile", ("codec",),
                max_removed_rate=0.0, max_changed_rate=0.5,
            ),
        ),
    )


_SS_SCHEMA = (
    "bucket int, clip_id string, codec string, sr_hz int, dur_ms int, "
    "transcript string"
)
_SS_CODECS = ("flac", "wav", "opus", "mp3", "pcm_s16le")
_SS_SRS = (8000, 16000, 44100, 48000)


def _ss_dims(spark: SparkSession) -> dict[str, DataFrame]:
    return {
        "dim_codec": spark.range(1).select(
            F.explode(F.array(*[F.lit(c) for c in _SS_CODECS])).alias("codec")
        ),
        "dim_sr": spark.range(1).select(
            F.explode(F.array(*[F.lit(s) for s in _SS_SRS])).alias("sr_hz")
        ),
    }


# newest drained state dir per sf (keyed like _cached_input), read back by
# the verdicts query
_SS_STATE_CACHE: dict[tuple, str] = {}


def _ss_drain(
    spark: SparkSession, sf: str, reuse: bool = False,
    with_verdicts: bool = True,
):
    """Write the derived frame as 3 files and drain it through the
    streaming validator, then assemble the merged-state result.
    ``reuse=False`` (the drain query) uses fresh state per
    invocation so repeated runs measure the full drain; ``reuse=True``
    (the verdicts query) reads the newest already-drained state for this
    sf when one exists — the two contract queries check two projections
    of ONE pipeline, and re-draining identical input twice would measure
    nothing new."""
    from pyanomalydetector2_spark.streaming.suite_stream import (
        run_suite_stream,
        streaming_suite_result,
    )

    suite = _ss_suite()
    key = _input_key("ss_state", sf, "events")
    state = _SS_STATE_CACHE.get(key) if reuse else None
    if state is None:
        # the ARRIVAL directory is datagen — the producer's side of the
        # fence (same convention as the audio ingest's arrival dir):
        # write it once per process per sf; every drain still starts from
        # FRESH state + checkpoint dirs, so repeated runs measure the full
        # drain over the same 3-file backlog
        def build(src: str) -> str:
            _ss_clips_frame(spark, sf, baseline=False).repartition(
                3
            ).write.mode("overwrite").parquet(src)
            return src

        src = _cached_input("ss_src", sf, "events", build)
        state = _cache_tmpdir("pyad2_ss_state_")
        run_suite_stream(
            spark, src, state, suite, _ss_dims(spark), "ss", _SS_SCHEMA,
            max_files_per_trigger=1, shuffle_partitions=8,
        )
        _SS_STATE_CACHE[key] = state
    return streaming_suite_result(
        spark, state, suite, _ss_clips_frame(spark, sf, baseline=True), "ss",
        with_verdicts=with_verdicts,
    )


def q_suite_stream(spark: SparkSession, sf: str) -> DataFrame:
    """The streaming constraint suite behind the strong oracle: a
    deterministic clips-shaped frame (planted cross-bucket duplicates,
    unknown codec, out-of-dim sample rate, zero durations, NULL/empty
    transcripts) is written as 3 parquet files and DRAINED through a real
    file-source stream (streaming.run_suite_stream, Trigger.AvailableNow,
    one file per micro-batch). Row/ref violations append per batch;
    uniqueness resolves from merged per-key counts — including duplicates
    whose two rows arrive in DIFFERENT micro-batches and land in different
    partition buckets. The accumulated violation set equals a one-shot
    evaluation of every predicate over the union, which is exactly what
    the DuckDB oracle replays. Fresh state per invocation: repeated runs
    measure the full drain."""
    # with_verdicts=False: this query consumes only the violations frame,
    # so the drift/stat verdict funnels (measured by suite_stream_verdicts
    # over the same state) are skipped — violations are computed unchanged
    res = _ss_drain(spark, sf, reuse=False, with_verdicts=False)
    return res.violations.select(
        "bucket", "clip_id", "constraint_id", "observed", "expected"
    )


def q_suite_stream_verdicts(spark: SparkSession, sf: str) -> DataFrame:
    """The streaming suite's per-bucket VERDICT frame from merged
    incremental state: violation-count grid, stat checks from merged
    moment partials (closed-form mean / null_rate), uniform-bin drift
    psi/ks from summed integer histograms, categorical drift psi/linf
    from summed category counts — every number recomputed independently
    by the DuckDB oracle over the same derived frame. The HLL screen row
    is sketch-based (not oracle-able) and excluded here; it is
    pytest-pinned equal to the batch runner's estimate
    (tests/test_suite_stream.py). Reuses the newest drained state for this
    sf when one exists (the drain cost is suite_stream's measurement;
    this query measures merged-state verdict assembly)."""
    res = _ss_drain(spark, sf, reuse=True)
    return res.verdicts.filter(
        F.col("metric") != "hll_approx_distinct"
    ).select(
        "bucket",
        "constraint_id",
        "metric",
        _r("observed").alias("observed"),
        "threshold",
        F.col("passed").cast("int").alias("passed"),
        "violation_cnt",
    )


def q_snapshot_diff(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-snapshot row-level reconciliation
    (operators/reconcile.snapshot_diff): which keys were added, removed,
    or had a compared column change between two versions of the same
    table — the check a snapshot-versioned (Iceberg-shaped) warehouse
    runs after every backfill/compaction. One full-outer sort-merge join
    on the key + null-safe codegen'd per-column compares; with a
    bucketed-by-key layout the exchange vanishes (storage-partitioned
    join). Deterministic derived snapshots of events: baseline drops
    event_id % 10 == 3, current drops % 10 == 7 and perturbs value by
    +1.0 where event_id % 7 == 0 — so all three change kinds occur."""
    from pyanomalydetector2_spark.operators.reconcile import snapshot_diff

    ev = load_table(spark, sf, "events")
    base = ev.filter(F.col("event_id") % 10 != 3).select(
        "event_id", "user_id", "event_type", "value"
    )
    cur = ev.filter(F.col("event_id") % 10 != 7).select(
        "event_id",
        "user_id",
        "event_type",
        F.when(F.col("event_id") % 7 == 0, F.col("value") + F.lit(1.0))
        .otherwise(F.col("value"))
        .alias("value"),
    )
    return snapshot_diff(
        base, cur, ["event_id"], ["user_id", "event_type", "value"]
    )


def q_metrics_anomaly(spark: SparkSession, sf: str) -> DataFrame:
    """Metrics-repository anomaly detection
    (operators/reconcile.metrics_zscores): the reference's per-item
    z-score screen (detector.py:196-215 — lambda threshold, min-support
    and zero-variance guards) aimed at a metrics HISTORY: per event_type,
    daily mean value forms a run series and the LATEST day is scored
    against the mean/stddev of its own earlier days — the Deequ-style
    'anomaly detection on your own data-quality metrics' loop that
    run_suite --metrics-history feeds with real verdict observations.
    Emits the full scored frame (value, history stats, z, flagged)."""
    from pyanomalydetector2_spark.operators.reconcile import metrics_zscores

    ev = load_table(spark, sf, "events")
    epoch = F.unix_timestamp("ts").cast("long")
    hist = ev.groupBy(
        "event_type", (epoch - epoch % 86400).alias("run_seq")
    ).agg(F.avg("value").alias("value"))
    scored = metrics_zscores(
        hist, ["event_type"], "run_seq", "value", lam=1.0, min_runs=5
    )
    return scored.select(
        "event_type",
        F.col("run").alias("run_seq"),
        _r("value").alias("value"),
        _r("mean_hist").alias("mean_hist"),
        _r("std_hist").alias("std_hist"),
        "n_hist",
        _r("z").alias("z"),
        "flagged",
    )


def q_fd_violations(spark: SparkSession, sf: str) -> DataFrame:
    """Functional-dependency check (operators/integrity.fd_violations,
    FdCheck in the constraint DSL): determinant-value groups whose
    dependent column is not single-valued. The manufacturer is derived
    from the brand ('Brand#N' → 'Manufacturer#N'), so p_brand → p_mfgr
    holds by construction; a deterministic perturbation gives every
    p_partkey % 97 == 0 row a unique manufacturer, so exactly the
    brands containing a perturbed part violate. Two algebraic aggregations
    (distinct pairs, then per-determinant rollup with O(1) min/max conflict
    witnesses — no collect_set). Reference analog: the per-item condition
    interpreter detector.py:169-185, which cannot express group
    properties."""
    from pyanomalydetector2_spark.operators.integrity import fd_violations

    part = load_table(spark, sf, "part")
    perturbed = part.select(
        "p_partkey",
        "p_brand",
        F.when(
            F.col("p_partkey") % 97 == 0,
            F.concat(
                F.lit("Manufacturer#X-"), F.col("p_partkey").cast("string")
            ),
        )
        .otherwise(F.concat(F.lit("Manufacturer#"), F.expr("substring(p_brand, 7)")))
        .alias("p_mfgr"),
    )
    out = fd_violations(perturbed, ["p_brand"], "p_mfgr", carry_min=["p_partkey"])
    return out.select(
        "p_brand",
        "n_values",
        F.col("n_rows").cast("long").alias("n_rows"),
        "dep_min",
        "dep_max",
        F.col("p_partkey").alias("exemplar_key"),
    )


_SUGGEST_COLS = {  # column → is-numeric (drives range/non_negative vs domain)
    "p_partkey": True,
    "p_name": False,
    "p_brand": False,
    "p_type": False,
    "p_size": True,
    "p_retailprice": True,
}
_SUGGEST_MAX_DOMAIN = 30


def q_suggest_constraints(spark: SparkSession, sf: str) -> DataFrame:
    """Constraint suggestion (constraints/suggest.py — the Deequ
    ConstraintSuggestionRunner idea): profile ``part`` once and emit the
    checks the snapshot satisfies — not_null / unique / range /
    non_negative / domain — every decision made by EXACT aggregates so
    the DuckDB oracle replays the identical emission logic over the same
    stats. The interesting rows move with sf: p_retailprice is unique at
    sf0.001 (200 rows, 200 distinct) but not at sf0.01+ (1000-value
    cycle), and p_brand's 25-value domain qualifies under max_domain=30
    while p_name's 64 values do not — both engines must agree per sf.
    suite_from_suggestions round-trips these rows into a runnable Suite
    (pytest-pinned green on the profiled snapshot, violations on a
    perturbed one)."""
    from pyanomalydetector2_spark.constraints.suggest import (
        suggest_constraints,
    )

    part = load_table(spark, sf, "part")
    return suggest_constraints(
        part, list(_SUGGEST_COLS), max_domain=_SUGGEST_MAX_DOMAIN
    )


# one day in microseconds: the attribution window for the as-of contract
_ASOF_TOL_US = 86_400_000_000
# six hours in microseconds: the sessionization gap (median inter-event gap
# in the synthetic events is ~26.4k s, so ~half the gaps split sessions)
_SESSION_GAP_US = 21_600_000_000
_EDIT_MAX_DIST = 40


def q_asof_join(spark: SparkSession, sf: str) -> DataFrame:
    """As-of join (most-recent-match) — the custom operator Spark lacks:
    each purchase attributed to the latest 'view' at or before it within a
    1-day tolerance, per user. Encoded as union + running-last over ONE
    key shuffle (operators/asof.py — no join operator, no range explosion);
    the oracle is DuckDB's native ASOF LEFT JOIN. Lag sums stay integer
    microseconds so the compare is exact, not float-rounded."""
    from pyanomalydetector2_spark.operators.asof import asof_join

    ev = load_table(spark, sf, "events")
    probe = ev.filter(F.col("event_type") == "purchase").select("user_id", "ts")
    build = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("ref"))
    )
    m = asof_join(probe, build, "user_id", tolerance_us=_ASOF_TOL_US)
    return m.groupBy(F.col("user_id").alias("itemid")).agg(
        F.count(F.lit(1)).alias("n_probe"),
        F.count("ref_b").alias("n_matched"),
        F.coalesce(F.sum("asof_lag"), F.lit(0)).alias("lag_us_sum"),
        _r(F.coalesce(F.sum("ref_b"), F.lit(0.0))).alias("ref_sum"),
    )


def q_sessionize(spark: SparkSession, sf: str) -> DataFrame:
    """Gap-based sessionization (6h gap) + per-session rollup, summarized
    per user. Two window expressions + one aggregate over a SINGLE shuffle
    (the groupBy key extends the window key — pinned by
    tests/test_asof_sessions.py). All outputs integer micros/counts —
    engine-exact vs the DuckDB epoch_us window replay."""
    from pyanomalydetector2_spark.operators.sessions import session_stats

    ev = load_table(spark, sf, "events").select("user_id", "ts")
    s = session_stats(ev, "user_id", "ts", gap_us=_SESSION_GAP_US)
    return s.groupBy(F.col("user_id").alias("itemid")).agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum("n_events").alias("n_events"),
        F.max("n_events").alias("max_len"),
        F.sum("dur_us").alias("dur_us_sum"),
    )


# two hours in microseconds: the post-error attribution window for the
# interval-join contract (also the bucket width — each window spans <= 2
# buckets, so the interval fan-out is bounded at 2x)
_IV_WIN_US = 7_200_000_000


def q_interval_join(spark: SparkSession, sf: str) -> DataFrame:
    """Interval (range) join — the other classic operator Spark lacks:
    each purchase matched to every 2h post-error window of the same user
    via temporal bucketing (operators/intervals.py — an equi hash join on
    (key, bucket) + exact containment filter; never the
    BroadcastNestedLoopJoin a naive range predicate plans). The oracle is
    DuckDB's native inequality join; all outputs integer micros/counts."""
    from pyanomalydetector2_spark.operators.asof import _ordering_expr
    from pyanomalydetector2_spark.operators.intervals import interval_join

    ev = load_table(spark, sf, "events")
    errs = ev.filter(F.col("event_type") == "error").select("user_id", "ts")
    start = _ordering_expr(errs, "ts")
    windows = errs.select(
        "user_id",
        start.alias("start_us"),
        (start + F.lit(_IV_WIN_US)).alias("end_us"),
    )
    pts = ev.filter(F.col("event_type") == "purchase").select("user_id", "ts")
    m = interval_join(
        pts, windows, "user_id", point_ts="ts",
        bucket_us=_IV_WIN_US, how="left",
    )
    pt_us = _ordering_expr(m, "ts")
    covered = F.col("start_us_iv").isNotNull()
    return m.groupBy(F.col("user_id").alias("itemid")).agg(
        F.count("start_us_iv").alias("n_pairs"),
        F.count_distinct(F.when(covered, F.col("ts"))).alias("n_covered"),
        F.count_distinct("ts").alias("n_purchases"),
        F.coalesce(
            F.sum(pt_us - F.col("start_us_iv")), F.lit(0)
        ).alias("off_sum"),
    )


def q_edit_near_dup(spark: SparkSession, sf: str) -> DataFrame:
    """Near-dup confirm by edit distance: banded MinHash candidates (never
    all-pairs) + length-band prune + Spark's thresholded JVM levenshtein
    kernel (operators/dedup.py::edit_near_dup). Oracle replays the exact
    candidate pipeline and DuckDB's levenshtein — both are the standard
    unit-cost DP, and the documents corpus is pure ASCII, so the distances
    are engine-exact integers."""
    from pyanomalydetector2_spark.operators.dedup import edit_near_dup

    docs = load_table(spark, sf, "documents")
    # max_bucket_size=None: the oracle has no cap — contract semantics are
    # exact; production callers keep the capped default
    return edit_near_dup(
        docs, "doc_id", "text", max_dist=_EDIT_MAX_DIST, max_bucket_size=None
    )


_DECON_N = 8           # long n-grams: the GPT-3/Pile decontamination test
_DECON_BENCH_FRAC = 0.2  # contract-query benchmark = 20% hash bucket
_PACK_BUDGET = 512
_PACK_SHARDS = 8


def q_decontaminate(spark: SparkSession, sf: str) -> DataFrame:
    """Benchmark decontamination: corpus docs sharing ≥1 distinct 8-gram
    with a (hash-derived) benchmark subset. Benchmark side broadcast —
    eval sets are tiny vs a 10^12-row corpus; the corpus is shingled in
    one scan (operators/curation.py::decontaminate)."""
    from pyanomalydetector2_spark.operators.curation import (
        bench_bucket,
        decontaminate,
    )

    docs = load_table(spark, sf, "documents")
    is_bench = bench_bucket(F.col("doc_id"), _DECON_BENCH_FRAC)
    out = decontaminate(
        docs.filter(~is_bench), docs.filter(is_bench), "doc_id", "text",
        n=_DECON_N, min_shared=1,
    )
    return out.select(
        F.col("id").alias("doc_id"), "bench_id",
        F.col("n_shared").cast("long").alias("n_shared"),
    )


def q_split_leakage(spark: SparkSession, sf: str) -> DataFrame:
    """Train/val leakage audit: near-dup pairs (the ngram_jaccard_pairs
    pipeline) whose two sides land in different splits of the stable
    hash split (operators/curation.py::split_leakage)."""
    from pyanomalydetector2_spark.operators.curation import split_leakage
    from pyanomalydetector2_spark.operators.dedup import near_dup_jaccard
    from pyanomalydetector2_spark.operators.sampling import train_split

    docs = load_table(spark, sf, "documents")
    pairs = near_dup_jaccard(
        docs, "doc_id", "text", k=8, n=3, bands=4, rows_per_band=2,
        threshold=0.1, max_bucket_size=None,  # oracle has no cap
    )
    splits = train_split(docs.select("doc_id"), "doc_id", 0.8)
    return split_leakage(pairs, splits, "doc_id")


def q_pack_shards(spark: SparkSession, sf: str) -> DataFrame:
    """Concat-and-chunk token packing into 8 hash shards with a 512-token
    budget: every doc gets (shard, start_off, pack_id) — deterministic
    hash layout, per-shard windows so no global sort
    (operators/curation.py::pack_shards)."""
    from pyanomalydetector2_spark.operators.curation import pack_shards
    from pyanomalydetector2_spark.operators.text import ws_tokens

    docs = load_table(spark, sf, "documents")
    out = pack_shards(
        docs, "doc_id", F.size(ws_tokens(F.col("text"))),
        budget=_PACK_BUDGET, n_shards=_PACK_SHARDS,
    )
    return out.select(
        F.col("id").alias("doc_id"), "shard",
        F.col("start_off").cast("long").alias("start_off"), "pack_id",
    )


_REP_LINE_TOKS = 5  # contract "lines" = 5-token chunks (corpus is single-line)


def q_repetition(spark: SparkSession, sf: str) -> DataFrame:
    """Gopher-style repetition filters (dup-line fractions, top-2-gram
    coverage, dup-2-gram char fraction) — pure per-row array expressions,
    zero shuffle (operators/text.py::repetition_metrics). Lines are derived
    by chunking whitespace tokens in groups of five because the synthetic
    corpus is single-line."""
    from pyanomalydetector2_spark.operators.text import (
        repetition_metrics,
        ws_tokens,
    )

    docs = load_table(spark, sf, "documents")
    toks = ws_tokens(F.coalesce(F.col("text"), F.lit("")))
    k = _REP_LINE_TOKS
    nl = F.floor((F.size(toks) + (k - 1)) / k).cast("int")
    lines = F.when(
        F.size(toks) >= 1,
        F.transform(
            F.sequence(F.lit(0), nl - 1),
            lambda i: F.concat_ws(" ", F.slice(toks, i * k + 1, k)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return repetition_metrics(docs, "doc_id", "text", lines=lines, ngram_n=2)


def q_pii_scrub(spark: SparkSession, sf: str) -> DataFrame:
    """PII hit counts + redaction over a deterministically planted text
    (email/IPv4/phone derived from doc_id — the raw corpus contains no
    PII, so the plant makes the regex surface actually fire on every
    row). Patterns are the Java-regex/RE2-identical subset
    (operators/curation.py::PII_PATTERNS)."""
    from pyanomalydetector2_spark.operators.curation import (
        pii_metrics,
        pii_redact,
    )

    docs = load_table(spark, sf, "documents")
    d = F.col("doc_id")
    planted = F.concat(
        F.coalesce(F.col("text"), F.lit("")),
        F.lit(" mail "), d.cast("string"), F.lit("@ex.com ip 10."),
        (d % 200).cast("string"), F.lit(".0."),
        (d % 250).cast("string"), F.lit(" tel +1 555 01"),
        ((d % 90) + 10).cast("string"),
    )
    from pyanomalydetector2_spark.functions import rebalance_for_expansion

    # 6 JVM regex passes per row dominate the scan ~100×: spread the
    # single-split documents input across the slots first (no-op at scale)
    base = rebalance_for_expansion(
        docs.select("doc_id", planted.alias("ptext")), min_bytes=1_000_000
    )
    return pii_metrics(base, "ptext").select(
        "doc_id", "n_email", "n_ipv4", "n_phone",
        pii_redact(F.col("ptext")).alias("redacted"),
    )


_ESD_K = 5  # exact-substring gram width (whitespace tokens)


def q_exact_substring_dup(spark: SparkSession, sf: str) -> DataFrame:
    """Exact-substring duplication per document (Lee et al. 2022 at k-gram
    granularity): fraction of each document's tokens covered by a 5-token
    gram occurring ≥2 times corpus-wide. Grams are hashed to 60 bits
    before the shuffle (dedup.h60); the oracle groups by the gram string —
    agreement proves the hash never left the gram identity
    (operators/dedup.py::exact_substring_dup)."""
    from pyanomalydetector2_spark.operators.dedup import exact_substring_dup

    docs = load_table(spark, sf, "documents")
    return exact_substring_dup(docs, "doc_id", "text", k=_ESD_K).select(
        F.col("id").alias("doc_id"),
        "n_tokens",
        "n_dup_grams",
        "dup_tokens",
        "dup_frac",
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the detect1-style z-score screen on sf0.001."""
    return q_zscore_screen(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "stats_moment": q_stats_moment,
        "zscore_screen": q_zscore_screen,
        "time_bucket_rollup": q_time_bucket_rollup,
        "adjacent_diff_stats": q_adjacent_diff_stats,
        "minmax_first": q_minmax_first,
        "topn_per_group": q_topn_per_group,
        "star_join_agg": q_star_join_agg,
        "anti_join_ids": q_anti_join_ids,
        "union_distinct": q_union_distinct,
        "dedup_exact_prefix": q_dedup_exact_prefix,
        "minhash_lsh_pairs": q_minhash_lsh_pairs,
        "ngram_jaccard_pairs": q_ngram_jaccard_pairs,
        "dup_clusters": q_dup_clusters,
        "dedup_keep_best": q_dedup_keep_best,
        "simhash": q_simhash,
        "embedding_topk": q_embedding_topk,
        "text_quality": q_text_quality,
        "vocab_topk": q_vocab_topk,
        "oov_rate": q_oov_rate,
        "text_embed": q_text_embed,
        "text_embed_near_dup": q_text_embed_near_dup,
        "lang_id": q_lang_id,
        "stable_sample": q_stable_sample,
        "quota_sample": q_quota_sample,
        "doc_fingerprint": q_doc_fingerprint,
        "local_peak": q_local_peak,
        "minmax_normalize": q_minmax_normalize,
        "zscore_indicator": q_zscore_indicator,
        "first_per_group": q_first_per_group,
        "group_min_size": q_group_min_size,
        "like_wildcard": q_like_wildcard,
        "union_all_counts": q_union_all_counts,
        "incremental_merge": q_incremental_merge,
        "fit_base_clocks": q_fit_base_clocks,
        "detect2_screen": q_detect2_screen,
        "detect3_support": q_detect3_support,
        "embedding_near_dup": q_embedding_near_dup,
        "ann_lsh_topk": q_ann_lsh_topk,
        "ann_ivf_topk": q_ann_ivf_topk,
        "ann_ivf_pq_topk": q_ann_ivf_pq_topk,
        "ann_ivf_index_topk": q_ann_ivf_index_topk,
        "embedding_near_dup_lsh": q_embedding_near_dup_lsh,
        "item_conds": q_item_conds,
        "detect3_phase2": q_detect3_phase2,
        "topitems": q_topitems,
        "tpch_q1": q_tpch_q1,
        "tpch_q3": q_tpch_q3,
        "column_profile": q_column_profile,
        "column_quantiles": q_column_quantiles,
        "kll_quantiles": q_kll_quantiles,
        "drift_psi": q_drift_psi,
        "freshness": q_freshness,
        "uniqueness_violations": q_uniqueness_violations,
        "ri_violations": q_ri_violations,
        "near_dup_incremental": q_near_dup_incremental,
        "audio_fingerprint": q_audio_fingerprint,
        "audio_near_dup": q_audio_near_dup,
        "audio_near_dup_incremental": q_audio_near_dup_incremental,
        "drift_categorical": q_drift_categorical,
        "vocab_drift": q_vocab_drift,
        "ann_recall_audit": q_ann_recall_audit,
        "audio_quality": q_audio_quality,
        "audio_container_consistency": q_audio_container_consistency,
        "transcript_audio_consistency": q_transcript_audio_consistency,
        "audio_ingest_stream": q_audio_ingest_stream,
        "audio_dup_clusters": q_audio_dup_clusters,
        "audio_keep_best": q_audio_keep_best,
        "audio_dup_transcript_mismatch": q_audio_dup_transcript_mismatch,
        "audio_embed": q_audio_embed,
        "audio_embed_near_dup": q_audio_embed_near_dup,
        "audio_quality_drift": q_audio_quality_drift,
        "audio_snippet_search": q_audio_snippet_search,
        "audio_trim": q_audio_trim,
        "suite_stream": q_suite_stream,
        "suite_stream_verdicts": q_suite_stream_verdicts,
        "snapshot_diff": q_snapshot_diff,
        "metrics_anomaly": q_metrics_anomaly,
        "fd_violations": q_fd_violations,
        "suggest_constraints": q_suggest_constraints,
        "asof_join": q_asof_join,
        "sessionize": q_sessionize,
        "edit_near_dup": q_edit_near_dup,
        "interval_join": q_interval_join,
        "decontaminate": q_decontaminate,
        "split_leakage": q_split_leakage,
        "pack_shards": q_pack_shards,
        "repetition": q_repetition,
        "pii_scrub": q_pii_scrub,
        "exact_substring_dup": q_exact_substring_dup,
    }


# ----------------------------------------------------------------- oracle --
_STD_CLOSED = (
    "CASE WHEN count({v}) > 1 THEN sqrt(greatest("
    "(sum({v}*{v}) - sum({v})*sum({v})/count({v})) / (count({v}) - 1), 0))"
    " ELSE 0 END"
)

_H60 = "('0x' || substr(md5({x}), 1, 15))::BIGINT"

_TOKS_CTE = """toks AS (
              SELECT doc_id,
                     list_filter(regexp_split_to_array(lower(trim(text)),
                                                       '\\s+'),
                                 x -> x <> '') AS t
              FROM documents
            )"""

_SHINGLE_CTES = """
            toks AS (
              SELECT doc_id,
                     list_filter(regexp_split_to_array(lower(trim(text)),
                                                       '\\s+'),
                                 x -> x <> '') AS t
              FROM documents
            ),
            sh AS (
              SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS shingle
              FROM toks, UNNEST(range(1, greatest(len(t) - 2, 0) + 1)) AS u(i)
            )"""

def _minhash_slot_sql() -> str:
    """Replicates dedup.minhash_from_shingles: one md5 per shingle folded to
    30 bits, k affine mixes min'd per slot (same constants, same modulus —
    % on non-negative BIGINTs matches Spark's pmod)."""
    from pyanomalydetector2_spark.operators.dedup import (
        MH_MOD30,
        MH_PRIME,
        minhash_mix_consts,
    )

    h30 = f"(({_H60.format(x='shingle')}) % {MH_MOD30})"
    return ",\n                     ".join(
        f"min(({a} * {h30} + {b}) % {MH_PRIME}) AS mh{i}"
        for i, (a, b) in enumerate(minhash_mix_consts(8))
    )


_MINHASH_CTES = (
    _SHINGLE_CTES
    + """,
            mh AS (
              SELECT doc_id,
                     """
    + _minhash_slot_sql()
    + """
              FROM sh GROUP BY doc_id
            ),
            bands AS (
              """
    + "\n              UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, mh{2*b}::VARCHAR || '_' || mh{2*b+1}::VARCHAR AS key FROM mh"
        for b in range(4)
    )
    + """
            ),
            cand AS (
              SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              FROM bands a JOIN bands b USING (band, key)
              WHERE a.doc_id < b.doc_id
            )"""
)


def _lsh_signature_sql(dims: int = 64, planes: int = 6, band: int = 0) -> str:
    """DuckDB expression replicating hyperplane_signature_udf exactly: the
    ±1 sign of plane p, dim d is the parity of md5(f'{p}:{d}') (first 15 hex
    chars), embedded as literal +/- terms; bit r = [Σ_d sign·v[d] > 0].
    ``band`` b uses GLOBAL plane indices p = b·planes + r with within-band
    weight 1<<r — band 0 is the classic single signature
    (hyperplane_band_signatures_udf's layout, bit-for-bit)."""
    import hashlib

    planes_sql = []
    for r in range(planes):
        p = band * planes + r
        parts = []
        for d in range(dims):
            h = int(hashlib.md5(f"{p}:{d}".encode()).hexdigest()[:15], 16)
            parts.append(("+" if h % 2 == 0 else "-") + f"v[{d + 1}]")
        planes_sql.append(
            f"(CASE WHEN ({''.join(parts)}) > 0 THEN {1 << r} ELSE 0 END)"
        )
    return " + ".join(planes_sql)


def oracle_sql() -> dict[str, str]:
    std_v = _STD_CLOSED.format(v="value")
    std_d = _STD_CLOSED.format(v="diff")
    sw = ", ".join(f"'{w}'" for w in _STOPWORDS)
    simhash_sums = ",\n                     ".join(
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS s{b}"
        for b in range(16)
    )
    simhash_bits = " + ".join(
        f"CASE WHEN s{b} > 0 THEN {1 << b} ELSE 0 END" for b in range(16)
    )
    lang_ratio = {
        code: (
            "len(list_filter(t, x -> list_contains(["
            + ", ".join(f"'{m}'" for m in markers)
            + "], x)))::DOUBLE / len(t)"
        )
        for code, markers in _LANGS.items()
    }
    lang_cases = " ".join(
        f"WHEN lang_{code} = best THEN '{code}'" for code in _LANGS
    )
    out = {
        "stats_moment": f"""
            SELECT user_id AS itemid, count(value) AS cnt,
                   round(sum(value), 6) AS sum_v,
                   round(sum(value)/count(value), 6) AS mean_v,
                   round({std_v}, 6) AS std_v
            FROM events GROUP BY 1
        """,
        "zscore_screen": f"""
            WITH trend AS (
              SELECT user_id AS itemid, count(value) AS cnt_t,
                     sum(value)/count(value) AS mean_t, {std_v} AS std_t
              FROM events WHERE ts < TIMESTAMP '{_CUT}' GROUP BY 1
            ), recent AS (
              SELECT user_id AS itemid, avg(value) AS mean_h
              FROM events WHERE ts >= TIMESTAMP '{_CUT}' GROUP BY 1
            )
            SELECT r.itemid, round(mean_h, 6) AS mean_h,
                   round(mean_t, 6) AS mean_t, round(std_t, 6) AS std_t
            FROM recent r JOIN trend t USING (itemid)
            WHERE cnt_t > {_TRENDS_MIN_COUNT} AND std_t > 0
              AND abs(mean_h - mean_t) > {_LAMBDA1} * std_t
              AND (mean_t = 0 OR abs(mean_h - mean_t)/abs(mean_t) > {_IGNORE_DIFF_RATE})
        """,
        "time_bucket_rollup": """
            SELECT event_type,
                   CAST(floor(epoch(ts)) AS BIGINT)
                     - CAST(floor(epoch(ts)) AS BIGINT) % 86400 AS clock,
                   count(value) AS cnt,
                   round(avg(value), 6) AS value_avg,
                   round(min(value), 6) AS value_min,
                   round(max(value), 6) AS value_max
            FROM events GROUP BY 1, 2
        """,
        "adjacent_diff_stats": f"""
            WITH d AS (
              SELECT user_id AS itemid,
                     value - lag(value) OVER (PARTITION BY user_id
                                              ORDER BY ts, event_id) AS diff
              FROM events
            )
            SELECT itemid, count(diff) AS cnt,
                   round(sum(diff)/count(diff), 6) AS mean_d,
                   round({std_d}, 6) AS std_d
            FROM d WHERE diff IS NOT NULL AND diff <> 0 GROUP BY 1
        """,
        "minmax_first": """
            WITH ranked AS (
              SELECT user_id, value,
                     row_number() OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id) AS rn
              FROM events
            )
            SELECT e.user_id AS itemid,
                   round(min(e.value), 6) AS min_v,
                   round(max(e.value), 6) AS max_v,
                   round(any_value(r.value), 6) AS first_v
            FROM events e
            JOIN (SELECT user_id, value FROM ranked WHERE rn = 1) r
              ON e.user_id = r.user_id
            GROUP BY 1
        """,
        "topn_per_group": """
            SELECT event_type, event_id, user_id, round(value, 6) AS value
            FROM (
              SELECT event_type, event_id, user_id, value,
                     row_number() OVER (PARTITION BY event_type
                                        ORDER BY value DESC, event_id) AS rn
              FROM events
            ) WHERE rn <= 3
        """,
        "star_join_agg": """
            SELECT r_name AS region_name, n_name AS nation_name,
                   count(*) AS order_cnt,
                   round(sum(o_totalprice), 2) AS revenue
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY 1, 2
        """,
        "anti_join_ids": """
            SELECT DISTINCT user_id AS itemid FROM events
             WHERE event_type = 'error' AND value > 95
            EXCEPT
            SELECT DISTINCT user_id AS itemid FROM events
             WHERE event_type = 'purchase' AND value > 95
        """,
        "union_distinct": """
            SELECT user_id AS itemid FROM events WHERE value > 50
            UNION
            SELECT user_id AS itemid FROM events WHERE event_type = 'click'
        """,
        "dedup_exact_prefix": """
            WITH p AS (
              SELECT doc_id,
                     md5(array_to_string(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), x -> x <> '')[1:3], ' '))
                       AS fingerprint
              FROM documents
            )
            SELECT fingerprint, count(*) AS dup_cnt, min(doc_id) AS min_id
            FROM p GROUP BY 1 HAVING count(*) > 1
        """,
        "minhash_lsh_pairs": f"""
            WITH {_MINHASH_CTES}
            SELECT id_a, id_b FROM cand
        """,
        "ngram_jaccard_pairs": f"""
            WITH {_MINHASH_CTES},
            sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
            inter AS (
              SELECT c.id_a, c.id_b, count(*) AS n
              FROM cand c
              JOIN sh a ON a.doc_id = c.id_a
              JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
              GROUP BY 1, 2
            )
            SELECT i.id_a, i.id_b,
                   round(i.n / (sa.sz + sb.sz - i.n), 6) AS jaccard
            FROM inter i
            JOIN sizes sa ON sa.doc_id = i.id_a
            JOIN sizes sb ON sb.doc_id = i.id_b
            WHERE i.n / (sa.sz + sb.sz - i.n) >= 0.1
        """,
        "dup_clusters": f"""
            WITH RECURSIVE {_MINHASH_CTES},
            sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
            inter AS (
              SELECT c.id_a, c.id_b, count(*) AS n
              FROM cand c
              JOIN sh a ON a.doc_id = c.id_a
              JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
              GROUP BY 1, 2
            ),
            jp AS (
              SELECT i.id_a, i.id_b
              FROM inter i
              JOIN sizes sa ON sa.doc_id = i.id_a
              JOIN sizes sb ON sb.doc_id = i.id_b
              WHERE i.n / (sa.sz + sb.sz - i.n) >= 0.1
            ),
            edges AS (
              SELECT id_a AS s, id_b AS d FROM jp
              UNION ALL
              SELECT id_b, id_a FROM jp
            ),
            reach AS (
              SELECT s AS id, s AS r FROM edges
              UNION
              SELECT e.d AS id, reach.r FROM reach JOIN edges e ON reach.id = e.s
            )
            SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY 1
        """,
        "dedup_keep_best": f"""
            WITH RECURSIVE {_MINHASH_CTES},
            sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
            inter AS (
              SELECT c.id_a, c.id_b, count(*) AS n
              FROM cand c
              JOIN sh a ON a.doc_id = c.id_a
              JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
              GROUP BY 1, 2
            ),
            jp AS (
              SELECT i.id_a, i.id_b
              FROM inter i
              JOIN sizes sa ON sa.doc_id = i.id_a
              JOIN sizes sb ON sb.doc_id = i.id_b
              WHERE i.n / (sa.sz + sb.sz - i.n) >= 0.1
            ),
            edges AS (
              SELECT id_a AS s, id_b AS d FROM jp
              UNION ALL
              SELECT id_b, id_a FROM jp
            ),
            reach AS (
              SELECT s AS id, s AS r FROM edges
              UNION
              SELECT e.d AS id, reach.r FROM reach JOIN edges e ON reach.id = e.s
            ),
            comp AS (
              SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY 1
            ),
            q AS (
              SELECT doc_id,
                     list_filter(regexp_split_to_array(lower(trim(text)),
                                                       '\\s+'),
                                 x -> x <> '') AS t,
                     length(regexp_replace(lower(text), '[^a-z]', '', 'g'))::DOUBLE
                       / length(text) AS ar
              FROM documents
            ),
            score AS (
              SELECT doc_id, round(
                (CASE WHEN len(t) BETWEEN 5 AND 1000 THEN 0.4 ELSE 0.0 END)
                + (CASE WHEN len(list_filter(t, x -> list_contains([{sw}], x)))::DOUBLE
                        / len(t) > 0.01 THEN 0.3 ELSE 0.0 END)
                + (CASE WHEN ar > 0.6 THEN 0.3 ELSE 0.0 END), 6) AS score
              FROM q
            ),
            ranked AS (
              SELECT c.doc_id, c.cluster_id, s.score,
                     row_number() OVER (PARTITION BY c.cluster_id
                                        ORDER BY s.score DESC, c.doc_id) AS rn
              FROM comp c JOIN score s USING (doc_id)
            )
            SELECT doc_id, cluster_id, score, (rn = 1) AS keep FROM ranked
        """,
        "simhash": f"""
            WITH tok AS (
              SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS tk
              FROM documents
            ), th AS (
              SELECT doc_id, {_H60.format(x='tk')} AS h FROM tok
            ), s AS (
              SELECT doc_id,
                     {simhash_sums}
              FROM th GROUP BY doc_id
            )
            SELECT doc_id, ({simhash_bits})::BIGINT AS simhash FROM s
        """,
        "embedding_topk": """
            WITH q AS (
              SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
              FROM embeddings WHERE vec_id < 20
            ), sims AS (
              SELECT q.query_id, c.vec_id AS match_id,
                     round(list_cosine_similarity(q.qv, c.embedding::DOUBLE[]), 6)
                       AS cosine
              FROM q, embeddings c
              WHERE c.vec_id <> q.query_id
            )
            SELECT query_id, match_id, cosine, rank::INT AS rank FROM (
              SELECT *, row_number() OVER (PARTITION BY query_id
                                           ORDER BY cosine DESC, match_id) AS rank
              FROM sims
            ) WHERE rank <= 5
        """,
        "text_quality": f"""
            WITH m AS (
              SELECT doc_id, text,
                     list_filter(regexp_split_to_array(lower(trim(text)),
                                                       '\\s+'),
                                 x -> x <> '') AS t
              FROM documents
            ), r AS (
              SELECT doc_id,
                     len(t) AS n_tokens,
                     len(regexp_extract_all(lower(text),
                         '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS n_bpe,
                     list_sum(list_transform(t, x -> length(x)))::DOUBLE / len(t)
                       AS atl,
                     len(list_filter(t, x -> list_contains([{sw}], x)))::DOUBLE
                       / len(t) AS swr,
                     length(regexp_replace(lower(text), '[^a-z]', '', 'g'))::DOUBLE
                       / length(text) AS ar
              FROM m
            )
            SELECT doc_id, n_tokens::INT AS n_tokens,
                   n_bpe::INT AS n_bpe_ish,
                   round(atl, 6) AS avg_token_len,
                   round(swr, 6) AS stopword_ratio,
                   round(ar, 6) AS alpha_ratio,
                   round(
                     (CASE WHEN n_tokens BETWEEN 5 AND 1000 THEN 0.4 ELSE 0.0 END)
                     + (CASE WHEN swr > 0.01 THEN 0.3 ELSE 0.0 END)
                     + (CASE WHEN ar > 0.6 THEN 0.3 ELSE 0.0 END), 6)
                     AS quality_score
            FROM r
        """,
        # feature-hash embeddings: sums of ±1 are integer-valued doubles,
        # so the pre-normalization aggregation is order-exact; sqrt and the
        # single divide are then identical IEEE ops on both engines
        "text_embed": f"""
            WITH toks AS MATERIALIZED (
              SELECT doc_id,
                     unnest(list_filter(regexp_split_to_array(
                              lower(trim(text)), '\\s+'),
                            x -> x <> '')) AS tok
              FROM documents
            ), sg AS (
              SELECT doc_id,
                     ({_H60.format(x='tok')}) % 64 AS j,
                     CASE WHEN substr(md5(tok), 16, 1) < '8'
                          THEN 1 ELSE -1 END AS s
              FROM toks
            ), agg AS MATERIALIZED (
              SELECT doc_id, j::INT AS j, sum(s)::DOUBLE AS v
              FROM sg GROUP BY 1, 2
            ), grid AS (
              SELECT d.doc_id, g.i::INT AS i
              FROM (SELECT DISTINCT doc_id FROM documents) d,
                   generate_series(0, 63) g(i)
            ), dense AS MATERIALIZED (
              SELECT grid.doc_id, grid.i, coalesce(a.v, 0.0) AS v
              FROM grid LEFT JOIN agg a
                ON a.doc_id = grid.doc_id AND a.j = grid.i
            ), nrm AS (
              SELECT doc_id, sqrt(sum(v * v)) AS n FROM dense GROUP BY 1
            )
            SELECT dense.doc_id, dense.i,
                   CASE WHEN n > 0 THEN round(v / n, 6) ELSE v END AS val
            FROM dense JOIN nrm USING (doc_id)
        """,
        "text_embed_near_dup": f"""
            WITH toks AS MATERIALIZED (
              SELECT doc_id,
                     unnest(list_filter(regexp_split_to_array(
                              lower(trim(text)), '\\s+'),
                            x -> x <> '')) AS tok
              FROM documents
            ), sg AS (
              SELECT doc_id,
                     ({_H60.format(x='tok')}) % 64 AS j,
                     CASE WHEN substr(md5(tok), 16, 1) < '8'
                          THEN 1 ELSE -1 END AS s
              FROM toks
            ), agg AS MATERIALIZED (
              SELECT doc_id, j::INT AS j, sum(s)::DOUBLE AS v
              FROM sg GROUP BY 1, 2
            ), grid AS (
              SELECT d.doc_id, g.i::INT AS i
              FROM (SELECT DISTINCT doc_id FROM documents) d,
                   generate_series(0, 63) g(i)
            ), dense AS MATERIALIZED (
              SELECT grid.doc_id, grid.i, coalesce(a.v, 0.0) AS v
              FROM grid LEFT JOIN agg a
                ON a.doc_id = grid.doc_id AND a.j = grid.i
            ), nrm AS (
              SELECT doc_id, sqrt(sum(v * v)) AS n FROM dense GROUP BY 1
            ), vecs AS MATERIALIZED (
              -- raw v/n, NOT rounded: see q_text_embed_near_dup
              SELECT dense.doc_id,
                     list(CASE WHEN n > 0 THEN v / n ELSE v END
                          ORDER BY i) AS embedding
              FROM dense JOIN nrm USING (doc_id)
              GROUP BY dense.doc_id
            )
            -- round_even, not round: integer-count vectors make cosines
            -- exact dyadic rationals (e.g. 101/128 = 0.7890625) that land
            -- ON 6-dp midpoints, where numpy rounds half-to-even and
            -- DuckDB round() half-away — round_even replays numpy exactly
            SELECT id_a, id_b, cosine FROM (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                     round_even(list_cosine_similarity(a.embedding::DOUBLE[],
                                                       b.embedding::DOUBLE[]),
                                6) AS cosine
              FROM vecs a, vecs b
              WHERE a.doc_id < b.doc_id
            ) WHERE cosine >= 0.9
        """,
        # vocab head + OOV coverage: the shared toks CTE replays ws_tokens;
        # docs = per-token distinct doc count (Spark's per-(doc, token)
        # pre-distinct stage); the top-k boundary is deterministic on both
        # engines via the (cnt DESC, token ASC) tiebreak
        "vocab_topk": f"""
            WITH {_TOKS_CTE},
            tok AS (SELECT doc_id, unnest(t) AS token FROM toks)
            SELECT token, count(*)::BIGINT AS cnt,
                   count(DISTINCT doc_id)::BIGINT AS docs
            FROM tok GROUP BY 1
            ORDER BY cnt DESC, token LIMIT {_VOCAB_K}
        """,
        "oov_rate": f"""
            WITH {_TOKS_CTE},
            tok AS (SELECT doc_id, unnest(t) AS token FROM toks),
            v AS (
              SELECT token FROM (
                SELECT token, count(*) AS cnt FROM tok GROUP BY 1
                ORDER BY cnt DESC, token LIMIT {_OOV_VOCAB_K}
              )
            ),
            per AS (
              SELECT t.doc_id AS id, count(*) AS n_tokens,
                     sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END)
                       AS n_oov
              FROM tok t LEFT JOIN v ON v.token = t.token
              GROUP BY 1
            )
            SELECT d.doc_id AS id,
                   coalesce(p.n_tokens, 0)::BIGINT AS n_tokens,
                   coalesce(p.n_oov, 0)::BIGINT AS n_oov,
                   CASE WHEN coalesce(p.n_tokens, 0) = 0 THEN NULL
                        ELSE floor(1000000.0 * p.n_oov
                                   / p.n_tokens)::BIGINT END AS oov_ppm
            FROM documents d LEFT JOIN per p ON p.id = d.doc_id
        """,
        "lang_id": f"""
            WITH m AS (
              SELECT doc_id,
                     list_filter(regexp_split_to_array(lower(trim(text)),
                                                       '\\s+'),
                                 x -> x <> '') AS t
              FROM documents
            ), s AS (
              SELECT doc_id,
                     {", ".join(f"{expr} AS lang_{code}" for code, expr in lang_ratio.items())}
              FROM m
            ), b AS (
              SELECT *, greatest({", ".join(f"lang_{c}" for c in _LANGS)}) AS best
              FROM s
            )
            SELECT doc_id,
                   {", ".join(f"round(lang_{c}, 6) AS lang_{c}" for c in _LANGS)},
                   CASE WHEN best <= 0 THEN 'und' {lang_cases} END AS lang_pred
            FROM b
        """,
        "stable_sample": f"""
            WITH b AS (
              SELECT doc_id, lang,
                     ({_H60.format(x="'sample:' || doc_id::VARCHAR")}) % 1000000
                       AS sbucket,
                     ({_H60.format(x="'split:' || doc_id::VARCHAR")}) % 1000000
                       AS pbucket
              FROM documents
            )
            SELECT doc_id, lang,
                   CASE WHEN pbucket < 800000 THEN 'train' ELSE 'val' END AS split
            FROM b
            WHERE sbucket < CASE lang WHEN 'en' THEN 500000
                                      WHEN 'fr' THEN 250000
                                      WHEN 'de' THEN 1000000
                                      ELSE 0 END
        """,
        "quota_sample": f"""
            WITH b AS (
              SELECT doc_id, lang, source,
                     ({_H60.format(x="'quota:' || doc_id::VARCHAR")})
                       % 1000000 AS bucket
              FROM documents
            ),
            r AS (
              SELECT doc_id, lang, source,
                     row_number() OVER (PARTITION BY lang, source
                                        ORDER BY bucket, doc_id)
                       AS quota_rank
              FROM b
            )
            SELECT doc_id, lang, source,
                   CAST(quota_rank AS BIGINT) AS quota_rank
            FROM r WHERE quota_rank <= 10
        """,
        "doc_fingerprint": f"""
            WITH {_SHINGLE_CTES},
            h AS (SELECT doc_id, {_H60.format(x='shingle')} AS h FROM sh),
            fp AS (
              SELECT doc_id,
                     array_to_string((array_agg(h ORDER BY h))[1:3], '_')
                       AS fingerprint
              FROM h GROUP BY doc_id
            )
            SELECT d.doc_id, coalesce(fp.fingerprint, '') AS fingerprint
            FROM documents d LEFT JOIN fp ON fp.doc_id = d.doc_id
        """,
        "local_peak": """
            WITH s AS (
              SELECT user_id AS itemid, CAST(floor(epoch(ts)) AS BIGINT) AS clock,
                     value
              FROM events
            ), w AS (
              SELECT itemid,
                     avg(value) OVER (PARTITION BY itemid ORDER BY clock
                                      RANGE BETWEEN 7200 PRECEDING AND CURRENT ROW)
                       AS wm
              FROM s
            )
            SELECT itemid, round(max(wm), 6) AS peak_up, round(min(wm), 6) AS peak_dn
            FROM w GROUP BY 1
        """,
        "minmax_normalize": """
            SELECT event_id, itemid,
                   round(CASE WHEN mx = mn THEN 0.0
                              ELSE (value - mn) / (mx - mn) END, 6) AS norm
            FROM (
              SELECT event_id, user_id AS itemid, value,
                     min(value) OVER (PARTITION BY user_id) AS mn,
                     max(value) OVER (PARTITION BY user_id) AS mx
              FROM events
            )
        """,
        "zscore_indicator": f"""
            WITH st AS (
              SELECT user_id AS itemid, sum(value)/count(value) AS m, {std_v} AS s
              FROM events GROUP BY 1
            )
            SELECT event_id, e.user_id AS itemid,
                   (CASE WHEN s <> 0 AND abs((value - m)/s) > 2.0
                         THEN 1 ELSE 0 END)::INT AS zind
            FROM events e JOIN st ON e.user_id = st.itemid
        """,
        "first_per_group": """
            WITH s AS (
              SELECT user_id AS itemid,
                     CAST(floor(epoch(ts)) AS BIGINT)
                       - CAST(floor(epoch(ts)) AS BIGINT) % 86400 AS day,
                     ts, event_id, value
              FROM events
            )
            SELECT itemid, day, event_id, round(value, 6) AS value FROM (
              SELECT *, row_number() OVER (PARTITION BY itemid, day
                                           ORDER BY ts, event_id) AS rn
              FROM s
            ) WHERE rn = 1
        """,
        "group_min_size": """
            SELECT user_id AS itemid, count(*) AS cnt
            FROM events GROUP BY 1 HAVING count(*) >= 80
        """,
        "like_wildcard": """
            SELECT doc_id, source FROM documents
            WHERE source LIKE 'src1%' AND lang = 'en'
        """,
        "union_all_counts": """
            WITH u AS (
              SELECT user_id AS itemid, value FROM events WHERE event_type = 'click'
              UNION ALL
              SELECT user_id AS itemid, value FROM events WHERE event_type = 'error'
            )
            SELECT itemid, count(*) AS cnt, round(sum(value), 6) AS sum_v
            FROM u GROUP BY 1
        """,
        "incremental_merge": """
            WITH m AS (
              SELECT user_id AS itemid, count(value) AS cnt,
                     round(sum(value), 4) AS s4,
                     round(sum(value*value), 4) AS q2
              FROM events GROUP BY 1
            )
            SELECT itemid, cnt, s4 AS sum_v,
                   round(s4/cnt, 6) AS mean_v,
                   round(CASE WHEN cnt > 1
                              THEN sqrt(greatest((q2 - s4*s4/cnt) / (cnt - 1), 0))
                              ELSE 0 END, 6) AS std_v
            FROM m
        """,
        "fit_base_clocks": f"""
            WITH grid AS (
              SELECT range AS clock FROM range({_GRID_S}, {_GRID_E}, {_GRID_U})
            ), users AS (
              SELECT DISTINCT user_id AS itemid FROM events WHERE user_id < 20
            ), s AS (
              SELECT user_id AS itemid, CAST(floor(epoch(ts)) AS BIGINT) AS clock,
                     value
              FROM events WHERE user_id < 20
            ), b AS (
              SELECT itemid,
                     {_GRID_S} + CAST(ceil((clock - {_GRID_S}) / {_GRID_U}.0)
                                      AS BIGINT) * {_GRID_U} AS gclock,
                     avg(value) AS v
              FROM s
              WHERE clock > {_GRID_S} - {_GRID_U} AND clock < {_GRID_E}
              GROUP BY 1, 2
            ), g AS (
              SELECT itemid, clock FROM users, grid
            ), f AS (
              SELECT g.itemid, g.clock, b.v
              FROM g ASOF LEFT JOIN b
                ON g.itemid = b.itemid AND g.clock >= b.gclock
            ), fb AS (
              SELECT itemid, min(gclock) AS g0 FROM b GROUP BY 1
            ), fv AS (
              SELECT b.itemid, b.v AS v0
              FROM b JOIN fb ON b.itemid = fb.itemid AND b.gclock = fb.g0
            )
            SELECT f.itemid, f.clock, round(coalesce(f.v, fv.v0, 0.0), 6) AS value
            FROM f LEFT JOIN fv ON f.itemid = fv.itemid
        """,
        "detect2_screen": f"""
            WITH t AS (
              SELECT user_id AS itemid, ts, event_id, value
              FROM events WHERE ts < TIMESTAMP '{_CUT}'
            ), d AS (
              SELECT itemid, value - lag(value) OVER (PARTITION BY itemid
                                                      ORDER BY ts, event_id) AS diff
              FROM t
            ), ds AS (
              SELECT itemid, sum(diff)/count(diff) AS dmean, {std_d} AS dstd
              FROM d WHERE diff IS NOT NULL AND diff <> 0 GROUP BY 1
            ), lt AS (
              SELECT itemid, value AS last_t FROM (
                SELECT itemid, value,
                       row_number() OVER (PARTITION BY itemid
                                          ORDER BY ts DESC, event_id DESC) AS rn
                FROM t
              ) WHERE rn = 1
            ), r AS (
              SELECT user_id AS itemid, max(value) AS max_h, min(value) AS min_h
              FROM events WHERE ts >= TIMESTAMP '{_CUT}' GROUP BY 1
            )
            SELECT r.itemid, round(max_h, 6) AS max_h, round(min_h, 6) AS min_h,
                   round(last_t, 6) AS last_t, round(dmean, 6) AS dmean,
                   round(dstd, 6) AS dstd
            FROM r JOIN ds USING (itemid) JOIN lt USING (itemid)
            WHERE dstd > 0
              AND ((max_h - last_t) > dmean + 2.0*dstd
                   OR (min_h - last_t) < dmean - 2.0*dstd)
        """,
        "detect3_support": f"""
            WITH tr AS (
              SELECT user_id AS itemid, sum(value)/count(value) AS mean_t,
                     {std_v} AS std_t
              FROM events WHERE ts < TIMESTAMP '{_CUT}' GROUP BY 1
            ), h AS (
              SELECT user_id AS itemid, value
              FROM events WHERE ts >= TIMESTAMP '{_CUT}'
            ), sup AS (
              SELECT h.itemid,
                     avg(CASE WHEN abs(value - mean_t) > 0.5*std_t
                              THEN 1 ELSE 0 END) AS anom_rate,
                     avg(value) AS mean_h
              FROM h JOIN tr ON h.itemid = tr.itemid
              WHERE std_t > 0 GROUP BY 1
            )
            SELECT itemid, round(anom_rate, 6) AS anom_rate,
                   round(mean_h, 6) AS mean_h
            FROM sup WHERE anom_rate >= 0.6
        """,
        "embedding_near_dup": """
            SELECT id_a, id_b, cosine FROM (
              SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                     round(list_cosine_similarity(a.embedding::DOUBLE[],
                                                  b.embedding::DOUBLE[]), 6)
                       AS cosine
              FROM embeddings a, embeddings b
              WHERE a.vec_id < b.vec_id
            ) WHERE cosine >= 0.4
        """,
        "ann_lsh_topk": f"""
            WITH e AS (
              SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
            ), s AS (
              SELECT vec_id, v, ({_lsh_signature_sql(64, 6)}) AS bucket FROM e
            ), sims AS (
              SELECT q.vec_id AS query_id, c.vec_id AS match_id,
                     round(list_cosine_similarity(q.v, c.v), 6) AS cosine
              FROM s q JOIN s c USING (bucket)
              WHERE q.vec_id < 20 AND c.vec_id <> q.vec_id
            )
            SELECT query_id, match_id, cosine, rank::INT AS rank FROM (
              SELECT *, row_number() OVER (PARTITION BY query_id
                                           ORDER BY cosine DESC, match_id) AS rank
              FROM sims
            ) WHERE rank <= 5
        """,
        "ann_ivf_topk": f"""
            WITH e AS (
              SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
            ), cents AS (
              SELECT vec_id AS cid, v AS cv FROM e
              ORDER BY {_H60.format(x='vec_id::VARCHAR')}, vec_id
              LIMIT 16
            ), csims AS (
              SELECT e.vec_id, c.cid,
                     round(list_cosine_similarity(e.v, c.cv), 6) AS s
              FROM e, cents c
            ), ranked AS (
              SELECT vec_id, cid,
                     row_number() OVER (PARTITION BY vec_id
                                        ORDER BY s DESC, cid) AS rn
              FROM csims
            ), assign AS (
              SELECT vec_id, cid AS cell FROM ranked WHERE rn = 1
            ), qprobe AS (
              SELECT vec_id, cid AS cell FROM ranked
              WHERE rn <= 2 AND vec_id < 20
            ), cand AS (
              SELECT q.vec_id AS query_id, a.vec_id AS match_id, a.cell
              FROM qprobe q JOIN assign a USING (cell)
              WHERE a.vec_id <> q.vec_id
            ), sims AS (
              SELECT c.query_id, c.match_id,
                     round(list_cosine_similarity(qe.v, me.v), 6) AS cosine
              FROM cand c
              JOIN e qe ON qe.vec_id = c.query_id
              JOIN e me ON me.vec_id = c.match_id
            )
            SELECT query_id, match_id, cosine, rank::INT AS rank FROM (
              SELECT *, row_number() OVER (PARTITION BY query_id
                                           ORDER BY cosine DESC, match_id) AS rank
              FROM sims
            ) WHERE rank <= 5
        """,
        "item_conds": """
            SELECT c_custkey AS itemid,
                   round(avg(o_totalprice), 6) AS mean_v
            FROM orders JOIN customer ON o_custkey = c_custkey
            WHERE c_nationkey < 5
            GROUP BY 1 HAVING avg(o_totalprice) > 30000.0
        """,
        "detect3_phase2": f"""
            WITH tr AS (
              SELECT user_id AS itemid, sum(value)/count(value) AS mean_t,
                     {std_v} AS std_t
              FROM events WHERE ts < TIMESTAMP '{_CUT}' GROUP BY 1
            ), h AS (
              SELECT e.user_id AS itemid, e.ts, e.event_id, e.value,
                     tr.mean_t, tr.std_t
              FROM events e JOIN tr ON e.user_id = tr.itemid
              WHERE e.ts >= TIMESTAMP '{_CUT}' AND tr.std_t > 0
            ), phase1 AS (
              SELECT itemid
              FROM h GROUP BY 1
              HAVING avg(CASE WHEN abs(value - mean_t) > 0.5*std_t
                              THEN 1 ELSE 0 END) >= 0.6
            ), failed AS (
              SELECT h.*, row_number() OVER (PARTITION BY h.itemid
                                             ORDER BY ts DESC, event_id DESC) AS rn
              FROM h WHERE h.itemid NOT IN (SELECT itemid FROM phase1)
            ), rescued AS (
              SELECT itemid FROM failed WHERE rn <= 6
              GROUP BY itemid, mean_t, std_t
              HAVING abs(avg(value) - mean_t) > 0.5 * std_t
            )
            SELECT itemid FROM phase1 UNION SELECT itemid FROM rescued
        """,
        "topitems": f"""
            WITH s AS (
              SELECT user_id AS itemid, count(value) AS item_count,
                     sum(value)/count(value) AS trend_mean,
                     {std_v} AS trend_std
              FROM events GROUP BY 1
            ), e AS (
              SELECT c_nationkey AS hostid, s.itemid, c_name AS item_name,
                     s.item_count, s.trend_mean, s.trend_std
              FROM s JOIN customer ON s.itemid = c_custkey
            )
            SELECT hostid, itemid, item_name, item_count,
                   -1 AS clusterid,
                   round(trend_mean, 6) AS trend_mean,
                   round(trend_std, 6) AS trend_std
            FROM (
              SELECT *, row_number() OVER (PARTITION BY hostid
                                           ORDER BY item_count DESC, itemid) AS rn
              FROM e
            ) WHERE rn <= 3
        """,
        "tpch_q1": """
            WITH b AS (
              SELECT l_returnflag, l_linestatus,
                     CAST(round(l_quantity, 0) AS BIGINT) AS q,
                     CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS p,
                     CAST(round(l_discount * 100, 0) AS BIGINT) AS d,
                     CAST(round(l_tax * 100, 0) AS BIGINT) AS t
              FROM lineitem
              WHERE l_shipdate <= TIMESTAMP '1998-12-01 00:00:00'
            ), g AS (
              SELECT l_returnflag, l_linestatus,
                     CAST(sum(q) AS BIGINT) AS sum_qty,
                     CAST(sum(p) AS BIGINT) AS sum_base_price_c,
                     CAST(sum(p*(100-d)) AS BIGINT) AS sum_disc_price_e4,
                     CAST(sum(p*(100-d)*(100+t)) AS BIGINT) AS sum_charge_e6,
                     CAST(sum(d) AS BIGINT) AS sum_d,
                     count(*) AS count_order
              FROM b GROUP BY 1, 2
            )
            SELECT l_returnflag, l_linestatus, sum_qty, sum_base_price_c,
                   sum_disc_price_e4, sum_charge_e6,
                   round(CAST(sum_qty AS DOUBLE)/count_order, 6) AS avg_qty,
                   round((CAST(sum_base_price_c AS DOUBLE)/count_order)/100.0,
                         6) AS avg_price,
                   round((CAST(sum_d AS DOUBLE)/count_order)/100.0,
                         6) AS avg_disc,
                   count_order
            FROM g
        """,
        "tpch_q3": """
            SELECT l_orderkey, o_orderdate,
                   round(sum(l_extendedprice*(1-l_discount)), 2) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            WHERE c_mktsegment = 'BUILDING'
              AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
              AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
            GROUP BY 1, 2
            ORDER BY revenue DESC, l_orderkey ASC
            LIMIT 10
        """,
        "column_profile": f"""
            WITH v AS (
              SELECT event_type, 'value' AS column,
                     count(*) AS row_cnt, count(value) AS cnt,
                     count(*) - count(value) AS null_cnt,
                     round(min(value), 6) AS min_v, round(max(value), 6) AS max_v,
                     round(sum(value)/count(value), 6) AS mean_v,
                     round({std_v}, 6) AS std_v
              FROM events GROUP BY 1
            ), u AS (
              SELECT event_type, 'user_id' AS column,
                     count(*) AS row_cnt, count(user_id) AS cnt,
                     count(*) - count(user_id) AS null_cnt,
                     round(min(user_id), 6) AS min_v, round(max(user_id), 6) AS max_v,
                     round(sum(user_id)/count(user_id), 6) AS mean_v,
                     round({_STD_CLOSED.format(v="user_id")}, 6) AS std_v
              FROM events GROUP BY 1
            )
            SELECT * FROM v UNION ALL SELECT * FROM u
        """,
        "column_quantiles": """
            SELECT event_type,
                   round(quantile_cont(value::DOUBLE, 0.25), 6) AS p25,
                   round(quantile_cont(value::DOUBLE, 0.50), 6) AS p50,
                   round(quantile_cont(value::DOUBLE, 0.75), 6) AS p75
            FROM events GROUP BY 1
        """,
        "kll_quantiles": """
            WITH capped AS (
              SELECT event_type, value FROM (
                SELECT event_type, value,
                       row_number() OVER (PARTITION BY event_type
                                          ORDER BY event_id) AS rn
                FROM events
                WHERE value IS NOT NULL AND NOT isnan(value)
              ) WHERE rn <= 4000
            )
            SELECT event_type,
                   count(*) AS n,
                   round(quantile_disc(value, 0.25), 6) AS p25_d,
                   round(quantile_disc(value, 0.50), 6) AS p50_d,
                   round(quantile_disc(value, 0.75), 6) AS p75_d
            FROM capped GROUP BY 1
        """,
        "drift_psi": f"""
            WITH cur AS (
              SELECT event_type,
                     CASE WHEN value < {_DRIFT_LO} THEN 0
                          WHEN value >= {_DRIFT_HI} THEN {_DRIFT_NBINS + 1}
                          ELSE CAST(floor((value - {_DRIFT_LO})
                                          / {(_DRIFT_HI - _DRIFT_LO) / _DRIFT_NBINS}) AS INT) + 1
                     END AS bin
              FROM events
              WHERE value IS NOT NULL AND NOT isnan(value)
                AND ts >= TIMESTAMP '{_CUT}'
            ), base AS (
              SELECT CASE WHEN value < {_DRIFT_LO} THEN 0
                          WHEN value >= {_DRIFT_HI} THEN {_DRIFT_NBINS + 1}
                          ELSE CAST(floor((value - {_DRIFT_LO})
                                          / {(_DRIFT_HI - _DRIFT_LO) / _DRIFT_NBINS}) AS INT) + 1
                     END AS bin
              FROM events
              WHERE value IS NOT NULL AND NOT isnan(value)
                AND ts < TIMESTAMP '{_CUT}'
            ),
            cur_cnt AS (SELECT event_type, bin, count(*) AS cn FROM cur GROUP BY 1, 2),
            base_cnt AS (SELECT bin, count(*) AS bn FROM base GROUP BY 1),
            cur_tot AS (SELECT event_type, sum(cn) AS cur_n FROM cur_cnt GROUP BY 1),
            base_tot AS (SELECT sum(bn) AS base_n FROM base_cnt),
            grid AS (
              SELECT event_type, cur_n, i AS bin
              FROM cur_tot, UNNEST(range(0, {_DRIFT_NBINS + 2})) AS t(i)
            ),
            terms AS (
              SELECT g.event_type, g.bin, g.cur_n, bt.base_n,
                     coalesce(c.cn, 0)::DOUBLE / g.cur_n + 1e-6 AS p,
                     coalesce(b.bn, 0)::DOUBLE / bt.base_n + 1e-6 AS q
              FROM grid g
              LEFT JOIN cur_cnt c ON c.event_type = g.event_type AND c.bin = g.bin
              LEFT JOIN base_cnt b ON b.bin = g.bin
              CROSS JOIN base_tot bt
            ),
            cum AS (
              SELECT event_type, cur_n, base_n,
                     sum((p - q) * ln(p / q)) OVER w AS cum_psi,
                     sum(p) OVER w - sum(q) OVER w AS cdf_diff
              FROM terms
              WINDOW w AS (PARTITION BY event_type ORDER BY bin
                           ROWS UNBOUNDED PRECEDING)
            )
            SELECT event_type, round(max(cum_psi), 6) AS psi,
                   round(max(abs(cdf_diff)), 6) AS ks,
                   max(cur_n)::BIGINT AS cur_n, max(base_n)::BIGINT AS base_n
            FROM cum GROUP BY 1
        """,
        "freshness": f"""
            SELECT event_type, n_rows, lag_us,
                   (lag_us <= {int(_FRESH_MAX_LAG_S * 1_000_000)}) AS fresh
            FROM (
              SELECT event_type, count(*)::BIGINT AS n_rows,
                     datediff('microsecond', max(ts),
                              TIMESTAMP '{_FRESH_AS_OF}')::BIGINT AS lag_us
              FROM events GROUP BY 1
            )
        """,
        "uniqueness_violations": """
            WITH k AS (
              SELECT doc_id, substr(text, 1, 40) AS key FROM documents
            ), d AS (
              SELECT key, count(*) AS dup_cnt FROM k GROUP BY 1
              HAVING count(*) > 1
            )
            SELECT doc_id, key, dup_cnt FROM k JOIN d USING (key)
        """,
        "ri_violations": (
            "SELECT doc_id, lang FROM documents WHERE lang IS NOT NULL "
            "AND lang NOT IN ("
            + ", ".join(f"'{c}'" for c in _ALLOWED_LANGS)
            + ")"
        ),
        "near_dup_incremental": f"""
            WITH {_MINHASH_CTES},
            sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
            inter AS (
              SELECT c.id_a, c.id_b, count(*) AS n
              FROM cand c
              JOIN sh a ON a.doc_id = c.id_a
              JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
              GROUP BY 1, 2
            )
            SELECT i.id_a, i.id_b,
                   round(i.n / (sa.sz + sb.sz - i.n), 6) AS jaccard
            FROM inter i
            JOIN sizes sa ON sa.doc_id = i.id_a
            JOIN sizes sb ON sb.doc_id = i.id_b
            WHERE i.n / (sa.sz + sb.sz - i.n) >= 0.1
              AND (i.id_a < {_INCR_CUT} OR i.id_b < {_INCR_CUT})
        """,
    }
    # the persisted-index IVF path is result-identical to the fresh path by
    # construction, so it shares the fresh path's oracle verbatim
    out["ann_ivf_index_topk"] = out["ann_ivf_topk"]
    # IVF-PQ: coarse assignment/probe replayed as in ann_ivf_topk; PQ codes
    # replayed with list slicing (sub-space m = elements m*8+1 .. m*8+8,
    # 1-based), reconstruction = ordered concat of codeword slices, ADC
    # score = the SAME round(list_cosine_similarity, 6) as every other
    # similarity oracle — hash-exact, not recall-pinned
    out["ann_ivf_pq_topk"] = f"""
        WITH e AS MATERIALIZED (
          SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        ), cents AS (
          SELECT vec_id AS cid, v AS cv FROM e
          ORDER BY {_H60.format(x='vec_id::VARCHAR')}, vec_id
          LIMIT 16
        ), cb AS MATERIALIZED (
          SELECT (row_number() OVER (ORDER BY h, cid) - 1) AS j, bv FROM (
            SELECT {_H60.format(x='vec_id::VARCHAR')} AS h, vec_id AS cid,
                   v AS bv
            FROM e ORDER BY 1, 2 LIMIT 32
          )
        ), csims AS (
          SELECT e.vec_id, c.cid,
                 round(list_cosine_similarity(e.v, c.cv), 6) AS s
          FROM e, cents c
        ), ranked AS MATERIALIZED (
          SELECT vec_id, cid,
                 row_number() OVER (PARTITION BY vec_id
                                    ORDER BY s DESC, cid) AS rn
          FROM csims
        ), assign AS (
          SELECT vec_id, cid AS cell FROM ranked WHERE rn = 1
        ), qprobe AS (
          SELECT vec_id, cid AS cell FROM ranked
          WHERE rn <= 2 AND vec_id < 20
        ), cand AS (
          SELECT q.vec_id AS query_id, a.vec_id AS match_id
          FROM qprobe q JOIN assign a USING (cell)
          WHERE a.vec_id <> q.vec_id
        ), codes AS MATERIALIZED (
          SELECT vec_id, m, j AS code FROM (
            SELECT e.vec_id, t.m, c.j,
                   row_number() OVER (PARTITION BY e.vec_id, t.m
                     ORDER BY round(list_distance(
                                 e.v[t.m*8+1 : t.m*8+8],
                                 c.bv[t.m*8+1 : t.m*8+8]), 6), c.j) AS rn
            FROM e, range(8) t(m), cb c
          ) WHERE rn = 1
        ), recon AS MATERIALIZED (
          SELECT k.vec_id,
                 flatten(list(c.bv[k.m*8+1 : k.m*8+8] ORDER BY k.m)) AS xhat
          FROM codes k JOIN cb c ON c.j = k.code
          GROUP BY k.vec_id
        ), sims AS (
          SELECT c.query_id, c.match_id,
                 round(list_cosine_similarity(qe.v, r.xhat), 6) AS cosine
          FROM cand c
          JOIN e qe ON qe.vec_id = c.query_id
          JOIN recon r ON r.vec_id = c.match_id
        )
        SELECT query_id, match_id, cosine, rank::INT AS rank FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY cosine DESC, match_id) AS rank
          FROM sims
        ) WHERE rank <= 5
    """
    out["embedding_near_dup_lsh"] = f"""
        WITH e AS (
          SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        ), s AS (
          SELECT vec_id, v,
                 ({_lsh_signature_sql(64, 4, band=0)}) AS k0,
                 ({_lsh_signature_sql(64, 4, band=1)}) AS k1,
                 ({_lsh_signature_sql(64, 4, band=2)}) AS k2
          FROM e
        ), banded AS (
          SELECT vec_id, 0 AS band, k0 AS key FROM s
          UNION ALL SELECT vec_id, 1, k1 FROM s
          UNION ALL SELECT vec_id, 2, k2 FROM s
        ), pairs AS (
          SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
          FROM banded a JOIN banded b USING (band, key)
          WHERE a.vec_id < b.vec_id
        ), scored AS (
          SELECT p.id_a, p.id_b,
                 round(list_cosine_similarity(ea.v, eb.v), 6) AS cosine
          FROM pairs p
          JOIN e ea ON ea.vec_id = p.id_a
          JOIN e eb ON eb.vec_id = p.id_b
        )
        SELECT id_a, id_b, cosine FROM scored
        WHERE cosine >= 0.4 AND NOT isnan(cosine)
    """
    # NOT isnan: a zero-norm embedding yields NULL cosine on the Spark side
    # (dropped by >=) but NaN in DuckDB, where NaN orders ABOVE all reals
    # and would pass the threshold — guard the oracle to the same semantics

    # Audio fingerprints are NOT SQL-computable (FFT + codec decode), but
    # they ARE a pure deterministic function of the corpus seed — so the
    # oracle reads a numpy-precomputed (seed, frame_idx, hash) parquet
    # (audio_fp.ensure_oracle_frames: synth → encode → REAL decode →
    # fingerprint, the same code the Spark executors run) and replays
    # banding + Hamming re-rank in SQL. The check is hash-exact end to end.
    from pyanomalydetector2_spark.operators.audio_fp import (
        BITS,
        N_HASHES,
        ensure_oracle_embed,
        ensure_oracle_frames,
        ensure_oracle_quality,
        ensure_oracle_silent_quality,
    )

    fp_path = ensure_oracle_frames()
    q_path = ensure_oracle_quality()
    sq_path = ensure_oracle_silent_quality()
    emb_path = ensure_oracle_embed()

    # spectral embeddings: same-code-precomputed table; both engines round
    # the identical stored double, and the near-dup replay is the exact
    # all-pairs cosine over that table (the embedding_near_dup convention)
    out["audio_embed"] = f"""
        WITH e AS (
          SELECT em.seed AS clip_id, em.embedding
          FROM read_parquet('{emb_path}') em
          JOIN documents d ON em.seed = d.doc_id
        )
        SELECT clip_id, i - 1 AS i, round(embedding[i], 6) AS val
        FROM e, UNNEST(range(1, len(embedding) + 1)) AS u(i)
    """
    out["audio_embed_near_dup"] = f"""
        WITH e AS (
          SELECT em.seed AS id, em.embedding
          FROM read_parquet('{emb_path}') em
          JOIN documents d ON em.seed = d.doc_id
        )
        SELECT id_a, id_b, cosine FROM (
          SELECT a.id AS id_a, b.id AS id_b,
                 round(list_cosine_similarity(a.embedding::DOUBLE[],
                                              b.embedding::DOUBLE[]), 6)
                   AS cosine
          FROM e a, e b WHERE a.id < b.id
        ) WHERE cosine >= 0.995
    """

    # decoded-feature drift: the drift_psi oracle pattern (grid + window-
    # ordered PSI accumulation) aimed at rms_db from the same-code
    # quality table — current = μ-law/gain-1.15 slice per bucket,
    # baseline = WAV/gain-0.85 slice global
    _aqd_bin = (
        f"CASE WHEN rms_db < {_AQD_LO} THEN 0 "
        f"WHEN rms_db >= {_AQD_HI} THEN {_AQD_NBINS + 1} "
        f"ELSE CAST(floor((rms_db - {_AQD_LO}) "
        f"/ {(_AQD_HI - _AQD_LO) / _AQD_NBINS}) AS INT) + 1 END"
    )
    out["audio_quality_drift"] = f"""
        WITH cur AS (
          SELECT (q.seed % 8)::INT AS bucket, {_aqd_bin} AS bin
          FROM read_parquet('{q_path}') q
          JOIN documents d ON q.seed = d.doc_id
          WHERE q.seed % 3 = 2
            AND rms_db IS NOT NULL AND NOT isnan(rms_db)
        ), base AS (
          SELECT {_aqd_bin} AS bin
          FROM read_parquet('{q_path}') q
          JOIN documents d ON q.seed = d.doc_id
          WHERE q.seed % 3 = 1
            AND rms_db IS NOT NULL AND NOT isnan(rms_db)
        ),
        cur_cnt AS (SELECT bucket, bin, count(*) AS cn FROM cur GROUP BY 1, 2),
        base_cnt AS (SELECT bin, count(*) AS bn FROM base GROUP BY 1),
        cur_tot AS (SELECT bucket, sum(cn) AS cur_n FROM cur_cnt GROUP BY 1),
        base_tot AS (SELECT sum(bn) AS base_n FROM base_cnt),
        grid AS (
          SELECT bucket, cur_n, i AS bin
          FROM cur_tot, UNNEST(range(0, {_AQD_NBINS + 2})) AS t(i)
        ),
        terms AS (
          SELECT g.bucket, g.bin, g.cur_n, bt.base_n,
                 coalesce(c.cn, 0)::DOUBLE / g.cur_n + 1e-6 AS p,
                 coalesce(b.bn, 0)::DOUBLE / bt.base_n + 1e-6 AS q
          FROM grid g
          LEFT JOIN cur_cnt c ON c.bucket = g.bucket AND c.bin = g.bin
          LEFT JOIN base_cnt b ON b.bin = g.bin
          CROSS JOIN base_tot bt
        ),
        cum AS (
          SELECT bucket, cur_n, base_n,
                 sum((p - q) * ln(p / q)) OVER w AS cum_psi,
                 sum(p) OVER w - sum(q) OVER w AS cdf_diff
          FROM terms
          WINDOW w AS (PARTITION BY bucket ORDER BY bin
                       ROWS UNBOUNDED PRECEDING)
        )
        SELECT bucket, round(max(cum_psi), 6) AS psi,
               round(max(abs(cdf_diff)), 6) AS ks,
               max(cur_n)::BIGINT AS cur_n, max(base_n)::BIGINT AS base_n
        FROM cum GROUP BY 1
    """
    out["audio_quality"] = f"""
        SELECT q.seed AS clip_id, q.n_samples,
               round(q.rms_db, 6) AS rms_db,
               round(q.peak, 6) AS peak,
               round(q.clipping_ratio, 6) AS clipping_ratio,
               round(q.silence_ratio, 6) AS silence_ratio,
               round(q.zcr, 6) AS zcr
        FROM read_parquet('{q_path}') q
        JOIN documents d ON q.seed = d.doc_id
    """
    out["audio_fingerprint"] = f"""
        SELECT f.seed AS clip_id, f.frame_idx, f.hash
        FROM read_parquet('{fp_path}') f
        JOIN documents d ON f.seed = d.doc_id
    """
    # audio trim: the pad plant is closed-form id arithmetic; 64.0 =
    # 1000/SR_HZ · TRIM_FRAME ms per frame, 32 content frames
    from pyanomalydetector2_spark.operators.audio_fp import (
        N_SAMPLES,
        PAD_LEAD_MOD,
        PAD_TRAIL_MOD,
        TRIM_FRAME,
    )

    n_content = N_SAMPLES // TRIM_FRAME
    out["audio_trim"] = f"""
        WITH p AS (
          SELECT doc_id AS clip_id,
                 (doc_id * 3) % {PAD_LEAD_MOD} AS lead,
                 (doc_id * 5) % {PAD_TRAIL_MOD} AS trail
          FROM documents
        )
        SELECT clip_id,
               CAST(lead + {n_content} + trail AS BIGINT) AS n_frames,
               CAST(lead AS BIGINT) AS lead_frames,
               CAST(trail AS BIGINT) AS trail_frames,
               round(lead * 64.0, 6) AS lead_ms,
               round(trail * 64.0, 6) AS trail_ms,
               round({n_content}.0 / (lead + {n_content} + trail), 6)
                 AS active_ratio
        FROM p
    """
    # snippet search: both sides' pair keys rebuilt from the frames table
    # (snippet hashes ARE rows off..off+7 of their source seed — the
    # slice-alignment property pytest-pinned in test_audio_fp.py), then
    # the join + offset-groupBy replayed in SQL
    from pyanomalydetector2_spark.operators.audio_fp import (
        N_FRAMES,
        ORACLE_FP_SEEDS,
        SNIPPET_FRAMES,
    )

    sn_keys = SNIPPET_FRAMES - 2  # 8 hashes → 7 pair keys
    sn_offsets = N_FRAMES - SNIPPET_FRAMES + 1
    out["audio_snippet_search"] = f"""
        WITH nn AS (
          SELECT least(max(doc_id) + 1, {_SNIPPET_CORPUS_CAP}) AS n
          FROM documents
        ),
        ck AS (
          SELECT f.seed AS clip_id, f.frame_idx AS i,
                 f.hash * 32768 + f2.hash AS key
          FROM read_parquet('{fp_path}') f
          JOIN read_parquet('{fp_path}') f2
            ON f2.seed = f.seed AND f2.frame_idx = f.frame_idx + 1
          JOIN documents d ON f.seed = d.doc_id
          JOIN nn ON d.doc_id < nn.n
        ),
        sq AS (
          SELECT d.doc_id AS qid,
                 CASE WHEN d.doc_id % 2 = 0 THEN (d.doc_id * 7) % nn.n
                      ELSE nn.n + (d.doc_id % ({ORACLE_FP_SEEDS} - nn.n))
                 END AS src,
                 (d.doc_id * 5) % {sn_offsets} AS off
          FROM documents d, nn
        ),
        sk AS (
          SELECT s.qid, f.frame_idx - s.off AS j,
                 f.hash * 32768 + f2.hash AS key
          FROM sq s
          JOIN read_parquet('{fp_path}') f
            ON f.seed = s.src
           AND f.frame_idx BETWEEN s.off AND s.off + {sn_keys - 1}
          JOIN read_parquet('{fp_path}') f2
            ON f2.seed = s.src AND f2.frame_idx = f.frame_idx + 1
        ),
        m AS (
          SELECT s.qid, c.clip_id, c.i - s.j AS "offset",
                 count(*) AS n_matched
          FROM sk s JOIN ck c USING (key)
          GROUP BY 1, 2, 3
        )
        SELECT qid, clip_id, "offset", n_matched,
               round(n_matched / {sn_keys}.0, 6) AS match_frac
        FROM m WHERE n_matched >= 4
    """
    # AS MATERIALIZED: DuckDB inlines multiply-referenced CTEs by default
    # and re-evaluates them per reference — measured 12 s → 0.9 s at sf0.1.
    # The CTE block (no WITH, no final SELECT) is shared by the pair
    # queries and the cluster/keep-best recursions built on top of it.
    audio_nd_ctes = f"""fp AS MATERIALIZED (
          SELECT f.seed AS id, f.frame_idx, f.hash
          FROM read_parquet('{fp_path}') f
          JOIN documents d ON f.seed = d.doc_id
        ), bands AS MATERIALIZED (
          SELECT a.id, a.frame_idx AS band,
                 a.hash * 32768 + b.hash AS key
          FROM fp a JOIN fp b
            ON a.id = b.id AND b.frame_idx = a.frame_idx + 1
          UNION ALL
          SELECT a.id, {N_HASHES - 1} + a.frame_idx AS band,
                 a.hash * 32768 + b.hash AS key
          FROM fp a JOIN fp b
            ON a.id = b.id AND b.frame_idx = a.frame_idx + 2
        ), cand AS MATERIALIZED (
          SELECT DISTINCT a.id AS id_a, b.id AS id_b
          FROM bands a JOIN bands b USING (band, key)
          WHERE a.id < b.id
        ), ham AS (
          SELECT c.id_a, c.id_b,
                 SUM(bit_count(xor(fa.hash, fb.hash)))::BIGINT AS hd,
                 COUNT(*) AS nf
          FROM cand c
          JOIN fp fa ON fa.id = c.id_a
          JOIN fp fb ON fb.id = c.id_b AND fb.frame_idx = fa.frame_idx
          GROUP BY c.id_a, c.id_b
        ), apairs AS MATERIALIZED (
          SELECT id_a, id_b, round(1.0 - hd / ({BITS}.0 * nf), 6) AS sim
          FROM ham
          WHERE round(1.0 - hd / ({BITS}.0 * nf), 6) >= 0.85
        )"""
    audio_nd_sql = (
        f"WITH {audio_nd_ctes} SELECT id_a, id_b, sim FROM apairs"
    )
    out["audio_near_dup"] = audio_nd_sql
    # incremental ingest emits exactly the full pair set restricted to
    # pairs touching the batch (banding is identical, oracle has no cap)
    out["audio_near_dup_incremental"] = (
        audio_nd_sql + f" WHERE id_a < {_INCR_CUT} OR id_b < {_INCR_CUT}"
    )
    # the streaming drain accumulates exactly the one-shot pair set over
    # the streamed id range (each pair found once, at its later member's
    # micro-batch — see streaming/audio_ingest.py module docstring), so
    # the batch oracle restricted to that range applies verbatim
    out["audio_ingest_stream"] = (
        audio_nd_sql + f" WHERE id_b < {_STREAM_CUT}"
    )
    # connected components over the audio pairs (same recursion as the
    # text dup_clusters oracle) + the keep-best decision scored by the
    # precomputed quality table — both engines rank by bit-identical
    # numpy rms_db, so the keep flag is hash-exact
    audio_comp_ctes = f"""{audio_nd_ctes},
        edges AS (
          SELECT id_a AS s, id_b AS d FROM apairs
          UNION ALL
          SELECT id_b, id_a FROM apairs
        ),
        reach AS (
          SELECT s AS id, s AS r FROM edges
          UNION
          SELECT e.d AS id, reach.r FROM reach JOIN edges e ON reach.id = e.s
        ),
        comp AS (
          SELECT id AS clip_id, min(r) AS cluster_id FROM reach GROUP BY 1
        )"""
    out["audio_dup_clusters"] = f"""
        WITH RECURSIVE {audio_comp_ctes}
        SELECT clip_id, cluster_id FROM comp
    """
    out["audio_keep_best"] = f"""
        WITH RECURSIVE {audio_comp_ctes},
        ranked AS (
          SELECT c.clip_id, c.cluster_id, q.rms_db,
                 row_number() OVER (PARTITION BY c.cluster_id
                                    ORDER BY q.rms_db DESC, c.clip_id)
                   AS rn
          FROM comp c
          JOIN read_parquet('{q_path}') q ON q.seed = c.clip_id
        )
        SELECT clip_id, cluster_id, round(rms_db, 6) AS score,
               (rn = 1) AS keep
        FROM ranked
    """

    # label-consistency over audio duplicates: the oracle rebuilds the
    # SAME near-dup pair set from the precomputed fingerprint table, then
    # replays the transcript plant CASE and DuckDB's levenshtein (unit-cost
    # DP, identical to Spark's on this ASCII corpus); rel_ppm is an exact
    # floored integer ratio so no float-rounding convention is needed
    out["audio_dup_transcript_mismatch"] = f"""
        WITH {audio_nd_ctes}, tr AS (
          SELECT d.doc_id AS id,
                 CASE WHEN (d.doc_id // 3) % 7 = 3 AND d.doc_id % 3 = 2
                      THEN d.text || ' {_MISM_BIG}'
                      WHEN (d.doc_id // 3) % 11 = 5 AND d.doc_id % 3 = 1
                      THEN d0.text || ' {_MISM_SMALL}'
                      ELSE d0.text END AS transcript
          FROM documents d
          JOIN documents d0 ON d0.doc_id = 3 * (d.doc_id // 3)
        )
        SELECT p.id_a, p.id_b, p.sim,
               length(ta.transcript)::INT AS len_a,
               length(tb.transcript)::INT AS len_b,
               levenshtein(ta.transcript, tb.transcript)::INT AS dist,
               floor(1000000.0 * levenshtein(ta.transcript, tb.transcript)
                     / greatest(length(ta.transcript),
                                length(tb.transcript), 1))::BIGINT
                 AS rel_ppm,
               levenshtein(ta.transcript, tb.transcript) > 5
                 AS transcript_mismatch
        FROM apairs p
        JOIN tr ta ON ta.id = p.id_a
        JOIN tr tb ON tb.id = p.id_b
    """

    # declared-vs-container consistency: the oracle replays only the
    # planted arithmetic (every corpus clip truly holds 16384 samples @
    # 8 kHz; variant 2 is raw G.711 with no container rate, so duration
    # derives from the DECLARED sr — catching the stale-metadata rows
    # either way); Spark must recover the same numbers from real
    # FLAC STREAMINFO / RIFF fmt walks and raw byte counts
    from pyanomalydetector2_spark.operators.audio_fp import (
        N_SAMPLES as _AFP_N,
        ORACLE_FP_SEEDS,
        SR_HZ as _AFP_SR,
    )

    out["audio_container_consistency"] = f"""
        WITH c AS (
          SELECT doc_id AS clip_id, doc_id % 3 AS v,
                 2048 + CASE WHEN doc_id % 7 = 3 THEN 500 ELSE 0 END
                   AS dur_ms,
                 CASE WHEN doc_id % 11 = 5 THEN 16000 ELSE 8000 END
                   AS sr_hz
          FROM documents WHERE doc_id < {ORACLE_FP_SEEDS}
        ), m AS (
          SELECT clip_id, dur_ms, sr_hz,
                 CASE WHEN v = 0 THEN 'flac' WHEN v = 1 THEN 'wav'
                      ELSE 'raw-g711' END AS container,
                 CASE WHEN v <= 1 THEN {_AFP_SR} ELSE -1 END
                   AS container_sr,
                 CAST({_AFP_N} AS BIGINT) AS container_samples,
                 CASE WHEN v <= 1 THEN {_AFP_SR} ELSE sr_hz END
                   AS rate_used
          FROM c
        )
        SELECT clip_id, container, container_sr, container_samples,
               (container_samples * 1000) // rate_used AS container_dur_ms,
               CASE WHEN abs(dur_ms - (container_samples * 1000)
                                      // rate_used) <= 50
                    THEN 1 ELSE 0 END AS dur_ok,
               CASE WHEN container_sr = -1 OR container_sr = sr_hz
                    THEN 1 ELSE 0 END AS sr_ok
        FROM m
    """

    # cross-modal: the quality side reads the same-code-precomputed
    # parquet oracles (normal corpus + the one silent-WAV row), the
    # transcript side replays the plant CASE and the shared whitespace
    # tokenization; flags compare the ROUNDED values exactly as Spark does
    out["transcript_audio_consistency"] = f"""
        WITH q AS (
          SELECT q.seed AS id, q.n_samples, q.silence_ratio
          FROM read_parquet('{q_path}') q
          JOIN documents d ON q.seed = d.doc_id
          UNION ALL
          SELECT {_SILENT_BASE} + d.doc_id AS id,
                 s.n_samples, s.silence_ratio
          FROM read_parquet('{sq_path}') s
          CROSS JOIN documents d
          WHERE d.doc_id < {_N_SILENT}
        ), tr AS (
          SELECT doc_id AS id,
                 CASE WHEN doc_id % 13 = 4 THEN ''
                      WHEN doc_id % 17 = 6 THEN repeat(text || ' ', 13)
                      WHEN doc_id % 19 = 7 THEN 'ok'
                      ELSE text END AS transcript
          FROM documents
          UNION ALL
          SELECT {_SILENT_BASE} + doc_id AS id,
                 CASE WHEN doc_id % 2 = 0 THEN text ELSE '' END
                   AS transcript
          FROM documents WHERE doc_id < {_N_SILENT}
        ), m AS (
          SELECT q.id,
                 CASE WHEN t.transcript IS NULL THEN 0
                      ELSE len(list_filter(regexp_split_to_array(
                               lower(trim(t.transcript)), '\\s+'),
                             x -> x <> '')) END AS n_tokens,
                 round(q.silence_ratio, 6) AS silence_ratio,
                 q.n_samples
          FROM q JOIN tr t ON q.id = t.id
        ), f AS (
          SELECT id, n_tokens, silence_ratio,
                 round(n_tokens * 8000.0 / n_samples, 6) AS tokens_per_s,
                 (silence_ratio >= 0.99) AS is_silent,
                 (silence_ratio <= 0.5) AS is_speech
          FROM m
        )
        SELECT id AS clip_id, n_tokens::INT AS n_tokens, silence_ratio,
               tokens_per_s,
               CASE WHEN is_silent AND n_tokens >= 1 THEN 1 ELSE 0 END
                 AS silent_with_transcript,
               CASE WHEN is_speech AND n_tokens = 0 THEN 1 ELSE 0 END
                 AS speech_with_empty_transcript,
               CASE WHEN is_speech AND n_tokens >= 1
                         AND (tokens_per_s < 2.0 OR tokens_per_s > 60.0)
                    THEN 1 ELSE 0 END AS rate_outlier,
               CASE WHEN NOT ((is_silent AND n_tokens >= 1)
                              OR (is_speech AND n_tokens = 0)
                              OR (is_speech AND n_tokens >= 1
                                  AND (tokens_per_s < 2.0
                                       OR tokens_per_s > 60.0)))
                    THEN 1 ELSE 0 END AS consistent
        FROM f
    """

    # categorical drift: identical algebra to drift_scores_categorical_df —
    # ε-smoothed shares, PSI accumulated in category order (fixed float
    # addition order on both engines), linf = max |p − q| (ε cancels)
    out["drift_categorical"] = """
        WITH cur_cnt AS MATERIALIZED (
          SELECT source AS g, lang AS cat, count(*)::BIGINT AS cur_cat_n
          FROM documents WHERE lang IS NOT NULL GROUP BY 1, 2
        ), base_cnt AS MATERIALIZED (
          SELECT lang AS cat, count(*)::BIGINT AS base_cat_n
          FROM documents WHERE lang IS NOT NULL GROUP BY 1
        ), cur_tot AS (
          SELECT g, sum(cur_cat_n)::BIGINT AS cur_n FROM cur_cnt GROUP BY g
        ), base_tot AS (
          SELECT sum(base_cat_n)::BIGINT AS base_n FROM base_cnt
        ), cats AS (
          SELECT DISTINCT cat FROM (
            SELECT cat FROM base_cnt UNION ALL SELECT cat FROM cur_cnt
          )
        ), t AS (
          SELECT ct.g, c.cat, ct.cur_n, bt.base_n,
                 COALESCE(cc.cur_cat_n, 0)::DOUBLE / ct.cur_n + 1e-06 AS p,
                 COALESCE(bc.base_cat_n, 0)::DOUBLE / bt.base_n + 1e-06 AS q
          FROM cur_tot ct
          CROSS JOIN cats c
          CROSS JOIN base_tot bt
          LEFT JOIN cur_cnt cc ON cc.g = ct.g AND cc.cat = c.cat
          LEFT JOIN base_cnt bc ON bc.cat = c.cat
        ), s AS (
          SELECT g, cur_n, base_n,
                 SUM((p - q) * ln(p / q)) OVER (
                   PARTITION BY g ORDER BY cat
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                 ) AS cum_psi,
                 ABS(p - q) AS dev
          FROM t
        )
        SELECT g AS source, round(max(cum_psi), 6) AS psi,
               round(max(dev), 6) AS linf,
               max(cur_n)::BIGINT AS cur_n, max(base_n)::BIGINT AS base_n
        FROM s GROUP BY g
    """

    # vocabulary drift: the drift_categorical tail pattern with category =
    # baseline-top-k token identity, tail folded to '<other>' (the same
    # capped mapping the Spark operator builds via a broadcast vocab join)
    out["vocab_drift"] = f"""
        WITH {_TOKS_CTE},
        tok AS (
          SELECT t.doc_id, d.source, unnest(t.t) AS token
          FROM toks t JOIN documents d USING (doc_id)
        ),
        vocab AS (
          SELECT token FROM (
            SELECT token, count(*) AS c FROM tok GROUP BY 1
            ORDER BY c DESC, token LIMIT {_VDRIFT_K}
          )
        ),
        cat_rows AS (
          SELECT t.source,
                 CASE WHEN v.token IS NOT NULL THEN t.token
                      ELSE '<other>' END AS cat
          FROM tok t LEFT JOIN vocab v USING (token)
        ),
        cur_cnt AS MATERIALIZED (
          SELECT source AS g, cat, count(*)::BIGINT AS cur_cat_n
          FROM cat_rows GROUP BY 1, 2
        ), base_cnt AS MATERIALIZED (
          SELECT cat, count(*)::BIGINT AS base_cat_n
          FROM cat_rows GROUP BY 1
        ), cur_tot AS (
          SELECT g, sum(cur_cat_n)::BIGINT AS cur_n FROM cur_cnt GROUP BY g
        ), base_tot AS (
          SELECT sum(base_cat_n)::BIGINT AS base_n FROM base_cnt
        ), cats AS (
          SELECT DISTINCT cat FROM (
            SELECT cat FROM base_cnt UNION ALL SELECT cat FROM cur_cnt
          )
        ), t AS (
          SELECT ct.g, c.cat, ct.cur_n, bt.base_n,
                 COALESCE(cc.cur_cat_n, 0)::DOUBLE / ct.cur_n + 1e-06 AS p,
                 COALESCE(bc.base_cat_n, 0)::DOUBLE / bt.base_n + 1e-06 AS q
          FROM cur_tot ct
          CROSS JOIN cats c
          CROSS JOIN base_tot bt
          LEFT JOIN cur_cnt cc ON cc.g = ct.g AND cc.cat = c.cat
          LEFT JOIN base_cnt bc ON bc.cat = c.cat
        ), s AS (
          SELECT g, cur_n, base_n,
                 SUM((p - q) * ln(p / q)) OVER (
                   PARTITION BY g ORDER BY cat
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                 ) AS cum_psi,
                 ABS(p - q) AS dev
          FROM t
        )
        SELECT g AS source, round(max(cum_psi), 6) AS psi,
               round(max(dev), 6) AS linf,
               max(cur_n)::BIGINT AS cur_n, max(base_n)::BIGINT AS base_n
        FROM s GROUP BY g
    """

    # recall audit = a join of the two already-replicated oracle pipelines
    # (exact top-k and LSH top-k) — recall measured in SQL over their rows
    out["ann_recall_audit"] = f"""
        WITH exact AS MATERIALIZED ({out["embedding_topk"]}),
        ann AS MATERIALIZED ({out["ann_lsh_topk"]}),
        totals AS (
          SELECT query_id, count(*)::BIGINT AS exact_n
          FROM exact GROUP BY query_id
        ), hits AS (
          SELECT e.query_id, count(*)::BIGINT AS hits
          FROM exact e JOIN ann a
            ON a.query_id = e.query_id AND a.match_id = e.match_id
          GROUP BY e.query_id
        )
        SELECT t.query_id, t.exact_n,
               COALESCE(h.hits, 0)::BIGINT AS hits,
               round(COALESCE(h.hits, 0)::DOUBLE / t.exact_n, 6) AS recall
        FROM totals t LEFT JOIN hits h ON h.query_id = t.query_id
    """

    # --- streaming constraint suite: replay the DERIVATION + the suite ---
    # semantics over the union (stream order is provably irrelevant: the
    # state is additive). `as string` is the only Spark/DuckDB dialect
    # difference in the shared fragments.
    def _duck(s: str) -> str:
        return s.replace("as string", "as varchar")

    _ss_clips = f"""
        clips AS MATERIALIZED (
          SELECT cast(event_id % 8 as int) AS bucket,
                 concat('clip-', lpad(cast({_SS_EFF} as varchar), 12, '0'))
                   AS clip_id,
                 {_SS_CODEC} AS codec, {_SS_SR} AS sr_hz,
                 {_ss_dur(37)} AS dur_ms,
                 {_duck(_SS_TRANSCRIPT)} AS transcript
          FROM events
        ),
        dups AS MATERIALIZED (
          SELECT clip_id, count(*)::BIGINT AS dup_cnt FROM clips
          GROUP BY 1 HAVING count(*) > 1
        ),
        bclips AS MATERIALIZED (
          SELECT cast(event_id % 8 as int) AS bucket,
                 concat('clip-', lpad(cast({_SS_EFF} as varchar), 12, '0'))
                   AS clip_id,
                 {_SS_CODEC5} AS codec
          FROM events
        )"""
    _ss_vio_body = f"""
          SELECT bucket, clip_id, 'dur_ms_positive' AS constraint_id,
                 cast(dur_ms as varchar) AS observed,
                 '0 < dur_ms <= 600000' AS expected
          FROM clips
          WHERE NOT coalesce(
            dur_ms IS NOT NULL AND dur_ms > 0 AND dur_ms <= 600000, false)
          UNION ALL
          SELECT bucket, clip_id, 'transcript_not_null',
                 coalesce(transcript, 'NULL'), 'non-empty transcript'
          FROM clips
          WHERE NOT coalesce(
            transcript IS NOT NULL AND length(transcript) > 0, false)
          UNION ALL
          SELECT c.bucket, c.clip_id, 'clip_id_unique',
                 'dup_cnt=' || d.dup_cnt, 'unique clip_id'
          FROM clips c JOIN dups d USING (clip_id)
          UNION ALL
          SELECT bucket, clip_id, 'codec_in_dim', codec,
                 'codec in dim_codec'
          FROM clips WHERE codec NOT IN {_SS_CODECS!r}
          UNION ALL
          SELECT bucket, clip_id, 'sr_in_dim', cast(sr_hz as varchar),
                 'sr_hz in dim_sr'
          FROM clips WHERE sr_hz NOT IN {_SS_SRS!r}
          UNION ALL
          -- reconcile: key sets are identical (same _SS_EFF derivation),
          -- so the full-outer diff reduces to the inner join's 'changed'
          -- rows; duplicate keys multiply exactly like snapshot_diff's
          -- full-outer join; bucket is the CURRENT side's carry value
          SELECT c.bucket, c.clip_id, 'codec_reconcile',
                 'changed:codec', 'unchanged vs baseline snapshot'
          FROM clips c JOIN bclips b ON b.clip_id = c.clip_id
          WHERE c.codec IS DISTINCT FROM b.codec"""
    out["suite_stream"] = f"""
        WITH {_ss_clips}
        {_ss_vio_body}
    """

    _ss_grid_cids = ", ".join(
        f"('{c}')"
        for c in (
            "dur_ms_positive", "transcript_not_null", "clip_id_unique",
            "codec_in_dim", "sr_in_dim",
        )
    )
    out["suite_stream_verdicts"] = f"""
        WITH {_ss_clips},
        base AS MATERIALIZED (
          SELECT {_SS_CODEC5} AS codec, {_ss_dur(31)} AS dur_ms FROM events
        ),
        vio AS MATERIALIZED (
          SELECT bucket, constraint_id FROM ({_ss_vio_body})
        ),
        vcnt AS (
          SELECT bucket, constraint_id, count(*)::BIGINT AS n
          FROM vio GROUP BY 1, 2
        ),
        buckets AS (SELECT DISTINCT bucket FROM clips),
        cids AS (SELECT * FROM (VALUES {_ss_grid_cids}) AS t(cid)),
        counts AS (
          SELECT b.bucket, c.cid AS constraint_id,
                 'violation_cnt' AS metric,
                 coalesce(v.n, 0)::DOUBLE AS observed,
                 0.0 AS threshold,
                 CASE WHEN coalesce(v.n, 0) = 0 THEN 1 ELSE 0 END AS passed,
                 coalesce(v.n, 0)::BIGINT AS violation_cnt
          FROM buckets b CROSS JOIN cids c
          LEFT JOIN vcnt v
            ON v.bucket = b.bucket AND v.constraint_id = c.cid
        ),
        bstats AS (
          SELECT bucket, count(*)::BIGINT AS row_cnt,
                 (count(*) - count(transcript))::BIGINT AS null_cnt,
                 sum(dur_ms)::DOUBLE AS dsum, count(dur_ms)::BIGINT AS dcnt
          FROM clips GROUP BY 1
        ),
        statv AS (
          SELECT bucket, 'transcript_null_rate' AS constraint_id,
                 'transcript.null_rate' AS metric,
                 round(null_cnt::DOUBLE / row_cnt, 6) AS observed,
                 0.02 AS threshold,
                 CASE WHEN null_cnt::DOUBLE / row_cnt <= 0.02
                      THEN 1 ELSE 0 END AS passed,
                 0::BIGINT AS violation_cnt
          FROM bstats
          UNION ALL
          SELECT bucket, 'dur_ms_mean_sane', 'dur_ms.mean',
                 round(dsum / dcnt, 6), 5500.0,
                 CASE WHEN dsum / dcnt <= 5500.0 THEN 1 ELSE 0 END,
                 0::BIGINT
          FROM bstats
        ),
        curbin AS (
          SELECT bucket,
                 CASE WHEN dur_ms < 0 THEN 0
                      WHEN dur_ms >= 10000 THEN 21
                      ELSE CAST(floor(dur_ms / 500.0) AS INT) + 1
                 END AS bin
          FROM clips WHERE dur_ms IS NOT NULL
        ),
        basebin AS (
          SELECT CASE WHEN dur_ms < 0 THEN 0
                      WHEN dur_ms >= 10000 THEN 21
                      ELSE CAST(floor(dur_ms / 500.0) AS INT) + 1
                 END AS bin
          FROM base WHERE dur_ms IS NOT NULL
        ),
        cur_cnt AS (
          SELECT bucket, bin, count(*)::BIGINT AS cn
          FROM curbin GROUP BY 1, 2
        ),
        base_cnt AS (
          SELECT bin, count(*)::BIGINT AS bn FROM basebin GROUP BY 1
        ),
        cur_tot AS (
          SELECT bucket, sum(cn)::BIGINT AS cur_n FROM cur_cnt GROUP BY 1
        ),
        base_tot AS (SELECT sum(bn)::BIGINT AS base_n FROM base_cnt),
        dgrid AS (
          SELECT bucket, cur_n, i AS bin
          FROM cur_tot, UNNEST(range(0, 22)) AS t(i)
        ),
        dterms AS (
          SELECT g.bucket, g.bin,
                 coalesce(c.cn, 0)::DOUBLE / g.cur_n + 1e-6 AS p,
                 coalesce(b.bn, 0)::DOUBLE / bt.base_n + 1e-6 AS q
          FROM dgrid g
          LEFT JOIN cur_cnt c ON c.bucket = g.bucket AND c.bin = g.bin
          LEFT JOIN base_cnt b ON b.bin = g.bin
          CROSS JOIN base_tot bt
        ),
        dcum AS (
          SELECT bucket,
                 sum((p - q) * ln(p / q)) OVER w AS cum_psi,
                 sum(p) OVER w - sum(q) OVER w AS cdf_diff
          FROM dterms
          WINDOW w AS (PARTITION BY bucket ORDER BY bin
                       ROWS UNBOUNDED PRECEDING)
        ),
        dscore AS (
          SELECT bucket, max(cum_psi) AS psi,
                 max(abs(cdf_diff)) AS ks
          FROM dcum GROUP BY 1
        ),
        driftv AS (
          SELECT bucket, 'dur_drift' AS constraint_id, 'psi' AS metric,
                 round(psi, 6) AS observed, 5.0 AS threshold,
                 CASE WHEN psi <= 5.0 THEN 1 ELSE 0 END AS passed,
                 0::BIGINT AS violation_cnt
          FROM dscore
          UNION ALL
          SELECT bucket, 'dur_drift', 'ks', round(ks, 6), 1.0,
                 CASE WHEN ks <= 1.0 THEN 1 ELSE 0 END, 0::BIGINT
          FROM dscore
        ),
        ccur AS (
          SELECT bucket AS g, codec AS cat, count(*)::BIGINT AS cur_cat_n
          FROM clips WHERE codec IS NOT NULL GROUP BY 1, 2
        ),
        cbase AS (
          SELECT codec AS cat, count(*)::BIGINT AS base_cat_n
          FROM base WHERE codec IS NOT NULL GROUP BY 1
        ),
        ccur_tot AS (
          SELECT g, sum(cur_cat_n)::BIGINT AS cur_n FROM ccur GROUP BY 1
        ),
        cbase_tot AS (SELECT sum(base_cat_n)::BIGINT AS base_n FROM cbase),
        ccats AS (
          SELECT DISTINCT cat FROM (
            SELECT cat FROM cbase UNION ALL SELECT cat FROM ccur
          )
        ),
        cterms AS (
          SELECT ct.g, c.cat,
                 coalesce(cc.cur_cat_n, 0)::DOUBLE / ct.cur_n + 1e-06 AS p,
                 coalesce(bc.base_cat_n, 0)::DOUBLE / bt.base_n + 1e-06 AS q
          FROM ccur_tot ct
          CROSS JOIN ccats c
          CROSS JOIN cbase_tot bt
          LEFT JOIN ccur cc ON cc.g = ct.g AND cc.cat = c.cat
          LEFT JOIN cbase bc ON bc.cat = c.cat
        ),
        ccum AS (
          SELECT g,
                 sum((p - q) * ln(p / q)) OVER (
                   PARTITION BY g ORDER BY cat
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                 ) AS cum_psi,
                 abs(p - q) AS dev
          FROM cterms
        ),
        cscore AS (
          SELECT g AS bucket, max(cum_psi) AS psi, max(dev) AS linf
          FROM ccum GROUP BY 1
        ),
        catv AS (
          SELECT bucket, 'codec_shift' AS constraint_id, 'psi' AS metric,
                 round(psi, 6) AS observed, 5.0 AS threshold,
                 CASE WHEN psi <= 5.0 THEN 1 ELSE 0 END AS passed,
                 0::BIGINT AS violation_cnt
          FROM cscore
          UNION ALL
          SELECT bucket, 'codec_shift', 'ks', round(linf, 6), 1.0,
                 CASE WHEN linf <= 1.0 THEN 1 ELSE 0 END, 0::BIGINT
          FROM cscore
        ),
        bl_n AS (
          SELECT bucket, count(*)::BIGINT AS base_n FROM bclips GROUP BY 1
        ),
        rec_ch AS (
          SELECT c.bucket, count(*)::BIGINT AS n
          FROM clips c JOIN bclips b ON b.clip_id = c.clip_id
          WHERE c.codec IS DISTINCT FROM b.codec
          GROUP BY 1
        ),
        reconv AS (
          SELECT bucket, 'codec_reconcile' AS constraint_id,
                 'removed_rate' AS metric, 0.0 AS observed,
                 0.0 AS threshold, 1 AS passed, 0::BIGINT AS violation_cnt
          FROM bl_n
          UNION ALL
          SELECT bl.bucket, 'codec_reconcile', 'changed_rate',
                 round(coalesce(r.n, 0)::DOUBLE / bl.base_n, 6), 0.5,
                 CASE WHEN coalesce(r.n, 0)::DOUBLE / bl.base_n <= 0.5
                      THEN 1 ELSE 0 END,
                 coalesce(r.n, 0)::BIGINT
          FROM bl_n bl LEFT JOIN rec_ch r ON r.bucket = bl.bucket
        )
        SELECT * FROM counts
        UNION ALL SELECT * FROM statv
        UNION ALL SELECT * FROM driftv
        UNION ALL SELECT * FROM catv
        UNION ALL SELECT * FROM reconv
    """
    # snapshot reconciliation: the same full-outer + IS DISTINCT FROM
    # comparison (DuckDB concat_ws skips NULL args exactly like Spark's)
    out["snapshot_diff"] = """
        WITH base AS (
          SELECT event_id, user_id, event_type, value
          FROM events WHERE event_id % 10 <> 3
        ), cur AS (
          SELECT event_id, user_id, event_type,
                 CASE WHEN event_id % 7 = 0 THEN value + 1.0
                      ELSE value END AS value
          FROM events WHERE event_id % 10 <> 7
        )
        SELECT COALESCE(b.event_id, c.event_id) AS event_id,
               CASE WHEN b.event_id IS NULL THEN 'added'
                    WHEN c.event_id IS NULL THEN 'removed'
                    ELSE 'changed' END AS change,
               CASE WHEN b.event_id IS NOT NULL AND c.event_id IS NOT NULL
                    THEN concat_ws(',',
                      CASE WHEN b.user_id IS DISTINCT FROM c.user_id
                           THEN 'user_id' END,
                      CASE WHEN b.event_type IS DISTINCT FROM c.event_type
                           THEN 'event_type' END,
                      CASE WHEN b.value IS DISTINCT FROM c.value
                           THEN 'value' END)
                    ELSE '' END AS changed_cols
        FROM base b FULL OUTER JOIN cur c ON b.event_id = c.event_id
        WHERE b.event_id IS NULL OR c.event_id IS NULL
           OR b.user_id IS DISTINCT FROM c.user_id
           OR b.event_type IS DISTINCT FROM c.event_type
           OR b.value IS DISTINCT FROM c.value
    """
    # metrics-repository z-score screen: latest daily-mean per event_type
    # vs its own history (sample stddev; min-support 5; zero-variance →
    # any move flags; z NULL when std == 0), lam = 1.0
    out["metrics_anomaly"] = """
        WITH h AS (
          SELECT event_type,
                 CAST(floor(epoch(ts)) AS BIGINT)
                   - CAST(floor(epoch(ts)) AS BIGINT) % 86400 AS run_seq,
                 avg(value) AS value
          FROM events GROUP BY 1, 2
        ), r AS (
          SELECT *, row_number() OVER (PARTITION BY event_type
                                       ORDER BY run_seq DESC) AS rn
          FROM h
        ), latest AS (
          SELECT event_type, run_seq, value FROM r WHERE rn = 1
        ), hist AS (
          SELECT event_type, avg(value) AS mean_hist,
                 stddev_samp(value) AS std_hist, count(*) AS n_hist
          FROM r WHERE rn > 1 GROUP BY 1
        )
        SELECT l.event_type, l.run_seq, round(l.value, 6) AS value,
               round(h.mean_hist, 6) AS mean_hist,
               round(h.std_hist, 6) AS std_hist,
               COALESCE(h.n_hist, 0) AS n_hist,
               round(CASE WHEN h.std_hist > 0
                          THEN abs(l.value - h.mean_hist) / h.std_hist
                     END, 6) AS z,
               CASE WHEN COALESCE(h.n_hist, 0) < 5 THEN FALSE
                    WHEN COALESCE(h.std_hist, 0) > 0
                      THEN abs(l.value - h.mean_hist) / h.std_hist > 1.0
                    ELSE l.value <> h.mean_hist END AS flagged
        FROM latest l LEFT JOIN hist h USING (event_type)
    """
    # functional dependency: same two-stage shape (distinct pairs, then
    # per-determinant rollup); DuckDB sum() is HUGEINT → cast to BIGINT
    out["fd_violations"] = """
        WITH perturbed AS (
          SELECT p_partkey, p_brand,
                 CASE WHEN p_partkey % 97 = 0
                      THEN 'Manufacturer#X-' || CAST(p_partkey AS VARCHAR)
                      ELSE 'Manufacturer#' || substr(p_brand, 7) END AS p_mfgr
          FROM part
        ), pairs AS (
          SELECT p_brand, p_mfgr, count(*) AS cnt, min(p_partkey) AS k
          FROM perturbed GROUP BY 1, 2
        )
        SELECT p_brand,
               count(*) AS n_values,
               CAST(sum(cnt) AS BIGINT) AS n_rows,
               min(p_mfgr) AS dep_min,
               max(p_mfgr) AS dep_max,
               min(k) AS exemplar_key
        FROM pairs GROUP BY 1 HAVING count(*) > 1
    """

    # constraint suggestion: one stats CTE computes the SAME exact
    # aggregates the Spark operator decides on (counts, nulls, exact
    # distinct, numeric min/max as double), then one UNION ALL branch per
    # (column, kind) gated by the identical emission predicate; domain
    # value sets via ordered string_agg = sort_array(collect_set) on the
    # Spark side (binary collation on this ASCII corpus)
    _sg_stats = ", ".join(
        f"count({c}) AS cnt_{c}, count(*) - count({c}) AS null_{c}, "
        f"count(DISTINCT {c}) AS d_{c}"
        + (
            f", min({c})::DOUBLE AS min_{c}, max({c})::DOUBLE AS max_{c}"
            if numeric
            else ""
        )
        for c, numeric in _SUGGEST_COLS.items()
    )
    _sg_parts = []
    for c, numeric in _SUGGEST_COLS.items():
        _sg_parts.append(
            f"SELECT '{c}' AS \"column\", 'not_null' AS kind, "
            f"NULL::DOUBLE AS lo, NULL::DOUBLE AS hi, "
            f"NULL::VARCHAR AS domain FROM s WHERE null_{c} = 0"
        )
        _sg_parts.append(
            f"SELECT '{c}', 'unique', NULL, NULL, NULL FROM s "
            f"WHERE null_{c} = 0 AND d_{c} = n AND n > 0"
        )
        if numeric:
            _sg_parts.append(
                f"SELECT '{c}', 'range', min_{c}, max_{c}, NULL "
                f"FROM s WHERE cnt_{c} > 0"
            )
            _sg_parts.append(
                f"SELECT '{c}', 'non_negative', min_{c}, NULL, NULL "
                f"FROM s WHERE cnt_{c} > 0 AND min_{c} >= 0"
            )
        else:
            _sg_parts.append(
                f"SELECT '{c}', 'domain', NULL, NULL, "
                f"(SELECT string_agg(DISTINCT {c}, '|' ORDER BY {c}) "
                f"FROM part) FROM s WHERE d_{c} <= {_SUGGEST_MAX_DOMAIN}"
            )
    out["suggest_constraints"] = (
        f"WITH s AS (SELECT count(*) AS n, {_sg_stats} FROM part) "
        + " UNION ALL ".join(_sg_parts)
    )
    # as-of join: DuckDB's NATIVE ASOF LEFT JOIN is the oracle for the
    # union+running-last encoding (operators/asof.py). Tolerance applies to
    # the nearest match only (no fallback) on both sides; lag stays integer
    # micros; DuckDB integer sum() is HUGEINT → cast to BIGINT
    out["asof_join"] = f"""
        WITH p AS (
          SELECT user_id, ts, epoch_us(ts) AS pus
          FROM events WHERE event_type = 'purchase'
        ), b AS (
          SELECT user_id, ts, epoch_us(ts) AS bus, max(value) AS ref
          FROM events WHERE event_type = 'view' GROUP BY 1, 2, 3
        ), m AS (
          SELECT p.user_id, p.pus, b.bus, b.ref
          FROM p ASOF LEFT JOIN b
            ON p.user_id = b.user_id AND p.ts >= b.ts
        ), t AS (
          SELECT user_id,
                 CASE WHEN pus - bus <= {_ASOF_TOL_US} THEN ref END AS ref,
                 CASE WHEN pus - bus <= {_ASOF_TOL_US} THEN pus - bus
                      END AS lag_us
          FROM m
        )
        SELECT user_id AS itemid, count(*) AS n_probe,
               count(ref) AS n_matched,
               CAST(coalesce(sum(lag_us), 0) AS BIGINT) AS lag_us_sum,
               round(coalesce(sum(ref), 0), 6) AS ref_sum
        FROM t GROUP BY 1
    """
    # sessionization: the same two-window + rollup shape in SQL; all-integer
    # outputs (epoch_us) so the compare is exact
    out["sessionize"] = f"""
        WITH e AS (
          SELECT user_id, epoch_us(ts) AS us FROM events
        ), l AS (
          SELECT user_id, us,
                 CASE WHEN us - lag(us) OVER w > {_SESSION_GAP_US}
                        OR lag(us) OVER w IS NULL
                      THEN 1 ELSE 0 END AS is_new
          FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us)
        ), s AS (
          SELECT user_id, us,
                 sum(is_new) OVER (PARTITION BY user_id ORDER BY us
                                   ROWS UNBOUNDED PRECEDING) AS sess
          FROM l
        ), g AS (
          SELECT user_id, sess, count(*) AS n,
                 max(us) - min(us) AS dur_us
          FROM s GROUP BY 1, 2
        )
        SELECT user_id AS itemid, count(*) AS n_sessions,
               CAST(sum(n) AS BIGINT) AS n_events,
               CAST(max(n) AS BIGINT) AS max_len,
               CAST(sum(dur_us) AS BIGINT) AS dur_us_sum
        FROM g GROUP BY 1
    """
    # edit-distance near-dup: exact candidate replay (same MinHash banding)
    # + DuckDB's levenshtein — the same unit-cost DP as Spark's, and the
    # documents corpus is pure ASCII, so distances are engine-exact ints
    out["edit_near_dup"] = f"""
        WITH {_MINHASH_CTES},
        t AS (
          SELECT doc_id, text, length(text) AS len FROM documents
        )
        SELECT c.id_a, c.id_b,
               CAST(a.len AS INT) AS len_a, CAST(b.len AS INT) AS len_b,
               CAST(levenshtein(a.text, b.text) AS INT) AS dist
        FROM cand c
        JOIN t a ON c.id_a = a.doc_id
        JOIN t b ON c.id_b = b.doc_id
        WHERE abs(a.len - b.len) <= {_EDIT_MAX_DIST}
          AND levenshtein(a.text, b.text) <= {_EDIT_MAX_DIST}
    """
    # interval join: DuckDB's native inequality LEFT JOIN is the oracle for
    # the bucketed equi-join encoding (operators/intervals.py); integer
    # micros throughout, DuckDB integer sum() HUGEINT → BIGINT
    out["interval_join"] = f"""
        WITH e AS (
          SELECT user_id, epoch_us(ts) AS us, event_type FROM events
        ), w AS (
          SELECT user_id, us AS start_us, us + {_IV_WIN_US} AS end_us
          FROM e WHERE event_type = 'error'
        ), p AS (
          SELECT user_id, us FROM e WHERE event_type = 'purchase'
        ), m AS (
          SELECT p.user_id, p.us, w.start_us
          FROM p LEFT JOIN w
            ON p.user_id = w.user_id
           AND p.us >= w.start_us AND p.us <= w.end_us
        )
        SELECT user_id AS itemid,
               count(start_us) AS n_pairs,
               count(DISTINCT CASE WHEN start_us IS NOT NULL
                                   THEN us END) AS n_covered,
               count(DISTINCT us) AS n_purchases,
               CAST(coalesce(sum(us - start_us), 0) AS BIGINT) AS off_sum
        FROM m GROUP BY 1
    """
    # curation: benchmark decontamination — 8-gram shingle overlap between
    # the non-bench corpus and the hash-derived bench bucket (curation.py)
    out["decontaminate"] = f"""
        WITH dtoks AS (
          SELECT doc_id,
                 list_filter(regexp_split_to_array(lower(trim(text)),
                                                   '\\s+'),
                             x -> x <> '') AS t,
                 ({_H60.format(x="'bench:' || doc_id::VARCHAR")}) % 1000000
                   < {int(_DECON_BENCH_FRAC * 1_000_000)} AS is_bench
          FROM documents
        ),
        dsh AS (
          SELECT DISTINCT doc_id, is_bench,
                 array_to_string(t[i:i+{_DECON_N - 1}], ' ') AS shingle
          FROM dtoks,
               UNNEST(range(1, greatest(len(t) - {_DECON_N - 1}, 0) + 1))
                 AS u(i)
        )
        SELECT c.doc_id AS doc_id, b.doc_id AS bench_id,
               CAST(count(*) AS BIGINT) AS n_shared
        FROM dsh c JOIN dsh b ON c.shingle = b.shingle
        WHERE NOT c.is_bench AND b.is_bench
        GROUP BY 1, 2
        HAVING count(*) >= 1
    """
    # curation: near-dup pairs straddling the stable train/val split —
    # the jp pipeline is ngram_jaccard_pairs', the split is train_split's
    out["split_leakage"] = f"""
        WITH {_MINHASH_CTES},
        sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
        inter AS (
          SELECT c.id_a, c.id_b, count(*) AS n
          FROM cand c
          JOIN sh a ON a.doc_id = c.id_a
          JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
          GROUP BY 1, 2
        ),
        jp AS (
          SELECT i.id_a, i.id_b
          FROM inter i
          JOIN sizes sa ON sa.doc_id = i.id_a
          JOIN sizes sb ON sb.doc_id = i.id_b
          WHERE i.n / (sa.sz + sb.sz - i.n) >= 0.1
        ),
        sp AS (
          SELECT doc_id,
                 CASE WHEN ({_H60.format(x="'split:' || doc_id::VARCHAR")})
                        % 1000000 < 800000
                      THEN 'train' ELSE 'val' END AS split
          FROM documents
        )
        SELECT p.id_a, p.id_b, a.split AS split_a, b.split AS split_b
        FROM jp p
        JOIN sp a ON a.doc_id = p.id_a
        JOIN sp b ON b.doc_id = p.id_b
        WHERE a.split <> b.split
    """
    # curation: concat-and-chunk packing — hash shard + hash order, running
    # token offset, 512-token chunk id (curation.pack_shards)
    out["pack_shards"] = f"""
        WITH pt AS (
          SELECT doc_id,
                 CAST(len(list_filter(regexp_split_to_array(
                          lower(trim(text)), '\\s+'),
                        x -> x <> '')) AS BIGINT) AS n_tok,
                 CAST(({_H60.format(x="'shard:' || doc_id::VARCHAR")})
                      % {_PACK_SHARDS} AS INT) AS shard,
                 ({_H60.format(x="'pack:' || doc_id::VARCHAR")}) AS ok
          FROM documents
        ),
        ps AS (
          SELECT doc_id, shard,
                 coalesce(sum(n_tok) OVER (
                   PARTITION BY shard ORDER BY ok, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS start_off
          FROM pt
        )
        SELECT doc_id, shard, CAST(start_off AS BIGINT) AS start_off,
               CAST(floor(start_off / {_PACK_BUDGET}) AS BIGINT) AS pack_id
        FROM ps
    """
    # Gopher repetition filters: lines = 5-token chunks, 2-grams keep
    # every occurrence; fractions round(·,6), ties on the top gram break
    # to the lexicographically smallest (Spark scans a sorted array)
    k = _REP_LINE_TOKS
    out["repetition"] = f"""
        WITH rt AS (
          SELECT doc_id, text,
                 list_filter(regexp_split_to_array(lower(trim(coalesce(text,
                               ''))), '\\s+'),
                             x -> x <> '') AS t
          FROM documents
        ),
        rl AS (
          SELECT doc_id,
                 array_to_string(t[(i-1)*{k}+1:(i-1)*{k}+{k}], ' ') AS line
          FROM rt, UNNEST(range(1, (len(t)+{k - 1})//{k} + 1)) AS u(i)
        ),
        rg AS (
          SELECT doc_id, array_to_string(t[i:i+1], ' ') AS g
          FROM rt, UNNEST(range(1, greatest(len(t)-1, 0)+1)) AS u(i)
        ),
        lc AS (
          SELECT doc_id, line, count(*) AS cnt, length(line) AS len
          FROM rl GROUP BY 1, 2, length(line)
        ),
        lagg AS (
          SELECT doc_id, sum(cnt) AS n_lines, count(*) AS n_distinct,
                 sum(len*cnt) AS line_chars,
                 coalesce(sum(CASE WHEN cnt > 1 THEN len*cnt END), 0)
                   AS dup_line_chars
          FROM lc GROUP BY 1
        ),
        gc AS (
          SELECT doc_id, g, count(*) AS cnt, length(g) AS len
          FROM rg GROUP BY 1, 2, length(g)
        ),
        gagg AS (
          SELECT doc_id, sum(len*cnt) AS gram_chars,
                 coalesce(sum(CASE WHEN cnt > 1 THEN len*cnt END), 0)
                   AS dup_gram_chars
          FROM gc GROUP BY 1
        ),
        gtop AS (
          SELECT doc_id, g AS top_ngram, cnt AS top_cnt
          FROM (SELECT doc_id, g, cnt,
                       row_number() OVER (PARTITION BY doc_id
                                          ORDER BY cnt DESC, g ASC) AS rn
                FROM gc)
          WHERE rn = 1
        )
        SELECT d.doc_id,
               CAST(coalesce(l.n_lines, 0) AS BIGINT) AS n_lines,
               round(coalesce((l.n_lines - l.n_distinct) / l.n_lines, 0), 6)
                 AS dup_line_frac,
               round(coalesce(l.dup_line_chars / l.line_chars, 0), 6)
                 AS dup_line_char_frac,
               coalesce(t.top_ngram, '') AS top_ngram,
               round(coalesce(t.top_cnt * length(t.top_ngram)
                       / greatest(length(coalesce(d.text, '')), 1), 0), 6)
                 AS top_ngram_frac,
               round(coalesce(g.dup_gram_chars / g.gram_chars, 0), 6)
                 AS dup_ngram_char_frac
        FROM documents d
        LEFT JOIN lagg l USING (doc_id)
        LEFT JOIN gagg g USING (doc_id)
        LEFT JOIN gtop t USING (doc_id)
    """
    # PII scrub: same planted text, same Java/RE2-identical patterns,
    # same EMAIL -> IPV4 -> PHONE redaction order ('g' = replace-all,
    # matching Spark's regexp_replace)
    from pyanomalydetector2_spark.operators.curation import PII_PATTERNS

    em, em_tok = PII_PATTERNS["email"]
    ip, ip_tok = PII_PATTERNS["ipv4"]
    ph, ph_tok = PII_PATTERNS["phone"]
    out["pii_scrub"] = f"""
        WITH px AS (
          SELECT doc_id,
                 coalesce(text, '') || ' mail ' || doc_id::VARCHAR
                 || '@ex.com ip 10.' || (doc_id % 200)::VARCHAR || '.0.'
                 || (doc_id % 250)::VARCHAR || ' tel +1 555 01'
                 || (doc_id % 90 + 10)::VARCHAR AS ptext
          FROM documents
        )
        SELECT doc_id,
               CAST(len(regexp_extract_all(ptext, '{em}')) AS BIGINT)
                 AS n_email,
               CAST(len(regexp_extract_all(ptext, '{ip}')) AS BIGINT)
                 AS n_ipv4,
               CAST(len(regexp_extract_all(ptext, '{ph}')) AS BIGINT)
                 AS n_phone,
               regexp_replace(regexp_replace(regexp_replace(ptext,
                 '{em}', '{em_tok}', 'g'),
                 '{ip}', '{ip_tok}', 'g'),
                 '{ph}', '{ph_tok}', 'g') AS redacted
        FROM px
    """
    # exact-substring dup: gram occurrences WITH positions (every
    # occurrence, unlike the distinct-shingle minhash CTE); interval
    # union of sorted fixed-width-k hits is k + sum(min(k, gap))
    ek = _ESD_K
    out["exact_substring_dup"] = f"""
        WITH rt AS (
          SELECT doc_id,
                 list_filter(regexp_split_to_array(lower(trim(coalesce(text,
                               ''))), '\\s+'),
                             x -> x <> '') AS t
          FROM documents
        ),
        occ AS (
          SELECT doc_id, i - 1 AS pos,
                 array_to_string(t[i:i+{ek - 1}], ' ') AS g
          FROM rt, UNNEST(range(1, greatest(len(t) - {ek} + 1, 0) + 1))
                   AS u(i)
        ),
        dupg AS (SELECT g FROM occ GROUP BY g HAVING count(*) >= 2),
        seqd AS (
          SELECT o.doc_id, o.pos,
                 lag(o.pos) OVER (PARTITION BY o.doc_id ORDER BY o.pos)
                   AS prev
          FROM occ o JOIN dupg USING (g)
        ),
        per AS (
          SELECT doc_id, count(*) AS n_dup_grams,
                 {ek} + coalesce(sum(CASE WHEN prev IS NULL THEN 0
                                     ELSE least({ek}, pos - prev) END), 0)
                   AS dup_tokens
          FROM seqd GROUP BY doc_id
        )
        SELECT r.doc_id,
               CAST(len(r.t) AS BIGINT) AS n_tokens,
               CAST(coalesce(p.n_dup_grams, 0) AS BIGINT) AS n_dup_grams,
               CAST(coalesce(p.dup_tokens, 0) AS BIGINT) AS dup_tokens,
               round(coalesce(coalesce(p.dup_tokens, 0)
                       / nullif(len(r.t), 0), 0), 6) AS dup_frac
        FROM rt r LEFT JOIN per p USING (doc_id)
    """
    return out
