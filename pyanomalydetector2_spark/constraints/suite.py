"""Constraint-suite runner: one shared aggregation pass per snapshot, one
violations job, one verdict job; verdicts + violation rows out,
checkpoint/resume at partition-bucket granularity.

Execution shape (the scale story):
- ALL row checks ride ONE scan: each predicate compiles to a struct-in-array
  element, failures explode into violation rows. The decoded-PCM invariant
  columns are attached by a single Arrow-batched UDF pass; ``bytes`` is never
  read by any other family (column pruning). Row, uniqueness, referential,
  FD and reconcile violations form ONE cached union, filled by a background
  job while the aggregation passes run — it holds the decode UDF, the
  run's longest job, and shares no input with them.
- Every additive family reads ONE groupBy pass per snapshot
  (``family_aggregate``): over ``current`` per bucket it yields the row
  count, the key-column HLL, the moment partials of the stat columns, the
  uniform-bin counts and the category counts; over ``baseline`` the global
  bin and category counts. These are the definitions the streaming state
  components persist, so both engines score the same numbers. Each pass is
  collected once — O(buckets × (bins + categories)) rows — and every
  stat/drift verdict leg derives from those rows through the shared
  scorers. Scans stay COLUMN-PRUNED and uncached: measured on this
  hardware, a pruned parquet re-scan is ~10× cheaper than building +
  reading a deserialized in-memory cache of all columns. Sketch-backed
  profile stats (approx_distinct, quantiles) ride the pass only when a
  check reads them.
- The run is bound by per-job fixed cost, not data, so the number of Spark
  jobs is the cost model: the verdict union is materialized by ONE action
  (``eager_verdicts``), and every job carries the description
  ``suite <run_id>: <family>/<phase>``.
- Verdict assembly happens on the driver over TINY frames (buckets ×
  constraints rows) — the same driver-side funnel the reference uses for
  survivor sets (detect_anomalies.py:79-96); all heavy lifting stays
  distributed.

Violation rows mirror the reference's anomalies upsert contract
(models/anomalies.py:9,59-79 → FIXTURES.md §B3).
"""

from __future__ import annotations

import time
from collections.abc import Sequence
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager
from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pyanomalydetector2_spark.constraints.dsl import Suite
from pyanomalydetector2_spark.operators.audio import with_audio_invariants
from pyanomalydetector2_spark.operators.drift import (
    HistSpec,
    drift_scores_categorical_from_counts,
    drift_scores_quantile,
    hist_bin,
    psi_ks,
)
from pyanomalydetector2_spark.operators.integrity import (
    fd_det_repr,
    fd_observed,
    fd_violations,
    referential_violations,
)
from pyanomalydetector2_spark.operators.reconcile import snapshot_diff
from pyanomalydetector2_spark.operators.stats import (
    PARTIAL_FIELDS,
    PROFILE_SKETCH_FIELDS,
    finalize_profile_partial,
    profile_aggs,
    stack_profile,
)
from pyanomalydetector2_spark.operators.uniqueness import duplicate_rows
from pyanomalydetector2_spark.streaming.checkpoint import CheckpointLedger
from pyanomalydetector2_spark.functions import local_rows_df

VIOLATION_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType()),
        T.StructField("bucket", T.IntegerType()),
        T.StructField("clip_id", T.StringType()),
        T.StructField("constraint_id", T.StringType()),
        T.StructField("observed", T.StringType()),
        T.StructField("expected", T.StringType()),
    ]
)

VERDICT_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType()),
        T.StructField("bucket", T.IntegerType()),
        T.StructField("constraint_id", T.StringType()),
        T.StructField("metric", T.StringType()),
        T.StructField("observed", T.DoubleType()),
        T.StructField("threshold", T.DoubleType()),
        T.StructField("passed", T.BooleanType()),
        T.StructField("violation_cnt", T.LongType()),
    ]
)


@dataclass
class SuiteResult:
    run_id: str
    verdicts: DataFrame
    violations: DataFrame
    processed_buckets: list[int]
    skipped_buckets: list[int]
    row_count: int
    wall_sec: float
    # every frame cached on behalf of this result (violations, verdicts
    # and, under run_suite(cache=True), the input projection) — a
    # long-lived session running many suites should release them once the
    # result is persisted, or executor storage memory accrues frames per run
    cached: tuple = ()

    def passed(self) -> bool:
        return self.verdicts.filter(~F.col("passed")).isEmpty()

    def unpersist(self) -> None:
        """Release the caches backing this result (safe after the caller
        has collected/persisted verdicts and violations; lazy legs stay
        valid and simply recompute if re-materialized)."""
        for df in self.cached:
            df.unpersist()


def _row_check_violations(
    base: DataFrame, suite: Suite, run_id: str, key_col: str, bucket_col: str
) -> DataFrame | None:
    if not suite.row_checks:
        return None
    elems = []
    for c in suite.row_checks:
        fails = ~F.coalesce(F.expr(c.predicate), F.lit(False))  # NULL pred → fail
        elems.append(
            F.when(
                fails,
                F.struct(
                    F.lit(c.constraint_id).alias("constraint_id"),
                    F.coalesce(F.expr(c.observed).cast("string"), F.lit("NULL")).alias(
                        "observed"
                    ),
                    F.lit(c.expected).alias("expected"),
                ),
            )
        )
    return (
        base.select(
            F.col(bucket_col).alias("bucket"),
            F.col(key_col).alias("clip_id"),
            F.array_compact(F.array(*elems)).alias("_fails"),
        )
        .filter(F.size("_fails") > 0)
        .select(
            F.lit(run_id).alias("run_id"),
            F.col("bucket").cast("int"),
            "clip_id",
            F.explode("_fails").alias("_f"),
        )
        .select(
            "run_id",
            "bucket",
            "clip_id",
            F.col("_f.constraint_id").alias("constraint_id"),
            F.col("_f.observed").alias("observed"),
            F.col("_f.expected").alias("expected"),
        )
    )


def row_check_base(current: DataFrame, suite: Suite) -> DataFrame:
    """The row-check projection: the source frame plus whatever invariant
    columns the suite's row checks require. Row checks get the
    audio-invariant / container-meta columns; every OTHER family reads the
    source directly so its scan prunes down to its own columns. Container
    meta attaches FIRST (it reads bytes); the audio-invariant projection
    then drops bytes. Shared by the one-shot runner and the streaming
    per-batch path so both evaluate predicates over identical columns."""
    needs_audio = any(c.requires_audio for c in suite.row_checks)
    needs_container = any(
        getattr(c, "requires_container", False) for c in suite.row_checks
    )
    audio_base = current
    if needs_container:
        from pyanomalydetector2_spark.operators.multimodal import (
            with_container_meta,
        )

        audio_base = with_container_meta(audio_base)
    if needs_audio:
        from pyanomalydetector2_spark.constraints.dsl import TOKEN_COUNT_SQL

        # transcript_tokens computed ONCE as a column the cross-modal
        # predicates reference by name — single definition shared by the
        # DSL and the YAML mirror; perf-neutral vs inlining (codegen
        # subexpression elimination, A/B in BENCH/BASELINE.md §13)
        audio_base = with_audio_invariants(audio_base).withColumn(
            "transcript_tokens", F.expr(TOKEN_COUNT_SQL)
        )
    elif needs_container and not any(
        "bytes" in c.predicate or "bytes" in c.observed
        for c in suite.row_checks
    ):
        # prune bytes out of the row-check projection — but never out from
        # under a row check whose own expression references it
        audio_base = audio_base.drop("bytes")
    return audio_base


def verdict_frame(
    df: DataFrame, run_id: str, cid: str, metric, observed, threshold,
    passed, cnt=None,
) -> DataFrame:
    """Shape one family's aggregate frame into VERDICT_SCHEMA columns.
    ``df`` must carry an int ``bucket`` column; the remaining args are
    Column expressions evaluated against it. Shared by the one-shot
    runner and the streaming assembler so both emit identical verdicts."""
    return df.select(
        F.lit(run_id).alias("run_id"),
        F.col("bucket").cast("int").alias("bucket"),
        F.lit(cid).alias("constraint_id"),
        (F.lit(metric) if isinstance(metric, str) else metric).alias(
            "metric"
        ),
        observed.cast("double").alias("observed"),
        threshold.cast("double").alias("threshold"),
        passed.cast("boolean").alias("passed"),
        (F.lit(0) if cnt is None else cnt).cast("long").alias(
            "violation_cnt"
        ),
    )


_CMP_OPS = {
    "<": lambda a, b: a < b,
    "<=": lambda a, b: a <= b,
    ">": lambda a, b: a > b,
    ">=": lambda a, b: a >= b,
    "==": lambda a, b: a == b,
}


def stat_verdict_frames(
    prof: DataFrame, stat_checks, run_id: str, bucket_col: str
) -> list[DataFrame]:
    """Per-check verdict frames from a (long-layout) column profile.
    NULL stat (all-null column in a bucket) → observed NaN, failed — and
    NaN must fail EVERY op: Spark orders NaN above all doubles (NaN >= x
    is true), unlike the old driver-side Python comparison where NaN
    compares false — the old semantics are pinned explicitly."""
    out = []
    for c in stat_checks:
        rows = prof.filter(F.col("column") == c.column).withColumn(
            "bucket", F.col(bucket_col).cast("int")
        )
        stat = F.col(c.stat)
        out.append(
            verdict_frame(
                rows,
                run_id,
                c.constraint_id,
                f"{c.column}.{c.stat}",
                F.coalesce(stat.cast("double"), F.lit(float("nan"))),
                F.lit(float(c.threshold)),
                F.when(F.isnan(stat.cast("double")), F.lit(False)).otherwise(
                    F.coalesce(
                        _CMP_OPS[c.op](stat.cast("double"), F.lit(c.threshold)),
                        F.lit(False),
                    )
                ),
            )
        )
    return out


def percentile_sketches(
    df: DataFrame, columns: list[str], bucket_col: str
) -> DataFrame:
    """Per-(column, bucket) KLL sketch rows for percentile StatChecks — ALL
    columns in ONE column-pruned Arrow pass (the transfer is the build's
    dominant cost, BENCH §24; every partition reduces to KBs of sketch
    before the single tiny shuffle). The SAME frame shape the streaming
    suite persists per micro-batch ("ksketch" component), so batch and
    stream share one definition of pXX."""
    from pyanomalydetector2_spark.operators.kll import (
        STAT_SKETCH_K,
        kll_build_multi,
    )

    return kll_build_multi(df, columns, [bucket_col], k=STAT_SKETCH_K).select(
        "column",
        F.col(bucket_col).cast("int").alias("bucket"),
        "kll_k", "kll_n", "kll_levels", "kll_compactions",
    )


def percentile_stat_frame(
    sketches: DataFrame, pct_checks, bucket_df: DataFrame
) -> DataFrame:
    """Long (bucket, column, p<NN>…) frame from merged sketch rows, shaped
    for ``stat_verdict_frames``. Every (bucket, column) pair of the run is
    present: a bucket whose column was all-null/NaN has no sketch row and
    surfaces as NULL → NaN observed → FAILED verdict, matching the moment
    profile's all-null semantics."""
    from pyanomalydetector2_spark.constraints.dsl import parse_percentile_stat
    from pyanomalydetector2_spark.operators.kll import kll_quantiles

    stats = sorted({c.stat for c in pct_checks})
    qs = [parse_percentile_stat(s) for s in stats]
    q = kll_quantiles(sketches, qs, ["column", "bucket"])
    vals = q.select(
        "column",
        "bucket",
        *[
            F.element_at("q_values", i + 1).alias(s)
            for i, s in enumerate(stats)
        ],
    )
    cols_df = local_rows_df(
        vals.sparkSession,
        [(c,) for c in sorted({c.column for c in pct_checks})], "column string",
    )
    grid = bucket_df.select(F.col("bucket").cast("int").alias("bucket")).crossJoin(
        F.broadcast(cols_df)
    )
    return grid.join(vals, ["bucket", "column"], "left")


def drift_verdict_frames(
    frame: DataFrame, c, run_id: str, bucket_col: str, ks_col: str
) -> list[DataFrame]:
    """Per-bucket psi + ks verdict frames from a drift-score DataFrame —
    the scores never reach the driver (VERDICT r03 #7). psi/ks cannot
    be NULL here: the drift APIs validate an empty/all-null baseline
    EAGERLY (raising the contract ValueError) and the ε-smoothed
    algebra is total after that — a hypothetical NULL still FAILS via
    coalesce(False) rather than vacuously passing."""
    rows = frame.withColumn("bucket", F.col(bucket_col).cast("int"))
    psi, ks = F.col("psi"), F.col(ks_col)
    return [
        verdict_frame(
            rows, run_id, c.constraint_id, "psi", psi, F.lit(c.psi_max),
            F.coalesce(psi <= c.psi_max, F.lit(False)),
        ),
        verdict_frame(
            rows, run_id, c.constraint_id, "ks", ks, F.lit(c.ks_max),
            F.coalesce(ks <= c.ks_max, F.lit(False)),
        ),
    ]


def violation_counts(violations: DataFrame) -> DataFrame:
    """Violation rows per (bucket, constraint_id) as ``cnt``."""
    return violations.groupBy("bucket", "constraint_id").agg(
        F.count(F.lit(1)).alias("cnt")
    )


def violation_count_verdicts(
    vcounts: DataFrame,
    bucket_df: DataFrame,
    counted_ids: list[str],
    run_id: str,
) -> DataFrame:
    """(bucket × constraint) grid left-joined to the ``violation_counts``
    frame so zero-violation cells still emit a passing verdict — all
    DataFrame-side, no counts dict on the driver."""
    spark = vcounts.sparkSession
    cid_df = local_rows_df(
        spark, [(c,) for c in counted_ids], "constraint_id string"
    )
    grid = bucket_df.crossJoin(F.broadcast(cid_df))
    joined = grid.join(vcounts, ["bucket", "constraint_id"], "left")
    n = F.coalesce(F.col("cnt"), F.lit(0))
    return joined.select(
        F.lit(run_id).alias("run_id"),
        F.col("bucket").cast("int").alias("bucket"),
        "constraint_id",
        F.lit("violation_cnt").alias("metric"),
        n.cast("double").alias("observed"),
        F.lit(0.0).alias("threshold"),
        (n == 0).alias("passed"),
        n.cast("long").alias("violation_cnt"),
    )


def reconcile_violation_frame(
    diff: DataFrame, c, run_id: str, key_col: str, bucket_col: str
) -> DataFrame:
    """Shape one ReconcileCheck's ``snapshot_diff`` output into
    VIOLATION_SCHEMA rows. ``max_added_rate=None`` drops added rows —
    appends are normal growth, not violations. Shared by the one-shot
    runner and the streaming assembler so both emit identical reconcile
    violations."""
    if c.max_added_rate is None:
        diff = diff.filter(F.col("change") != "added")
    return diff.select(
        F.lit(run_id).alias("run_id"),
        F.col(bucket_col).cast("int").alias("bucket"),
        F.col(key_col).cast("string").alias("clip_id"),
        F.lit(c.constraint_id).alias("constraint_id"),
        F.concat(
            F.col("change"),
            F.when(
                F.col("changed_cols") != "",
                F.concat(F.lit(":"), F.col("changed_cols")),
            ).otherwise(F.lit("")),
        ).alias("observed"),
        F.lit("unchanged vs baseline snapshot").alias("expected"),
    )


def reconcile_rate_verdicts(
    violations: DataFrame,
    bucket_df: DataFrame,
    baseline: DataFrame,
    checks,
    run_id: str,
    bucket_col: str,
) -> list[DataFrame]:
    """Per-bucket removed/changed/(bounded added) RATE verdict frames for
    every ReconcileCheck: counts from the (cached) violations frame, the
    denominator from ONE tiny per-bucket baseline agg. A bucket present
    only in the baseline (fully removed from current) still gets verdict
    rows — the baseline's buckets are unioned into the grid. Shared by
    the one-shot runner and the streaming assembler so rate arithmetic
    is bit-identical between them."""
    bl_counts = baseline.groupBy(
        F.col(bucket_col).cast("int").alias("bucket")
    ).agg(F.count(F.lit(1)).alias("_base_n"))
    rec_buckets = bucket_df.unionByName(bl_counts.select("bucket")).distinct()
    kind = F.split(F.col("observed"), ":").getItem(0)
    out: list[DataFrame] = []
    for c in checks:
        kc = (
            violations.filter(F.col("constraint_id") == c.constraint_id)
            .groupBy("bucket")
            .agg(
                F.sum((kind == "removed").cast("long")).alias("_rm"),
                F.sum((kind == "changed").cast("long")).alias("_ch"),
                F.sum((kind == "added").cast("long")).alias("_ad"),
            )
        )
        g = (
            rec_buckets.join(kc, "bucket", "left")
            .join(bl_counts, "bucket", "left")
            .select(
                "bucket",
                *[
                    F.coalesce(F.col(x), F.lit(0)).alias(x)
                    for x in ("_rm", "_ch", "_ad", "_base_n")
                ],
            )
        )
        bounded = [("removed_rate", "_rm", c.max_removed_rate),
                   ("changed_rate", "_ch", c.max_changed_rate)]
        if c.max_added_rate is not None:
            bounded.append(("added_rate", "_ad", c.max_added_rate))
        for metric, cnt_col, bound in bounded:
            # empty-baseline bucket: removed/changed are impossible
            # (cnt 0 → rate 0 passes); added with a bound but no
            # baseline denominator fails unless the bound is given —
            # try_divide NULL → coalesce to cnt>0 ? inf : 0
            rate = F.coalesce(
                F.try_divide(
                    F.col(cnt_col).cast("double"),
                    F.col("_base_n").cast("double"),
                ),
                F.when(F.col(cnt_col) > 0, F.lit(float("inf"))).otherwise(
                    F.lit(0.0)
                ),
            )
            out.append(
                verdict_frame(
                    g,
                    run_id,
                    c.constraint_id,
                    metric,
                    rate,
                    F.lit(float(bound)),
                    rate <= F.lit(float(bound)),
                    cnt=F.col(cnt_col),
                )
            )
    return out


def require_bucketed(n_null: int, bucket_col: str) -> None:
    """Fail closed on rows without a partition bucket: verdicts, ledger
    commits and streaming state are all keyed by ``bucket_col``, so such a
    row can be neither validated nor committed. ``n_null`` comes from a
    per-bucket aggregate the caller has already collected. Shared by the
    one-shot runner and the streaming micro-batch path."""
    if n_null:
        raise ValueError(
            f"{n_null} row(s) have a NULL {bucket_col!r} — every row must "
            "carry its partition bucket (fix the source rows)"
        )


def family_aggregate(
    df: DataFrame,
    group_col: str | None,
    hll_cols: Sequence[str] = (),
    stat_cols: Sequence[str] = (),
    stat_fields: Sequence[str] = PARTIAL_FIELDS,
    specs: Sequence[HistSpec] = (),
    cat_cols: Sequence[str] = (),
) -> DataFrame:
    """ONE groupBy pass over ``df`` for every additive check family.

    Every input row is exploded into one entry per part, keyed by
    (group ``_g``, ``_part``, ``_key``), and ``_n`` counts each key:

    - part 0 (``_key`` NULL) is the group itself: ``_n`` rows, ``_hll_<i>``
      (HLL over the string-cast ``hll_cols[i]``) and the ``profile_aggs``
      fields of ``stat_cols``;
    - part 1 + j counts the ``hist_bin`` of ``specs[j]`` (``_key`` = bin);
    - part 1 + len(specs) + i counts the values of ``cat_cols[i]``.

    A NULL ``_key`` outside part 0 counts NULL (or NaN) values — readers
    skip it. Value columns are masked to NULL outside part 0, so the
    part-0 aggregates see each row exactly once; the other groups carry
    empty part-0 buffers (an HLL++ buffer is ~3 KB of zeros, which the
    shuffle compresses away). The definitions are those
    of the streaming state components (column_profile_partial,
    histogram_counts_df, categorical_counts) and of the HLL screen over
    string-cast keys, so both engines score the same integers and moment
    partials. Bins and categories are grouping keys, not per-bin
    aggregates: a ``count_if`` per bin planned slower than the whole
    pass."""
    gsel = [F.col(group_col).alias("_g")] if group_col else []
    gkeys = ["_g"] if group_col else []
    values = sorted({*hll_cols, *stat_cols})
    keys = (
        [F.lit(None).cast("string")]
        + [hist_bin(s).cast("string") for s in specs]
        + [F.col(c).cast("string") for c in cat_cols]
    )
    own = F.col("_part") == 0
    rows = df.select(
        *gsel, *values, F.posexplode(F.array(*keys)).alias("_part", "_key")
    ).select(
        *gkeys, "_part", "_key", *[F.when(own, F.col(c)).alias(c) for c in values]
    )
    aggs = [F.count(F.lit(1)).alias("_n")]
    aggs += [
        F.approx_count_distinct(F.col(c).cast("string"), 0.02).alias(f"_hll_{i}")
        for i, c in enumerate(hll_cols)
    ]
    aggs += profile_aggs(stat_cols, stat_fields)
    return rows.groupBy(*gkeys, "_part", "_key").agg(*aggs)


def _describe(spark, run_id: str, family: str, step: str) -> None:
    spark.sparkContext.setJobDescription(f"suite {run_id}: {family}/{step}")


@contextmanager
def _job_phases(spark, run_id: str, verbose: bool):
    """Yields ``phase(family, step)``: every Spark job submitted after it
    carries the description ``suite <run_id>: <family>/<step>`` (AQE stage
    and broadcast jobs inherit it). The caller's own description comes
    back on exit, also on error."""
    sc = spark.sparkContext
    caller = sc.getLocalProperty("spark.job.description")
    last = [None, time.time()]

    def tick() -> None:
        now = time.time()
        if verbose and last[0]:
            print(f"[suite] {last[0]}: {now - last[1]:.1f}s", flush=True)
        last[1] = now

    def phase(family: str, step: str) -> None:
        tick()
        last[0] = f"{family}/{step}"
        _describe(spark, run_id, family, step)

    try:
        yield phase
    finally:
        tick()
        sc.setJobDescription(caller)


def run_suite(
    current: DataFrame,
    baseline: DataFrame,
    dims: dict[str, DataFrame],
    suite: Suite,
    run_id: str,
    key_col: str = "clip_id",
    bucket_col: str = "bucket",
    checkpoint: CheckpointLedger | None = None,
    cache: bool = False,
    verbose: bool = False,
    salt_buckets: int | None = None,
    commit: bool = True,
    embeddings: DataFrame | None = None,
    eager_verdicts: bool = True,
    sketch_store=None,
) -> SuiteResult:
    """Run the full suite over ``current`` (minus already-committed buckets
    when resuming), emit verdicts + violations, commit the ledger.

    ``commit=False`` defers the ledger commit: callers that persist the
    result frames afterwards (run_suite.py) must call
    ``commit_checkpoint(result, checkpoint)`` AFTER the persist succeeds —
    otherwise a crash between validation and persistence marks buckets
    committed whose violations were never written, and --resume silently
    skips them forever.

    ``eager_verdicts``: True fills the cached verdict union with ONE
    action before returning, so every job of the run carries this run's
    job description and the caller reads a filled cache. False leaves the
    cached union lazy: it fills on the caller's first action. Either way
    every leg derives from the same collected aggregates and the filled
    violations cache — the union holds no scan of its own — so both emit
    bit-identical verdicts (pytest-pinned).

    ``sketch_store`` (optional catalog table, SnapshotTable/IcebergTable
    shape): persisted per-column global KLL sketches backing the equi-depth
    drift checks' bin edges. First run bootstraps (one baseline pass per
    equi-depth column, merge-upserted under the ``column`` key); later runs
    read KBs of sketch state instead of rescanning the baseline, and
    ``kll_merge`` can fold new baseline snapshots forward out-of-band."""
    t0 = time.time()
    spark = current.sparkSession
    with _job_phases(spark, run_id, verbose) as phase, ThreadPoolExecutor(
        max_workers=1
    ) as pool:
        skipped: list[int] = []
        if checkpoint is not None:
            skipped = checkpoint.committed_buckets(run_id)
            if skipped:
                current = current.filter(~F.col(bucket_col).isin(skipped))

        audio_base = row_check_base(current, suite)
        base = current
        cached: list[DataFrame] = []
        if cache:  # opt-in only: helps tiny inputs, hurts at scale (module doc)
            audio_base = audio_base.cache()
            base = audio_base
            cached.append(audio_base)
        baseline_rec = (
            baseline.filter(~F.col(bucket_col).isin(skipped))
            if skipped
            else baseline
        )

        # ---- every violation-row family in ONE cached union, filled in a
        # background job while the fused passes below run: it holds the
        # decode UDF, the run's longest job, and shares no input with them
        violations = _violation_union(
            base, audio_base, current, baseline_rec, dims, suite, run_id,
            key_col, bucket_col, salt_buckets,
        ).cache()
        cached.append(violations)
        vcounts = violation_counts(violations)
        # the per-(bucket, constraint) counts are the action that fills the
        # cache, so the count verdicts cost no job of their own
        vio_filled = pool.submit(
            _in_phase,
            spark,
            spark.sparkContext._jsc.sc().getLocalProperties().clone(),
            run_id,
            "violations",
            "materialize",
            vcounts.collect,
        )

        from pyanomalydetector2_spark.constraints.dsl import (
            parse_percentile_stat,
        )

        pct_checks = [
            c for c in suite.stat_checks
            if parse_percentile_stat(c.stat) is not None
        ]
        moment_checks = [
            c for c in suite.stat_checks if parse_percentile_stat(c.stat) is None
        ]
        stat_cols = sorted({c.column for c in moment_checks})
        # sketch-backed profile stats ride the pass only when a check reads
        # them; every other stat derives from the moment partials
        stat_fields = PARTIAL_FIELDS + tuple(
            f for f in PROFILE_SKETCH_FIELDS
            if any(c.stat == f for c in moment_checks)
        )
        cat = [c for c in suite.drift_checks if c.categorical]
        numeric = [c for c in suite.drift_checks if not c.categorical]
        uniform = [c for c in numeric if not c.equi_depth and not c.distributed]
        equi = [c for c in numeric if c.equi_depth and not c.distributed]
        dist = [c for c in numeric if c.distributed]
        specs = [HistSpec(c.column, c.lo, c.hi, c.nbins) for c in uniform]
        cat_cols = sorted({c.column for c in cat})

        # ---- ONE shared pass over current: bucket list + row count, the
        # key-column HLL, moment partials, uniform bins, category counts —
        # collected once (O(buckets × (bins + categories)) rows), every
        # verdict leg below derives from these rows. Σ per-bucket distinct
        # is exact ONLY for the bucket key itself (bucket = hash(key)
        # co-locates each key in one bucket); any other unique column gets
        # a global sketch below. HLL runs over the STRING-CAST key
        # (injective for atomic types) — the streaming suite stores keys
        # string-cast and recomputes this screen from them, so both
        # engines feed HLL++ identical inputs at every cardinality.
        phase("fused", "current")
        hll_cols = (
            [key_col]
            if any(c.column == key_col for c in suite.unique_checks)
            else []
        )
        cur_agg = family_aggregate(
            base, bucket_col, hll_cols, stat_cols, stat_fields, specs, cat_cols
        )
        cur_rows = cur_agg.collect()
        own = [r for r in cur_rows if r["_part"] == 0]
        require_bucketed(
            sum(r["_n"] for r in own if r["_g"] is None), bucket_col
        )
        buckets = sorted(int(r["_g"]) for r in own)
        row_count = sum(r["_n"] for r in own)
        if not buckets:  # everything committed already — idempotent no-op
            vio_filled.result()
            for df in cached:
                df.unpersist()
            empty_ver = spark.createDataFrame([], VERDICT_SCHEMA)
            empty_vio = spark.createDataFrame([], VIOLATION_SCHEMA)
            return SuiteResult(run_id, empty_ver, empty_vio, [], skipped, 0, 0.0)

        # Verdicts are assembled as a UNION of per-family DataFrames:
        # driver memory never scales with buckets × constraints.
        # ``verdict_rows`` keeps the scalar rows the driver already holds
        # (HLL metric, uniform drift scores, ANN recall).
        verdict_frames: list[DataFrame] = []
        verdict_rows: list[tuple] = []
        bucket_df = local_rows_df(spark, [(b,) for b in buckets], "bucket int")

        # ---- uniqueness HLL screen: a recorded metric, never the verdict.
        # At 10^12 rows it is the early-exit for grossly-duplicated inputs,
        # but HLL's ~2% relative error cannot certify uniqueness at
        # realistic dup rates — the exact duplicate_rows pass decides.
        non_key = sorted(
            {c.column for c in suite.unique_checks if c.column != key_col}
        )
        global_hll = {}
        if non_key:
            phase("uniqueness", "global_hll")
            grow = base.agg(
                *[
                    F.approx_count_distinct(F.col(c).cast("string"), 0.02).alias(
                        f"_g_{i}"
                    )
                    for i, c in enumerate(non_key)
                ]
            ).first()
            global_hll = {c: grow[f"_g_{i}"] for i, c in enumerate(non_key)}
        for c in suite.unique_checks:
            est = (
                sum(r["_hll_0"] for r in own)
                if c.column == key_col
                else global_hll[c.column]
            )
            verdict_rows.append(
                (
                    run_id,
                    -1,  # whole-table metric, not per-bucket
                    c.constraint_id,
                    "hll_approx_distinct",
                    float(est),
                    float(row_count),
                    True,  # informational; exact pass decides
                    0,
                )
            )

        # ---- ONE pass over baseline: its global bins and category counts
        base_rows = []
        if specs or cat_cols:
            phase("fused", "baseline")
            base_rows = family_aggregate(
                baseline, None, specs=specs, cat_cols=cat_cols
            ).collect()

        # ---- stat checks: moment partials from the fused pass -------------
        if moment_checks:
            wide_cols = [f"{c}__{f}" for c in stat_cols for f in stat_fields]
            wide = local_rows_df(
                spark,
                [(int(r["_g"]), *[r[w] for w in wide_cols]) for r in own],
                T.StructType(
                    [T.StructField("bucket", T.IntegerType())]
                    + [cur_agg.schema[w] for w in wide_cols]
                ),
            )
            prof = finalize_profile_partial(
                stack_profile(wide, stat_cols, stat_fields, ["bucket"])
            )
            verdict_frames.extend(
                stat_verdict_frames(prof, moment_checks, run_id, "bucket")
            )
        if pct_checks:
            # percentile stats ride the mergeable KLL sketch — the SAME
            # sketch the streaming suite merges per micro-batch, so
            # exact-regime verdicts agree bit-for-bit between the engines
            sk = percentile_sketches(
                base, sorted({c.column for c in pct_checks}), bucket_col
            )
            pframe = percentile_stat_frame(sk, pct_checks, bucket_df)
            verdict_frames.extend(
                stat_verdict_frames(pframe, pct_checks, run_id, "bucket")
            )

        # ---- uniform drift: the fused passes' bins, scored on the driver --
        # a column with no baseline bins has no histogram to compare
        # against; a check that scores in NO bucket means the column is
        # empty/all-null in every current bucket — both raise, because
        # silence here would let a misconfigured snapshot pass the suite
        def _keyed(rows, part: int) -> list:
            return [r for r in rows if r["_part"] == part and r["_key"] is not None]

        def _bins(rows, part: int, nbins: int) -> dict:
            out: dict = {}
            for r in _keyed(rows, part):
                h = out.setdefault(
                    r.asDict().get("_g"), np.zeros(nbins + 2, dtype=np.int64)
                )
                h[int(r["_key"])] = r["_n"]
            return out

        base_h = [_bins(base_rows, 1 + j, s.nbins) for j, s in enumerate(specs)]
        for s, h in zip(specs, base_h):
            if None not in h:
                raise ValueError(
                    f"drift baseline for column {s.column!r} is empty or "
                    "all-null — no histogram to compare against (fix the "
                    "baseline snapshot)"
                )
        for j, c in enumerate(uniform):
            cur_h = _bins(cur_rows, 1 + j, c.nbins)
            if not cur_h:
                raise ValueError(
                    f"drift check {c.constraint_id!r} produced no score — "
                    f"column {c.column!r} is empty/all-null in the baseline "
                    "or in every current bucket (fix the snapshot or drop "
                    "the check)"
                )
            for b, counts in cur_h.items():
                verdict_rows += _drift_rows(
                    run_id, int(b), c, *psi_ks(counts, base_h[j][None])
                )

        # ---- categorical drift: the fused passes' category counts --------
        # frequency-PSI + linf (reported in the ks verdict slot — the
        # order-free analog, bounded by ks_max), scored DataFrame-side and
        # collected here (buckets rows), while the violations job still runs
        for c in cat:
            phase("drift", "categorical")
            part = 1 + len(specs) + cat_cols.index(c.column)
            scores = drift_scores_categorical_from_counts(
                local_rows_df(
                    spark,
                    [(int(r["_g"]), r["_key"], r["_n"])
                     for r in _keyed(cur_rows, part)],
                    "bucket int, cat string, cur_cat_n long",
                ),
                local_rows_df(
                    spark,
                    [(r["_key"], r["_n"]) for r in _keyed(base_rows, part)],
                    "cat string, base_cat_n long",
                ),
                c.column,
                group_col="bucket",
                baseline_is_counts=True,
            )
            frame = local_rows_df(spark, scores.collect(), scores.schema)
            verdict_frames.extend(
                drift_verdict_frames(frame, c, run_id, "bucket", "linf")
            )

        # ---- equi-depth / distributed drift: their own binning passes ----
        def _equi_edges_map() -> dict[tuple[str, int], list[float] | None]:
            """Equi-depth edges from the persisted KLL store when one is
            wired (``sketch_store``): hit → KBs of sketch state replace the
            baseline percentile_approx rescan; miss → bootstrap so every
            later run is a hit. ALL missing columns bootstrap in ONE
            kll_build_multi pass — the Arrow transfer dominates a sketch
            build (BENCH §24), so E equi-depth columns must not pay E
            baseline scans. No store → all None (inline edge derivation)."""
            wanted = [
                (c.column, c.nbins)
                for c in equi + [c for c in dist if c.equi_depth]
            ]
            edges_map: dict[tuple[str, int], list[float] | None] = {
                w: None for w in wanted
            }
            if sketch_store is None or not wanted:
                return edges_map
            from pyanomalydetector2_spark.operators.drift import (
                quantile_edges_from_sketch,
            )
            from pyanomalydetector2_spark.operators.kll import (
                SKETCH_FIELDS,
                kll_build_multi,
            )

            def _resolve() -> None:
                state = sketch_store.read(spark)
                for col, nbins in wanted:
                    if edges_map[(col, nbins)]:
                        continue
                    e = quantile_edges_from_sketch(
                        state.filter(F.col("column") == col).select(
                            *SKETCH_FIELDS
                        ),
                        nbins,
                    )
                    if e:
                        edges_map[(col, nbins)] = e

            if sketch_store.current_snapshot() is not None:
                _resolve()
            missing = sorted({col for (col, _), e in edges_map.items() if not e})
            if missing:
                sk = kll_build_multi(baseline, missing, (), k=4096)
                sketch_store.merge_upsert(sk, keys=["column"])
                _resolve()
            return edges_map

        equi_edges_map = {}
        if equi or any(c.equi_depth for c in dist):
            phase("drift", "equi_edges")
            equi_edges_map = _equi_edges_map()
        for c in equi:
            phase("drift", "equi_depth")
            for sc in drift_scores_quantile(
                base, baseline, c.column, c.nbins, group_col=bucket_col,
                edges=equi_edges_map[(c.column, c.nbins)],
            ):
                verdict_rows += _drift_rows(
                    run_id, int(sc["group"]), c, sc["psi"], sc["ks"]
                )
        for c in dist:
            # no-histogram-collect path (high-cardinality bucket columns):
            # scores AND verdicts stay DataFrame-side
            from pyanomalydetector2_spark.operators.drift import (
                drift_scores_df,
                drift_scores_quantile_df,
            )

            phase("drift", "distributed")
            frame = (
                drift_scores_quantile_df(
                    base, baseline, c.column, c.nbins, group_col=bucket_col,
                    edges=equi_edges_map[(c.column, c.nbins)],
                )
                if c.equi_depth
                else drift_scores_df(
                    base, baseline, c.column, c.lo, c.hi, c.nbins,
                    group_col=bucket_col,
                )
            )
            verdict_frames.extend(
                drift_verdict_frames(frame, c, run_id, bucket_col, "ks")
            )

        # ---- ANN recall audit (opt-in: needs an embeddings table) ---------
        # Corpus-level metric → bucket -1 (not a per-bucket verdict;
        # excluded from checkpoint commit marks, included in passed()).
        if suite.ann_checks:
            if embeddings is None:
                raise ValueError(
                    "suite has ann_checks but run_suite received no "
                    "embeddings table — pass embeddings=... (skipping an "
                    "enabled check would vacuously pass the suite)"
                )
            from pyanomalydetector2_spark.operators.similarity import (
                brute_force_topk,
                ivf_topk,
                lsh_bucketed_topk,
                recall_audit,
                sample_queries,
            )

            phase("ann", "recall")
            for c in suite.ann_checks:
                q = sample_queries(embeddings, c.n_queries)
                exact = brute_force_topk(embeddings, q, k=c.k)
                if c.method == "lsh":
                    ann = lsh_bucketed_topk(
                        embeddings, q, dims=c.dims, k=c.k, planes=c.planes
                    )
                elif c.method == "ivf":
                    ann = ivf_topk(
                        embeddings, q, k=c.k, n_cells=c.n_cells,
                        nprobe=c.nprobe,
                    )
                else:
                    raise ValueError(f"unknown ann method {c.method!r}")
                row = recall_audit(ann, exact).agg(
                    F.avg("recall").alias("r")
                ).first()
                mean_r = (
                    float(row["r"]) if row and row["r"] is not None else 0.0
                )
                verdict_rows.append(
                    (
                        run_id,
                        -1,
                        c.constraint_id,
                        f"recall_at_{c.k}",
                        mean_r,
                        c.min_recall,
                        mean_r >= c.min_recall,
                        0,
                    )
                )

        # ---- violation-count and reconcile-rate verdicts read the FILLED
        # violations cache (the diff join never runs twice). Reconcile ids
        # are deliberately NOT counted — pass/fail is the rate bound.
        vcounts = local_rows_df(spark, vio_filled.result(), vcounts.schema)
        counted_ids = (
            [c.constraint_id for c in suite.row_checks]
            + [c.constraint_id for c in suite.unique_checks]
            + [c.constraint_id for c in suite.ref_checks]
            + [c.constraint_id for c in suite.fd_checks]
        )
        if counted_ids:
            verdict_frames.append(
                violation_count_verdicts(vcounts, bucket_df, counted_ids, run_id)
            )
        if suite.reconcile_checks:
            verdict_frames.extend(
                reconcile_rate_verdicts(
                    violations, bucket_df, baseline_rec,
                    suite.reconcile_checks, run_id, bucket_col,
                )
            )

        # ---- ONE verdict union, cached; eager fills it in one job ---------
        # O(buckets × constraints) rows: one partition, so every consumer
        # (a persist, the ledger's fail counts) runs one task, not one per
        # leg partition
        verdicts = local_rows_df(spark, verdict_rows, VERDICT_SCHEMA)
        for vf in verdict_frames:
            verdicts = verdicts.unionByName(vf)
        verdicts = verdicts.coalesce(1).cache()
        cached.append(verdicts)
        if eager_verdicts:
            phase("verdicts", "materialize")
            verdicts.count()

        if checkpoint is not None and commit:
            phase("checkpoint", "commit")
            _mark_committed(checkpoint, run_id, verdicts, buckets, row_count)

    return SuiteResult(
        run_id,
        verdicts,
        violations,
        buckets,
        skipped,
        row_count,
        time.time() - t0,
        cached=tuple(cached),
    )


def _drift_rows(run_id: str, bucket: int, c, psi: float, ks: float) -> list:
    """The psi and ks VERDICT_SCHEMA rows of one driver-scored drift check."""
    return [
        (run_id, bucket, c.constraint_id, "psi", psi, c.psi_max,
         psi <= c.psi_max, 0),
        (run_id, bucket, c.constraint_id, "ks", ks, c.ks_max, ks <= c.ks_max, 0),
    ]


def _in_phase(spark, props, run_id: str, family: str, step: str, fn):
    """Run ``fn`` on a pool thread with the caller's local properties
    ``props`` (job group, scheduler pool — they are per-thread, and a pool
    thread does not inherit them) under the run's job description."""
    spark.sparkContext._jsc.sc().setLocalProperties(props)
    _describe(spark, run_id, family, step)
    return fn()


def _violation_union(
    base: DataFrame,
    audio_base: DataFrame,
    current: DataFrame,
    baseline_rec: DataFrame,
    dims: dict[str, DataFrame],
    suite: Suite,
    run_id: str,
    key_col: str,
    bucket_col: str,
    salt_buckets: int | None,
) -> DataFrame:
    """Every violation-row family of the suite as ONE lazy union in
    VIOLATION_SCHEMA: row checks over the audio projection, exact
    duplicates, referential anti-joins, functional dependencies and
    reconcile diffs."""
    frames: list[DataFrame] = []
    # ---- row checks: one scan (with audio invariants), all predicates -----
    rc_viol = _row_check_violations(audio_base, suite, run_id, key_col, bucket_col)
    if rc_viol is not None:
        frames.append(rc_viol)

    # ---- uniqueness: the exact confirm --------------------------------------
    # salt_buckets (opt-in, north_rule skew handling): the uniqueness
    # groupBy is the suite's one aggregation whose reduce key is the DATA
    # key — a degenerate hot clip_id pins one reducer there. The fused pass
    # is immune by construction: it groups on the bucket column with
    # algebraic aggs, so map-side combine collapses any hot key before the
    # exchange.
    for c in suite.unique_checks:
        frames.append(
            duplicate_rows(base, c.column, [bucket_col], salt_buckets).select(
                F.lit(run_id).alias("run_id"),
                F.col(bucket_col).cast("int").alias("bucket"),
                F.col(c.column).cast("string").alias("clip_id"),
                F.lit(c.constraint_id).alias("constraint_id"),
                F.concat(F.lit("dup_cnt="), F.col("dup_cnt")).alias("observed"),
                F.lit(f"unique {c.column}").alias("expected"),
            )
        )

    # ---- referential integrity: broadcast anti-joins ----------------------
    for c in suite.ref_checks:
        frames.append(
            referential_violations(
                base, c.column, dims[c.dim_name], keep_cols=[key_col, bucket_col]
            ).select(
                F.lit(run_id).alias("run_id"),
                F.col(bucket_col).cast("int").alias("bucket"),
                F.col(key_col).alias("clip_id"),
                F.lit(c.constraint_id).alias("constraint_id"),
                F.col(c.column).cast("string").alias("observed"),
                F.lit(f"{c.column} in {c.dim_name}").alias("expected"),
            )
        )

    # ---- functional dependencies: algebraic two-stage agg ------------------
    # Resume semantics match uniqueness: on a bucket-filtered resume the FD
    # is evaluated over the remaining buckets' rows only (determinant-global
    # conflicts already caught in committed buckets were reported then).
    for c in suite.fd_checks:
        det = list(c.determinant)
        grp = fd_violations(base, det, c.dependent, carry_min=[key_col, bucket_col])
        frames.append(
            grp.select(
                F.lit(run_id).alias("run_id"),
                F.col(bucket_col).cast("int").alias("bucket"),
                F.col(key_col).cast("string").alias("clip_id"),
                F.lit(c.constraint_id).alias("constraint_id"),
                fd_observed(
                    fd_det_repr(det),
                    F.col("n_values"),
                    F.col("n_rows"),
                    F.col("dep_min"),
                    F.col("dep_max"),
                ).alias("observed"),
                F.lit(
                    f"{c.dependent} functionally determined by ({', '.join(det)})"
                ).alias("expected"),
            )
        )

    # ---- reconcile vs baseline: removed/changed (and bounded added) rows --
    # Both sides bucket-filtered on resume: bucket = hash(key) is identical
    # across snapshots, so per-bucket resume composes with the diff — a
    # committed bucket's reconcile rows were persisted by the run that
    # committed it.
    for c in suite.reconcile_checks:
        diff = snapshot_diff(
            baseline_rec,
            current,
            [key_col],
            list(c.compare_cols),
            carry_cols=[bucket_col],
        )
        frames.append(reconcile_violation_frame(diff, c, run_id, key_col, bucket_col))

    if not frames:
        return base.sparkSession.createDataFrame([], VIOLATION_SCHEMA)
    out = frames[0]
    for vf in frames[1:]:
        out = out.unionByName(vf)
    return out


def _mark_committed(
    checkpoint: CheckpointLedger,
    run_id: str,
    verdicts: DataFrame,
    buckets: list[int],
    row_count: int,
) -> None:
    """Mark ``buckets`` committed with their failed-verdict counts — ONE
    aggregation over the verdicts frame; the driver holds O(buckets)
    ledger marks (the ledger is per-bucket by design), never buckets ×
    constraints."""
    fails = dict.fromkeys(buckets, 0)
    for r in (
        verdicts.filter(~F.col("passed")).groupBy("bucket").count().collect()
    ):
        if int(r["bucket"]) in fails:
            fails[int(r["bucket"])] = int(r["count"])
    for b in buckets:
        checkpoint.mark_committed(
            run_id,
            int(b),
            metrics={"rows": row_count, "failed_constraints": fails[b]},
        )


def commit_checkpoint(res: SuiteResult, checkpoint: CheckpointLedger) -> None:
    """Mark the result's processed buckets committed in the ledger — call
    this AFTER the verdicts/violations have been durably persisted (the
    write-ahead ordering --resume correctness depends on)."""
    _mark_committed(
        checkpoint, res.run_id, res.verdicts, res.processed_buckets,
        res.row_count,
    )
