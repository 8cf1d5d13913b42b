"""The benchmark's workloads. Each is a closed loop with one caller that
drives the engine only through its public functions and times those calls
from outside.

- ``suite_batch``: ``run_suite`` with ``default_clips_suite()`` over a
  materialized current and baseline snapshot, then the violations and
  verdicts persisted with ``merge_upsert``. One unit = one such call.
- ``suite_stream``: the same suite and rows arrive as small parquet files;
  after each arrival one ``run_suite_stream`` call drains it. One unit =
  one arrival. After the last arrival the result is assembled with
  ``streaming_suite_result``.

Every run starts in a fresh process. The first unit of a run is its cold
call: it is reported on its own and left out of the warm samples; a
stream also leaves out its next three arrivals.
"""

from __future__ import annotations

import hashlib
import os
import sys
import time
import traceback

from pyspark.sql import Window
from pyspark.sql import functions as F

from pyanomalydetector2_spark.constraints import default_clips_suite, run_suite
from pyanomalydetector2_spark.datagen.clips import (
    CLIPS_SCHEMA,
    clips_table,
    dim_codec,
    dim_sr,
)
from pyanomalydetector2_spark.operators.audio import with_audio_invariants
from pyanomalydetector2_spark.operators.drift import (
    HistSpec,
    drift_scores_categorical_df,
    drift_scores_multi,
)
from pyanomalydetector2_spark.operators.integrity import referential_violations
from pyanomalydetector2_spark.operators.stats import column_profile
from pyanomalydetector2_spark.operators.uniqueness import duplicate_rows
from pyanomalydetector2_spark.session import get_spark
from pyanomalydetector2_spark.sources.catalog import SnapshotTable
from pyanomalydetector2_spark.streaming.suite_stream import (
    process_suite_batch,
    run_suite_stream,
    streaming_suite_result,
)
from spans import median

# clips per run: the seed keeps about half of a 2 × CLIPS id range
CLIPS = 4000
BUCKETS = 32
# files the streaming source is split into; a run drains as many of them
# as fit in its measuring time
ARRIVAL_FILES = 32
# arrivals left out of the warm samples: the drain time still falls over
# the first few arrivals of a process
WARMUP_ARRIVALS = 4
VIOLATION_KEYS = ["bucket", "clip_id", "constraint_id"]
VERDICT_KEYS = ["bucket", "constraint_id", "metric"]
# operators called alone in traced runs, one span each
PROBES = (
    "audio.invariants",
    "stats.column_profile",
    "drift.uniform",
    "drift.categorical",
    "uniqueness.duplicate_rows",
    "integrity.referential",
)


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


class Run:
    """State of one benchmark run: the session, the tracer, the run's
    temporary directory and its tallies."""

    def __init__(self, workload: str, seed: int, seconds: float, tracer,
                 run_dir: str, cpus: int):
        self.seed = seed
        self.seconds = seconds
        self.tr = tracer
        self.dir = run_dir
        self.attempted = 0
        self.failed = 0
        self.report: dict = {}
        self.t_start = time.perf_counter()
        with tracer.span("session.get_spark"):
            self.spark = get_spark(cpus=cpus, app_name=f"perfbench-{workload}")
            self.spark.sparkContext.setLogLevel("ERROR")
        tracer.attach(self.spark)
        self.report["session.get_spark_s"] = time.perf_counter() - self.t_start

    def attempt(self, what: str, fn) -> tuple[bool, object]:
        """Run one operation, counting it; a raise counts as a failure."""
        self.attempted += 1
        try:
            return True, fn()
        except Exception:
            self.failed += 1
            log(f"{what} failed:\n{traceback.format_exc()}")
            return False, None

    def check(self, what: str, ok: bool, detail: str = "") -> None:
        """A correctness check is an operation too: counted, and a failure
        when it does not hold."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            log(f"check failed: {what} {detail}")

    def seeded_clips(self, planted: bool):
        """The seed decides which clip ids exist: a seeded hash keeps about
        half of a 2 × CLIPS id range. The same filter applies to the current
        and the baseline snapshot; a planted duplicate shares its clip_id,
        so it survives or drops as a pair."""
        keep = F.pmod(F.xxhash64("clip_id", F.lit(self.seed)), F.lit(2)) == 0
        return clips_table(
            self.spark, 2 * CLIPS, planted=planted, n_buckets=BUCKETS
        ).filter(keep)

    def snapshot(self, name: str, df) -> SnapshotTable:
        t = SnapshotTable(os.path.join(self.dir, name))
        t.write_snapshot(df.repartition(F.col("bucket")), partition_by=["bucket"])
        return t

    def layer_probes(self, cur, base, dims, suite) -> None:
        """Traced runs only: each check family's operator called alone on
        the run's current snapshot and forced, so its cost is measured
        apart from the rest of the suite."""

        def noop(df) -> None:
            df.write.format("noop").mode("overwrite").save()

        uniform = [
            c for c in suite.drift_checks
            if not (c.categorical or c.equi_depth or c.distributed)
        ]
        categorical = [c for c in suite.drift_checks if c.categorical]
        probes = {
            "audio.invariants": lambda: noop(with_audio_invariants(cur)),
            "stats.column_profile": lambda: noop(column_profile(
                cur, sorted({c.column for c in suite.stat_checks}),
                group_cols=["bucket"],
            )),
            "drift.uniform": lambda: drift_scores_multi(
                cur, base, [HistSpec(c.column, c.lo, c.hi, c.nbins)
                            for c in uniform], group_col="bucket",
            ),
            "drift.categorical": lambda: [
                noop(drift_scores_categorical_df(cur, base, c.column,
                                                 group_col="bucket"))
                for c in categorical
            ],
            "uniqueness.duplicate_rows": lambda: [
                noop(duplicate_rows(cur, c.column, ["bucket"]))
                for c in suite.unique_checks
            ],
            "integrity.referential": lambda: [
                noop(referential_violations(
                    cur, c.column, dims[c.dim_name],
                    keep_cols=["clip_id", "bucket"],
                ))
                for c in suite.ref_checks
            ],
        }
        for name in PROBES:
            with self.tr.span(name, spark_counts=True):
                self.attempt(name, probes[name])


def _verdict_rows(rows) -> list[tuple]:
    return sorted(
        (r["bucket"], r["constraint_id"], r["metric"], "%.9g" % r["observed"],
         r["threshold"], r["passed"], r["violation_cnt"])
        for r in rows
    )


def _digest(rows: list[tuple]) -> str:
    return hashlib.sha256(repr(rows).encode()).hexdigest()[:16]


def suite_batch(run: Run) -> dict:
    spark, tr = run.spark, run.tr
    with tr.span("datagen.snapshot_write"):
        cur_t = run.snapshot("clips_current", run.seeded_clips(True))
        base_t = run.snapshot("clips_baseline", run.seeded_clips(False))
    setup_s = time.perf_counter() - run.t_start
    cur, base = cur_t.read(spark), base_t.read(spark)
    dims = {"dim_codec": dim_codec(spark), "dim_sr": dim_sr(spark)}
    suite = default_clips_suite()
    results_t = SnapshotTable(os.path.join(run.dir, "results"))
    verdicts_t = SnapshotTable(os.path.join(run.dir, "verdicts"))

    def call(run_id: str) -> int:
        with tr.span("constraints.run_suite", spark_counts=True):
            res = run_suite(cur, base, dims, suite, run_id, commit=False)
        # keys without run_id: each call replaces the previous call's rows,
        # so the tables stay one result in size and every merge does the
        # same work
        with tr.span("sources.catalog.merge_upsert", spark_counts=True):
            results_t.merge_upsert(res.violations, VIOLATION_KEYS,
                                   partition_by=["bucket"])
            verdicts_t.merge_upsert(res.verdicts, VERDICT_KEYS)
        res.unpersist()
        return res.row_count

    walls: list[float] = []
    signatures: list[tuple] = []
    t_warm = None
    i = 0
    while True:
        run_id = f"bench-{run.seed}-{i}"
        with tr.span("unit.call", index=i, warm=i >= 1):
            t0 = time.perf_counter()
            ok, n_rows = run.attempt(f"call {i}", lambda: call(run_id))
            wall = time.perf_counter() - t0
        if ok:
            walls.append(wall)
            verdicts = verdicts_t.read(spark).collect()
            n_viol = results_t.read(spark).count()
            rows = _verdict_rows(verdicts)
            signatures.append(
                (n_rows, n_viol, sum(not r[5] for r in rows), _digest(rows))
            )
            run.check(f"call {i} persisted run_id",
                      {r["run_id"] for r in verdicts} == {run_id})
            run.check(f"call {i} result", signatures[-1] == signatures[0],
                      f"{signatures[-1]} != {signatures[0]}")
        i += 1
        if t_warm is None:
            t_warm = time.perf_counter()
        elif time.perf_counter() - t_warm >= run.seconds:
            break
    run.check("suite found its planted violations",
              bool(signatures) and signatures[0][1] > 0 and signatures[0][2] > 0)
    if tr.enabled:
        run.layer_probes(cur, base, dims, suite)

    warm = walls[1:]
    n_clips, n_viol, n_failed, digest = (
        signatures[0] if signatures else (0, 0, 0, ""))
    run.report.update({
        "clips": n_clips,
        "suite.violations": n_viol,
        "suite.failed_verdicts": n_failed,
        "verdict_digest": digest,
    })
    return {
        "setup_s": setup_s,
        "clips_per_s": n_clips / median(warm) if warm else 0.0,
        "call_p50_s": median(warm),
        "first_call_s": walls[0] if walls else 0.0,
        "_samples": {"warm_calls": len(warm), "call_walls_s": walls},
    }


def _dir_size(path: str) -> tuple[int, int]:
    n_bytes = n_files = 0
    for d, _, files in os.walk(path):
        for f in files:
            n_files += 1
            n_bytes += os.path.getsize(os.path.join(d, f))
    return n_bytes, n_files


def _violation_rows(res) -> list[tuple]:
    return sorted(
        tuple(r) for r in res.violations.select(
            "bucket", "clip_id", "constraint_id", "observed", "expected"
        ).collect()
    )


def _results_equal(stream: tuple, batch: tuple) -> bool:
    """Streaming result equals the batch result: identical violations,
    identical verdict keys and flags; observed values may differ in the
    last digits because moment sums add in another order."""
    (sv, sver), (bv, bver) = stream, batch
    if sv != bv or len(sver) != len(bver):
        return False
    for s, b in zip(sver, bver):
        if s[:3] != b[:3] or s[4:] != b[4:]:
            return False
        so, bo = float(s[3]), float(b[3])
        if not (so == bo or abs(so - bo) <= 1e-8 * max(abs(so), abs(bo))
                or (so != so and bo != bo)):
            return False
    return True


def suite_stream(run: Run) -> dict:
    import pyarrow.parquet as pq

    spark, tr = run.spark, run.tr
    land = os.path.join(run.dir, "land")
    src = os.path.join(run.dir, "src")
    state = os.path.join(run.dir, "state")
    with tr.span("datagen.snapshot_write"):
        base_t = run.snapshot("clips_baseline", run.seeded_clips(False))
        # the current rows dealt into equal arrival files in a seeded order
        order = Window.orderBy(F.xxhash64("clip_id", F.lit(run.seed + 1)))
        (
            run.seeded_clips(True)
            .withColumn("_f", F.pmod(F.row_number().over(order),
                                     F.lit(ARRIVAL_FILES)))
            .repartition("_f")
            .write.partitionBy("_f").parquet(land)
        )
    setup_s = time.perf_counter() - run.t_start
    files = []
    for k in range(ARRIVAL_FILES):
        d = os.path.join(land, f"_f={k}")
        files += [os.path.join(d, f) for f in sorted(os.listdir(d))
                  if f.endswith(".parquet")]
    os.makedirs(src)
    base = base_t.read(spark)
    dims = {"dim_codec": dim_codec(spark), "dim_sr": dim_sr(spark)}
    suite = default_clips_suite()
    run_id = f"stream-{run.seed}"

    walls: list[float] = []
    rows: list[int] = []
    t_warm = None
    for i, path in enumerate(files):
        n_rows = pq.ParquetFile(path).metadata.num_rows
        os.replace(path, os.path.join(src, f"arrival-{i:04d}.parquet"))
        with tr.span("unit.arrival", index=i, warm=i >= WARMUP_ARRIVALS):
            t0 = time.perf_counter()
            with tr.span("streaming.run_suite_stream", spark_counts=True):
                ok, _ = run.attempt(f"arrival {i}", lambda: run_suite_stream(
                    spark, src, state, suite, dims, run_id, CLIPS_SCHEMA,
                    max_files_per_trigger=1,
                ))
            wall = time.perf_counter() - t0
        if ok:
            walls.append(wall)
            rows.append(n_rows)
        if i + 1 == WARMUP_ARRIVALS:
            t_warm = time.perf_counter()
        elif t_warm is not None and time.perf_counter() - t_warm >= run.seconds:
            break
    state_bytes, state_files = _dir_size(state)

    def assemble():
        res = streaming_suite_result(spark, state, suite, base, run_id)
        return _violation_rows(res), _verdict_rows(res.verdicts.collect())

    with tr.span("streaming.streaming_suite_result", spark_counts=True):
        t0 = time.perf_counter()
        _, streamed = run.attempt("assemble", assemble)
        assemble_s = time.perf_counter() - t0

    def batch():
        res = run_suite(spark.read.parquet(src), base, dims, suite, run_id)
        return _violation_rows(res), _verdict_rows(res.verdicts.collect())

    with tr.span("constraints.run_suite", spark_counts=True):
        t0 = time.perf_counter()
        _, batched = run.attempt("batch run_suite over the arrived files", batch)
        run_suite_s = time.perf_counter() - t0
    run.check("streaming result equals batch result",
              streamed is not None and batched is not None
              and _results_equal(streamed, batched))
    run.check("stream found its planted violations",
              bool(streamed) and len(streamed[0]) > 0)

    if tr.enabled:
        cur = spark.read.parquet(src)
        run.layer_probes(cur, base, dims, suite)
        # the batch function of one micro-batch, called directly on the
        # first arrival's rows with fresh state: the drain's cost minus
        # this is the trigger's own overhead
        first = spark.read.schema(CLIPS_SCHEMA).parquet(
            os.path.join(src, "arrival-0000.parquet"))
        with tr.span("streaming.process_suite_batch", spark_counts=True):
            run.attempt("process_suite_batch", lambda: process_suite_batch(
                first, 0, os.path.join(run.dir, "direct_state"), suite, dims,
                run_id,
            ))

    warm = walls[WARMUP_ARRIVALS:]
    warm_rows = rows[WARMUP_ARRIVALS:]
    n_viol = len(streamed[0]) if streamed else 0
    n_failed = sum(not r[5] for r in streamed[1]) if streamed else 0
    run.report.update({
        "clips": sum(rows),
        "arrivals": len(walls),
        "suite.violations": n_viol,
        "suite.failed_verdicts": n_failed,
        "suite.run_suite_s": run_suite_s,
        "suite_stream.assemble_s": assemble_s,
        "suite_stream.state_bytes": state_bytes,
        "suite_stream.state_files": state_files,
    })
    return {
        "setup_s": setup_s,
        "clips_per_s": sum(warm_rows) / sum(warm) if warm else 0.0,
        "call_p50_s": median(warm),
        "first_call_s": walls[0] if walls else 0.0,
        "_samples": {"warm_arrivals": len(warm), "arrival_walls_s": walls},
    }


WORKLOADS = {"suite_batch": suite_batch, "suite_stream": suite_stream}
