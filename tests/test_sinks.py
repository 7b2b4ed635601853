"""Sink semantics (SURVEY.md §2.1 S6/S8) and engine partition invariants."""

import glob
import os
import shutil

from conftest import rows
from pyspark.sql import functions as F

from mongo_polars_reconciliation_spark.harness.fixtures import TOLERANCE_RULES, ZE_RULE
from mongo_polars_reconciliation_spark.harness.queries import _ab
from mongo_polars_reconciliation_spark.plans.pipeline import (
    ExactPass,
    Reconciliation,
    TolerancePass,
)
from mongo_polars_reconciliation_spark.scratch import scratch_path
from mongo_polars_reconciliation_spark.operators.match import match_records
from mongo_polars_reconciliation_spark.operators.residuals import (
    residual_external,
    residual_internal,
)
from mongo_polars_reconciliation_spark.sources.sinks import (
    persist_results,
    save_buckets_csv,
    write_time_partitioned,
)

SF_DIR = "/root/testdata/sf0.001"
OUT = scratch_path("test_sinks")


def test_save_buckets_csv_single_file_roundtrip(spark):
    shutil.rmtree(OUT, ignore_errors=True)
    cfg, a, b = _ab(spark, SF_DIR)
    matched, _ = match_records(a, b, cfg)
    buckets = {"a_to_b_mt": matched.select("_id", "amount")}
    paths = save_buckets_csv(buckets, f"{OUT}/csv", iteration=2)
    assert paths["a_to_b_mt"].endswith("a_to_b_mt(2).csv")
    # single-file semantics: exactly one part file
    parts = glob.glob(f"{paths['a_to_b_mt']}/part-*")
    assert len(parts) == 1
    back = spark.read.csv(paths["a_to_b_mt"], header=True)
    assert back.count() == matched.count()


def test_write_time_partitioned_ranges(spark):
    """S8 without the thread pool: files are range-partitioned on the time
    column, so each covers a contiguous interval (the reference's 5 equal
    $merge batches)."""
    shutil.rmtree(f"{OUT}/tp", ignore_errors=True)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    write_time_partitioned(ev, f"{OUT}/tp", "ts", num_partitions=5)
    back = spark.read.parquet(f"{OUT}/tp")
    assert back.count() == ev.count()
    assert_contiguous_ranges(spark, f"{OUT}/tp", "ts")


def assert_contiguous_ranges(spark, path: str, ts_col: str) -> None:
    """At least two part files, and their per-file min/max ranges of
    ``ts_col`` do not overlap."""
    files = [f for f in glob.glob(f"{path}/part-*") if f.endswith(".parquet")]
    assert len(files) >= 2, files
    spans = []
    for f in files:
        r = spark.read.parquet(f).agg(F.min(ts_col), F.max(ts_col)).head()
        if r[0] is not None:
            spans.append((r[0], r[1]))
    spans.sort()
    for (lo1, hi1), (lo2, hi2) in zip(spans, spans[1:]):
        assert hi1 <= lo2


def cascade_and_persist(spark, root: str):
    """The tail of one reconciliation window on sf0.001: zero-effect →
    exact → tolerance cascade, the summary, and ``persist_results`` of the
    three result buckets under ``root``. Returns the Reconciliation, the
    frames handed to the sink (name → (frame, time column)) and the paths
    it wrote."""
    cfg, a, b = _ab(spark, SF_DIR)
    rc = Reconciliation(cfg, a, b)
    bk = rc.run([ExactPass(), TolerancePass(TOLERANCE_RULES)], zero_effect_rules=[ZE_RULE])
    rc.summary(amount_col="amount").collect()
    out = {
        "a_to_b_mt": (bk["a_to_b_mt"].select("_id", "amount", "trx_date"), "trx_date"),
        "a_to_b_nmt": (bk["a_to_b_nmt"].select("_id", "amount", "trx_date"), "trx_date"),
        "b_to_a_nmt": (
            bk["b_to_a_nmt"].select(
                F.col(cfg.ext_row_number_col).alias("row_num"),
                F.col("ext_importe").alias("importe"),
                F.col("ext_fecha").alias("fecha"),
            ),
            "fecha",
        ),
    }
    return rc, out, persist_results(out, root)


def test_persist_results_publishes_input_rows(spark):
    """``persist_results`` writes each bucket straight to its final dir —
    no ``__tmp_*`` staging dir is left behind — with exactly the input
    rows, range-partitioned into contiguous time ranges."""
    root = f"{OUT}/persist"
    shutil.rmtree(root, ignore_errors=True)
    rc, out, paths = cascade_and_persist(spark, root)
    assert sorted(os.listdir(root)) == sorted(out)  # no __tmp_* dir left
    for name, (df, ts_col) in out.items():
        back = spark.read.parquet(paths[name])
        assert back.columns == df.columns, name
        assert rows(back) == rows(df), name
        assert_contiguous_ranges(spark, paths[name], ts_col)
    rc.unpersist()


def test_window_codegen_reused_within_session(spark):
    """A second identical window compiles almost no generated classes: the
    session's codegen cache holds one window's working set. With Spark's
    default cap of 100 entries the LRU evicts every class before the
    next window asks for it again, and the second run recompiles them."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics  # noqa: SLF001
    root = f"{OUT}/codegen"
    cascade_and_persist(spark, root)[0].unpersist()
    before = metrics.METRIC_COMPILATION_TIME().getCount()
    cascade_and_persist(spark, root)[0].unpersist()
    compiled = metrics.METRIC_COMPILATION_TIME().getCount() - before
    # measured on 4 cores: 0-6 classes with the cache holding the working
    # set, 70-110 at the default cap of 100
    assert compiled <= 20, compiled


def test_match_and_residual_partition_a(spark):
    """Invariant (SURVEY.md §5 property 1): winners ∪ internal-residual
    partitions A by _id — nothing lost, nothing duplicated."""
    cfg, a, b = _ab(spark, SF_DIR)
    matched, _ = match_records(a, b, cfg)
    resid = residual_internal(a, b, cfg)
    n_a = a.count()
    assert matched.count() + resid.count() == n_a
    assert (
        matched.select("_id").union(resid.select("_id")).distinct().count() == n_a
    )


def test_b_winner_loser_residual_accounting(spark):
    """Invariant 2: every B row is exactly one of {winner, loser, residual}."""
    cfg, a, b = _ab(spark, SF_DIR)
    matched, losers = match_records(a, b, cfg)
    resid = residual_external(b, a, cfg)
    rn = cfg.ext_row_number_col
    n_b = b.count()
    assert matched.count() + losers.count() + resid.count() == n_b
    union = (
        matched.select(rn).union(losers.select(rn)).union(resid.select(rn))
    )
    assert union.distinct().count() == n_b
