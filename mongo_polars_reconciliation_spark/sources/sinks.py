"""Result sinks (SURVEY.md §2.1 S6/S7/S8/S10).

Reference sinks: per-bucket CSV files with iteration-numbered names
(``Reconciliator.save_to_file``, src/reconciliatior.py:61-64) and idempotent
Mongo upserts done as 5 manually time-partitioned ``$merge`` batches on a
thread pool (second_conciliate.py:409-447).

Spark disposition: writes are already task-parallel, so the thread pool
disappears — ``repartitionByRange`` on the time column reproduces the
interval alignment when a downstream consumer needs it; upsert-into-table
becomes ``MERGE INTO`` on Delta/Iceberg or the pure-DataFrame merges in
sources/state.py when no transactional format is present.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def save_bucket_csv(df: DataFrame, path: str, single_file: bool = True) -> None:
    """CSV sink with the reference's single-file semantics (S6): the
    reference writes one ``a_to_b_mt({i}).csv`` per bucket. ``coalesce(1)``
    reproduces that; pass ``single_file=False`` for the scale path (one file
    per task, which is what you want at 100 TB)."""
    out = df.coalesce(1) if single_file else df
    out.write.mode("overwrite").option("header", True).csv(path)


def save_buckets_csv(
    buckets: dict[str, DataFrame], out_dir: str, iteration: int = 1
) -> dict[str, str]:
    """All result buckets, iteration-numbered like the reference
    (``a_to_b_mt({i}).csv``, src/reconciliatior.py:61-64)."""
    paths = {}
    for name, df in buckets.items():
        path = f"{out_dir}/{name}({iteration}).csv"
        save_bucket_csv(df, path)
        paths[name] = path
    return paths


def write_time_partitioned(
    df: DataFrame, path: str, ts_col: str, num_partitions: int = 5
) -> None:
    """The S8 write path without the manual thread pool: range-repartition on
    the timestamp column (the reference's 5 equal time intervals,
    second_conciliate.py:409-417) and let Spark's task parallelism do the
    concurrent writes. Each output file covers a contiguous time range."""
    df.repartitionByRange(num_partitions, ts_col).write.mode("overwrite").parquet(path)


def persist_results(
    buckets: dict[str, tuple[DataFrame, str]],
    out_root: str,
    summary: DataFrame | None = None,
    num_partitions: int = 5,
) -> dict[str, str]:
    """The reference's end-of-run persistence loop (``persist_results``,
    second_conciliate.py:486-503): every result bucket is written to a TMP
    collection, moved time-partitioned into its final collection
    (``move_tmp_data_to_final`` = 5 equal time intervals on a thread pool),
    and the tmp collection dropped; finally the aggregated-results document
    is saved (second_conciliate.py:450-483).

    Spark shape: checkpoint → publish. Each bucket is marked for a lazy
    local checkpoint, then range-repartitioned on its time column and
    written straight to its final dir. The range partitioner's sample job
    computes the bucket once and fills the checkpoint; the write reads
    the checkpoint, so the bucket's plan never runs twice and no staging
    dir is written, re-read or dropped. The manual interval fan-out
    becomes ``repartitionByRange(num_partitions, ts_col)``: same
    contiguous time-range files, executor-parallel instead of
    thread-pooled.

    ``buckets``: name → (frame, time column for the partitioned move).
    Returns name → final path (plus ``"aggregated_results"`` when
    ``summary`` is given).

    The per-bucket chains are INDEPENDENT (distinct source frames,
    distinct target dirs), so they run on a small driver thread pool
    (guide §2.6): Spark's scheduler overlaps the jobs, and the next
    bucket's write back-fills executors idled by the previous one's
    straggler tasks — the reference itself ran this loop on a thread pool
    (second_conciliate.py:409-417). Two workers is enough to fill the
    tail without starving any single write; results are byte-identical
    (no shared mutable state, writes land in disjoint dirs)."""
    from concurrent.futures import ThreadPoolExecutor

    paths: dict[str, str] = {}

    def _persist_one(item: tuple[str, tuple[DataFrame, str]]) -> tuple[str, str]:
        name, (df, ts_col) = item
        final = f"{out_root}/{name}"
        write_time_partitioned(
            df.localCheckpoint(eager=False), final, ts_col, num_partitions
        )
        return name, final

    with ThreadPoolExecutor(max_workers=2) as pool:
        for name, final in pool.map(_persist_one, buckets.items()):
            paths[name] = final
    if summary is not None:
        path = f"{out_root}/aggregated_results"
        summary.coalesce(1).write.mode("overwrite").parquet(path)
        paths["aggregated_results"] = path
    return paths
