"""The benchmark's workloads, written against the package's public API.

A workload is built on a running session; its ``unit`` does one unit of
work — one 30-minute reconciliation window, one corpus build — checks it,
and returns its wall time and input rows.
With a :class:`spans.Tracer` every call into a layer runs inside a span;
with the null tracer the same calls run bare.
"""

from __future__ import annotations

import math
import os
from dataclasses import replace

import gen
from pyspark.sql import functions as F

from mongo_polars_reconciliation_spark.config import SourceFilter
from mongo_polars_reconciliation_spark.extensions.curation import curate_corpus_v2
from mongo_polars_reconciliation_spark.extensions.similarity import (
    ivf_residuals,
    kmeans_fit,
    knn_join_ivfpq,
    pq_fit,
    semantic_dedup_fitted,
)
from mongo_polars_reconciliation_spark.harness import oracles as O
from mongo_polars_reconciliation_spark.harness.fixtures import (
    TOLERANCE_RULES,
    ZE_RULE,
    build_documents_footers,
    build_embeddings_aug,
    recon_cfg,
)
from mongo_polars_reconciliation_spark.operators.summary import summary_document
from mongo_polars_reconciliation_spark.plans.pipeline import (
    ExactPass,
    Reconciliation,
    TolerancePass,
)
from mongo_polars_reconciliation_spark.sources import (
    prepare_external,
    read_csv_all_string,
    remanent_lookup,
    scan_internal,
)
from mongo_polars_reconciliation_spark.sources.sinks import persist_results
from mongo_polars_reconciliation_spark.sources.state import (
    union_window_and_remanent,
    upsert_state_table,
)

A_FIELDS = [
    "_id", "k", "transaction_code", "amount", "trx_date",
    "transaction_type", "ticket_code", "sale_ticket_code",
]
SCAN_TYPES = {"long_fields": ("k",), "double_fields": ("amount",)}
CASCADE = [ExactPass(), TolerancePass(TOLERANCE_RULES)]
STATE_TABLE = "reconciliation_transactions"
PERSISTED = ("a_to_b_mt", "a_to_b_nmt", "b_to_a_nmt")
DOC_META = {
    "execution_id": "bench",
    "execution_type": "AUTOMATIC",
    "execution_date": "2024-05-01",
    "processor_name": "Kushki Acquirer Processor",
    "conciliation_currency": "MXN",
}


class CheckFailed(Exception):
    pass


def check(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


# --- the cascade, bare or traced -------------------------------------------------


def cascade(rc: Reconciliation, passes, tr) -> list:
    """``Reconciliation.run`` with zero-effect. Traced, it makes the same
    calls ``run`` makes — input persist, ``apply_zero_effect``,
    ``match_records``/``not_match_records`` per exact pass (with that pass's
    keys), ``apply_tolerance``, ``new_rc_step`` between passes — one span
    each, and returns the frames whose row counts the trace reports."""
    if not tr.enabled:
        rc.run(passes, zero_effect_rules=[ZE_RULE])
        return []
    probes = []
    with tr.span("plans.pipeline", "persist_inputs"):
        rc.a_df = rc._persist(rc.a_df)  # noqa: SLF001 — the first step of run()
        rc.b_df = rc._persist(rc.b_df)  # noqa: SLF001
    with tr.span("operators.zero_effect"):
        rc.apply_zero_effect([ZE_RULE])
    probes.append(("zero_effect.pairs", [rc.z_eff_a], []))
    base = rc.cfg
    for i, p in enumerate(passes):
        before = [rc.a_to_b_mt] if rc.a_to_b_mt is not None else []
        if isinstance(p, ExactPass):
            if p.keys:
                rc.cfg = replace(base, keys=list(p.keys))
            with tr.span("operators.match"):
                rc.match_records(broadcast_b=p.broadcast_b, hot_threshold=p.hot_threshold)
            probes.append(("match.candidates", [rc._candidates], []))  # noqa: SLF001
            probes.append(("match.matched", [rc.a_to_b_mt], before))
            with tr.span("operators.residuals"):
                rc.not_match_records()
            probes.append(("residuals.rows_out", [rc.a_to_b_nmt, rc.b_to_a_nmt], []))
            rc.cfg = base
        else:
            probes.append(("tolerance.a_in", [rc.a_df], []))
            with tr.span("operators.tolerance"):
                rc.apply_tolerance(list(p.rules))
            probes.append(("tolerance.matched", [rc.a_to_b_mt], before))
        if i < len(passes) - 1:
            with tr.span("plans.pipeline", "new_rc_step"):
                rc.new_rc_step()
    return probes


def count_probes(tr, probes) -> None:
    """Row counts for the trace, taken after the unit's timing has closed."""
    for key, plus, minus in probes:
        tr.count(key, sum(df.count() for df in plus) - sum(df.count() for df in minus))


def summary_dict(rows) -> dict:
    return {r["bucket"]: [int(r["n"]), float(r["amount_sum"])] for r in rows}


def check_accounting(summary: dict, a_in: int) -> None:
    """Every A row lands in exactly one bucket: a zero-effect pair removes
    two rows, a match or a residual one each."""
    got = 2 * summary["z_eff_a"][0] + summary["a_to_b_mt"][0] + summary["a_to_b_nmt"][0]
    check(got == a_in, f"A accounting: 2*z + mt + nmt = {got}, A in = {a_in}")


def dir_bytes(path: str) -> tuple[int, int]:
    size = files = 0
    for d, _, names in os.walk(path):
        for n in names:
            if not n.startswith((".", "_")):
                size += os.path.getsize(os.path.join(d, n))
                files += 1
    return size, files


# --- recon_windows ---------------------------------------------------------------


class ReconWindows:
    """A day of consecutive 30-minute windows on one long-lived session,
    each run the way the reference runs one window: B lands as an
    all-string CSV; A is the window's time slice of the transaction table
    plus the REMANENT rows the state table carries from earlier windows;
    zero-effect, exact and tolerance passes; the summary; the buckets and
    the summary document persisted; the state table upserted."""

    def __init__(self, spark, inputs: str, expected: dict, scratch: str, clock):
        self.spark = spark
        self.clock = clock
        self.inputs = inputs
        self.scratch = scratch
        self.windows = expected["windows"]
        self.cfg = recon_cfg()
        self.w = 0
        self.done: list[dict] = []
        self.failed: set[int] = set()  # windows already counted as failed
        self.broken = False  # a window raised: later windows are not run
        self.day_a = scan_internal(spark, f"{inputs}/a_day.parquet", A_FIELDS, **SCAN_TYPES)
        spark.sql(f"DROP TABLE IF EXISTS {STATE_TABLE}")
        spark.createDataFrame([], "_id string, conciliation_status string").write.format(
            "parquet"
        ).saveAsTable(STATE_TABLE)

    def rows(self) -> int:
        return self.windows[self.w]["a_rows"] + self.windows[self.w]["b_rows"]

    def exhausted(self) -> bool:
        return self.broken or self.w >= len(self.windows)

    def unit(self, tr) -> dict:
        spark = self.spark
        win = self.windows[self.w]
        rows = self.rows()
        self.w += 1
        carried = self.done[-1]["summary"]["a_to_b_nmt"][0] if self.done else 0
        with tr.span("unit", f"window{self.w - 1}"):
            t0 = self.clock.now()
            try:
                rc, probes, sdf, summary = self._window(win, tr)
            except Exception:
                # the state table is now unknown: end the day here, so the
                # checked windows and their summaries stay aligned
                self.broken = True
                self.failed.add(len(self.done))
                raise
            took = self.clock.since(t0)
        self.done.append({"summary": summary})
        if tr.enabled:
            # the unit's own frames read state files the upsert replaced:
            # count only checkpointed frames and the new table
            tr.terminal(sdf)
            tr.count("sources.rows_in", rows + carried)
            size, files = dir_bytes(self._out(self.w - 1))
            tr.count("sinks.bytes_written", size)
            tr.count("sinks.files_written", files)
            probes.append(("state.rows", [spark.table(STATE_TABLE)], []))
            count_probes(tr, probes)
            wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
            tr.count("state.bytes_written", dir_bytes(os.path.join(wh, STATE_TABLE))[0])
        rc.unpersist()
        try:
            check_accounting(summary, win["a_rows"] + carried)
        except CheckFailed:
            self.failed.add(len(self.done) - 1)
            raise
        return {**took, "rows": rows}

    def _window(self, win: dict, tr):
        spark, cfg = self.spark, self.cfg
        with tr.span("sources.external"):
            b = prepare_external(
                read_csv_all_string(spark, f"{self.inputs}/b/w{self.w - 1:02d}.csv"),
                cfg,
                row_number_col="fila",
            )
        with tr.span("sources.scan"):
            a_win = scan_internal(
                spark,
                f"{self.inputs}/a_day.parquet",
                A_FIELDS,
                flt=SourceFilter(ranges={"create_timestamp": (win["lo_ms"], win["hi_ms"])}),
                **SCAN_TYPES,
            )
        with tr.span("sources.state", "remanent_lookup"):
            rem = remanent_lookup(spark.table(STATE_TABLE), self.day_a, select_cols=A_FIELDS)
            a = union_window_and_remanent(a_win, rem)
        rc = Reconciliation(cfg, a, b)
        probes = cascade(rc, CASCADE, tr)
        with tr.span("operators.summary"):
            sdf = rc.summary(amount_col="amount")
            summary = summary_dict(sdf.collect())
        bk = rc.buckets()
        with tr.span("sources.sinks"):
            mt = bk["a_to_b_mt"].select("_id", "amount", "trx_date")
            a_nmt = bk["a_to_b_nmt"].select("_id", "amount", "trx_date")
            b_nmt = bk["b_to_a_nmt"].select(
                F.col("ext_file_row_number").alias("row_num"),
                F.col("ext_codigo").alias("codigo"),
                F.col("ext_importe").alias("importe"),
                F.col("ext_fecha").alias("fecha"),
            )
            persist_results(
                {
                    "a_to_b_mt": (mt, "trx_date"),
                    "a_to_b_nmt": (a_nmt, "trx_date"),
                    "b_to_a_nmt": (b_nmt, "fecha"),
                },
                self._out(self.w - 1),
                summary=summary_document(mt, a_nmt, meta=DOC_META, amount_col="amount"),
            )
        with tr.span("sources.state", "upsert"):
            src = bk["a_to_b_mt"].select("_id", F.lit("CONCILIATED").alias("conciliation_status"))
            src = src.unionByName(
                bk["a_to_b_nmt"].select("_id", F.lit("REMANENT").alias("conciliation_status"))
            )
            upsert_state_table(spark, STATE_TABLE, src, allow_full_rewrite=True)
        return rc, probes, sdf, summary

    def _out(self, w: int) -> str:
        return os.path.join(self.scratch, f"w{w:02d}")

    def final_check(self) -> list[int]:
        """Check the windows processed so far against the oracle — one query
        over their whole key range when all is well, then window by window
        to find the ones that failed — and the state table against them.
        Returns the indices of failed windows not already counted. After a
        window that raised (the last one run) only the windows before it
        are checked."""
        if not self.done:
            return []
        n = len(self.done)
        got = [d["summary"] for d in self.done]
        total = gen.window_oracle(
            self.inputs, self.windows[0]["lo_key"], self.windows[n - 1]["hi_key"]
        )
        bad = []
        if gen.add_summaries(got) != total:
            carried = [0, 0.0]
            for i, win in enumerate(self.windows[:n]):
                exp = gen.carry(gen.window_oracle(self.inputs, win["lo_key"], win["hi_key"]), carried)
                if got[i] != exp:
                    bad.append(i)
                carried = exp["a_to_b_nmt"]
        if self.broken:  # the raising window left the state table unknown
            return sorted(set(bad + self._check_persisted(got)) - self.failed)
        status = {
            r["conciliation_status"]: r["n"]
            for r in self.spark.table(STATE_TABLE).groupBy("conciliation_status")
            .agg(F.count(F.lit(1)).alias("n")).collect()
        }
        want = {"CONCILIATED": total["a_to_b_mt"][0], "REMANENT": total["a_to_b_nmt"][0]}
        if status != want:
            bad.append(n - 1)
        bad += self._check_persisted(got)
        return sorted(set(bad) - self.failed)

    def _check_persisted(self, got: list[dict]) -> list[int]:
        """Windows whose persisted buckets or summary document, read back,
        disagree with their summary — one scan over all windows' files."""
        def per_window(name: str):
            df = self.spark.read.parquet(os.path.join(self.scratch, "w*", name))
            return df.withColumn(
                "__w", F.regexp_extract(F.input_file_name(), r"/w(\d+)/[^/]+/[^/]+$", 1).cast("int")
            )

        counts = {}
        for name in PERSISTED:
            for r in per_window(name).groupBy("__w").count().collect():
                counts[(name, r["__w"])] = r["count"]
        docs = {
            r["__w"]: (r["conciliated_transactions_number"], r["remanent_transactions_number"])
            for r in per_window("aggregated_results").collect()
        }
        bad = []
        for i, s in enumerate(got):
            if any(counts.get((name, i), 0) != s[name][0] for name in PERSISTED):
                bad.append(i)
            if docs.get(i) != (s["a_to_b_mt"][0], s["a_to_b_nmt"][0]):
                bad.append(i)
        return bad


# --- corpus_curate ---------------------------------------------------------------


def canonical(rows, columns) -> list:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted(
        tuple("NaN" if isinstance(r[i], float) and math.isnan(r[i]) else r[i] for i in order)
        for r in rows
    )


class CorpusCurate:
    """The corpus build: curation pipeline v4 on the footer-injected
    documents, an IVF-PQ k-NN graph over the embeddings, and SemDeDup over
    fitted multi-probe blocks."""

    def __init__(self, spark, inputs: str, expected: dict, scratch: str, clock):
        self.spark = spark
        self.clock = clock
        self.inputs = inputs
        self.expected = expected

    def unit(self, tr) -> dict:
        spark, sf, expected = self.spark, self.inputs, self.expected
        got = {}
        with tr.span("unit", "corpus_curate"):
            t0 = self.clock.now()
            with tr.span("extensions.curation"):
                docs = build_documents_footers(spark, sf)
                bench = spark.read.parquet(f"{sf}/documents.parquet").where(F.col("doc_id") % 10 == 7)
                cdf = curate_corpus_v2(
                    docs, bench, max_bucket_size=1000, lm_threshold_q=32800, line_dedup=True
                )
                got["curation_pipeline_v4"] = (cdf.collect(), cdf.columns)
            with tr.span("extensions.similarity", "fit"):
                emb = spark.read.parquet(f"{sf}/embeddings.parquet").select("vec_id", "embedding")
                coarse = kmeans_fit(emb, k=O.IVFPQ_ORACLE_NLIST, n_iter=O.IVFPQ_ORACLE_N_ITER)
                res = ivf_residuals(emb, coarse).localCheckpoint(eager=False)
                books = pq_fit(res, m=O.PQ_ORACLE_M, ksub=O.PQ_ORACLE_KSUB, n_iter=O.PQ_ORACLE_N_ITER)
            with tr.span("extensions.similarity", "join"):
                kdf = knn_join_ivfpq(
                    emb, coarse, books, k=O.IVFPQ_ORACLE_KJOIN, nprobe=O.IVFPQ_ORACLE_NPROBE,
                    rerank=O.IVFPQ_ORACLE_RERANK_JOIN, res=res,
                )
                got["sim_knn_join_ivfpq"] = (kdf.collect(), kdf.columns)
            with tr.span("extensions.similarity", "semdedup"):
                sdf = semantic_dedup_fitted(
                    build_embeddings_aug(spark, sf), threshold=0.9, nprobe=2,
                    nlist=O.MULTIPROBE_ORACLE_NLIST, n_iter=O.MULTIPROBE_ORACLE_N_ITER,
                )
                got["sim_semantic_dedup_fitted"] = (sdf.collect(), sdf.columns)
            took = self.clock.since(t0)
        if tr.enabled:
            for df in (cdf, kdf, sdf):
                tr.terminal(df)
        for name, (rows, cols) in got.items():
            exp = expected[name]
            check(sorted(cols) == sorted(exp["columns"]), f"{name}: columns {cols}")
            check(
                canonical([tuple(r) for r in rows], cols)
                == canonical([tuple(r) for r in exp["rows"]], exp["columns"]),
                f"{name}: rows differ from the oracle",
            )
        return {**took, "rows": expected["docs"] + expected["vecs"]}


WORKLOADS = {
    "recon_windows": ReconWindows,
    "corpus_curate": CorpusCurate,
}
