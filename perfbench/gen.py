"""Seeded benchmark inputs and their reference answers.

Every input is a pure function of ``(workload, seed, size)``. The seed picks
the day's key range, so the fixture's modular mismatch classes
(``harness/fixtures.py``) fall on different rows, in different proportions,
and the prices, dates, texts and vectors. Reference answers
come from the repo's own DuckDB oracles (``harness/oracles.py``) run over
the generated ``orders`` / ``documents`` / ``embeddings`` tables.

Inputs are written once per seed under the benchmark's work directory and
reused by later runs with the same seed.
"""

from __future__ import annotations

import json
import os
import shutil
from decimal import Decimal

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

GEN_VERSION = 3

DAY0_MS = 1_714_521_600_000  # 2024-05-01T00:00:00Z, the reference's fixture day
WINDOW_MS = 30 * 60 * 1000
WINDOWS_PER_DAY = 48

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)


def _rng(seed: int, salt: int) -> np.random.Generator:
    return np.random.default_rng([seed, salt])


# --- orders: the base table every reconciliation fixture derives from ----------


def orders(seed: int, base: int, n: int) -> pa.Table:
    """``n`` orders with the contiguous keys ``[base, base + n)`` and seeded
    prices and dates."""
    rng = _rng(seed, 1)
    days = rng.integers(0, 2_400, n)
    return pa.table({
        "o_orderkey": pa.array(np.arange(base, base + n, dtype=np.int64), pa.int64()),
        "o_custkey": pa.array(rng.integers(1, 15_000, n), pa.int64()),
        "o_totalprice": pa.array(rng.integers(90_000, 50_000_000, n) / 100.0, pa.float64()),
        "o_orderdate": pa.array(
            (np.datetime64("1995-01-01") + days.astype("timedelta64[D]")).astype(
                "datetime64[us]"
            )
        ),
    })


# --- reference answers ---------------------------------------------------------


def _oracle_summary(con, sql: str) -> dict[str, list]:
    """bucket → [n, amount_sum] from a cascade-summary oracle query."""
    return {r[0]: [int(r[1]), float(r[2])] for r in con.execute(sql).fetchall()}


def _duck(tables: dict[str, str]):
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for name, path in tables.items():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def _dec(x: float) -> Decimal:
    return Decimal(repr(x))


# --- workloads -----------------------------------------------------------------


def _write_done(out: str, expected: dict) -> None:
    with open(os.path.join(out, "expected.json"), "w") as f:
        json.dump(expected, f)


def _cached(out: str) -> dict | None:
    path = os.path.join(out, "expected.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    return None


def gen_recon_windows(out: str, seed: int, window_rows: int) -> dict:
    """One day of ``WINDOWS_PER_DAY`` consecutive 30-minute windows. Window
    ``w`` holds the orders of one key range cut at a multiple of 100, so no
    SALE/VOID pair (VOID k pairs SALE k−1) and no duplicate group straddles
    two windows. A and B are the oracle's own ``a_tbl`` and ``b_pre``
    (``harness/oracles.BASE_CTES``) over the seeded orders, so the engine
    and the reference answers read inputs derived by the same rules. A's
    ``create_timestamp`` places each row inside its window; B arrives as
    one all-string CSV per window, in the oracle's ``row_num`` order.
    Reference answers are computed after the run, over the windows it
    reached (:func:`window_oracle`)."""
    from mongo_polars_reconciliation_spark.harness.oracles import BASE_CTES

    per = max(window_rows // 100, 1) * 100
    base = int(_rng(seed, 2).integers(0, 10_000)) * 100
    pq.write_table(orders(seed, base, per * WINDOWS_PER_DAY), f"{out}/orders.parquet")
    win = f"(k - {base}) // {per}"
    with _duck({"orders": f"{out}/orders.parquet"}) as con:
        con.execute(
            f"COPY (WITH {BASE_CTES} SELECT *, {DAY0_MS} + {win} * {WINDOW_MS} "
            f"+ (k - {base}) % {per} * {WINDOW_MS // per} AS create_timestamp "
            f"FROM a_tbl ORDER BY k, transaction_type) TO '{out}/a_day.parquet' (FORMAT parquet)"
        )
        a_rows = dict(con.execute(
            f"SELECT {win}, COUNT(*) FROM read_parquet('{out}/a_day.parquet') GROUP BY 1"
        ).fetchall())
        b = con.execute(
            f"WITH {BASE_CTES} SELECT {win} AS w, codigo, importe, fecha, "
            f"ROW_NUMBER() OVER (PARTITION BY {win} ORDER BY k, codigo, cpy) AS fila "
            "FROM b_pre ORDER BY w, fila"
        ).arrow()
    w_col = b["w"].to_numpy()
    os.makedirs(f"{out}/b", exist_ok=True)
    windows = []
    for w in range(WINDOWS_PER_DAY):
        rows = np.nonzero(w_col == w)[0]
        tbl = b.take(pa.array(rows)).drop_columns(["w"])
        # all-string settlement file, like the reference's CSV drop; Arrow
        # renders doubles exactly (DuckDB's VARCHAR cast rounds them)
        tbl = pa.table({c: tbl[c].cast(pa.string()) for c in tbl.column_names})
        pacsv.write_csv(tbl, f"{out}/b/w{w:02d}.csv")
        windows.append({
            "lo_ms": DAY0_MS + w * WINDOW_MS,
            "hi_ms": DAY0_MS + (w + 1) * WINDOW_MS,
            "lo_key": base + w * per,
            "hi_key": base + (w + 1) * per,
            "a_rows": int(a_rows.get(w, 0)),
            "b_rows": int(rows.size),
        })
    return {"windows": windows}


def window_oracle(inputs: str, lo_key: int, hi_key: int) -> dict:
    """``recon_cascade_summary``'s oracle over the orders with keys in
    ``[lo_key, hi_key)`` — one window, or a run of consecutive windows
    (windows are key-disjoint, so their figures add up)."""
    from mongo_polars_reconciliation_spark.harness.oracles import ORACLES

    with _duck({}) as con:
        con.execute(
            "CREATE VIEW orders AS SELECT * FROM "
            f"read_parquet('{inputs}/orders.parquet') "
            f"WHERE o_orderkey >= {lo_key} AND o_orderkey < {hi_key}"
        )
        return _oracle_summary(con, ORACLES["recon_cascade_summary"])


def add_summaries(parts: list[dict], carried: str = "a_to_b_nmt") -> dict:
    """Sum per-window summaries exactly (amounts are DECIMAL sums rendered
    as doubles). ``carried`` is cumulative already: the last window's value
    stands for the run."""
    out = {}
    for bucket in parts[0]:
        if bucket == carried:
            out[bucket] = list(parts[-1][bucket])
            continue
        n = sum(p[bucket][0] for p in parts)
        amt = sum((_dec(p[bucket][1]) for p in parts), Decimal(0))
        out[bucket] = [n, float(amt)]
    return out


def carry(slice_summary: dict, carried: list) -> dict:
    """A window's expected summary: its slice's oracle figures, with the
    REMANENT rows carried from earlier windows added to ``a_to_b_nmt``.
    Carried rows never match later (their B rows are absent or outside
    tolerance), so they stay in that bucket."""
    s = {k: list(v) for k, v in slice_summary.items()}
    n, amt = s["a_to_b_nmt"]
    s["a_to_b_nmt"] = [n + carried[0], float(_dec(amt) + _dec(carried[1]))]
    return s


def _documents(seed: int, n: int) -> pa.Table:
    """Documents drawn the way the repo's sf0.01 and sf0.1 test tables
    (TESTDATA.md) are, as measured on them: 10–100 tokens, uniform (token
    count percentiles 10/50/90: 21/56/88 at sf0.01, 19/54/90 at sf0.1;
    298 characters on average), from the same 30-word vocabulary; ``en`` for 41–44 % of documents and
    14–15 % for each other language; sources ``src0``–``src19`` in turn;
    and 5 % of documents (26 of 500, 255 of 5000) another document's text
    plus a trailing ``dup`` token."""
    rng = _rng(seed, 3)
    ids = np.sort(rng.choice(50_000, n, replace=False)).astype(np.int64)
    texts = [
        " ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), int(rng.integers(10, 101))))
        for _ in range(n)
    ]
    dups = rng.choice(n, n // 20, replace=False)
    originals = sorted(set(range(n)) - set(dups.tolist()))
    for i in dups:
        texts[i] = texts[originals[int(rng.integers(0, len(originals)))]] + " dup"
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P).tolist(), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(seed: int, n: int, dim: int = 64) -> pa.Table:
    """Unit vectors with i.i.d. Gaussian directions and a uniform label in
    0–9, as in the test tables: there, too, vectors of one label are no
    closer than any others (mean cosine 0.002 within a label, 0.000
    across, at sf0.01; nearest-neighbour cosine 0.27–0.51 at 500 vectors,
    none above 0.9), so neither has cluster structure to exploit."""
    rng = _rng(seed, 4)
    ids = np.sort(rng.choice(50_000, n, replace=False)).astype(np.int64)
    v = rng.standard_normal((n, dim)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(ids, pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32), pa.int32()),
    })


def gen_corpus(out: str, seed: int, docs: int, vecs: int) -> dict:
    """Documents and embeddings with seeded ids below 50 000, clear of the
    fixtures' +100000 / +200000 / +300000 copy offsets."""
    from mongo_polars_reconciliation_spark.harness.oracles import ORACLES

    expected = {"docs": docs, "vecs": vecs}
    pq.write_table(_documents(seed, docs), f"{out}/documents.parquet")
    pq.write_table(_embeddings(seed, vecs), f"{out}/embeddings.parquet")
    with _duck({
        "documents": f"{out}/documents.parquet",
        "embeddings": f"{out}/embeddings.parquet",
    }) as con:
        for name in ("curation_pipeline_v4", "sim_knn_join_ivfpq", "sim_semantic_dedup_fitted"):
            rel = con.execute(ORACLES[name])
            cols = [d[0] for d in rel.description]
            expected[name] = {"columns": cols, "rows": [list(r) for r in rel.fetchall()]}
    return expected


GENERATORS = {
    "recon_windows": gen_recon_windows,
    "corpus_curate": gen_corpus,
}


def inputs(work: str, workload: str, seed: int, size: dict) -> tuple[str, dict]:
    """Directory of the inputs for ``(workload, seed, size)`` and their
    reference answers, generating both on first use."""
    tag = "-".join(f"{k}{v}" for k, v in sorted(size.items()))
    out = os.path.join(work, "inputs", f"v{GEN_VERSION}-{workload}-{tag}-s{seed}")
    expected = _cached(out)
    if expected is None:
        tmp = out + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        expected = GENERATORS[workload](tmp, seed, **size)
        _write_done(tmp, expected)
        shutil.rmtree(out, ignore_errors=True)
        os.replace(tmp, out)
    return out, expected
