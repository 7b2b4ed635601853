from conftest import rows

from mongo_polars_reconciliation_spark.config import (
    KeyPair,
    ReconConfig,
    ToleranceRule,
    ZeroEffectRule,
)
from mongo_polars_reconciliation_spark.plans.pipeline import (
    ExactPass,
    Reconciliation,
    TolerancePass,
)
from mongo_polars_reconciliation_spark.sources.external import prepare_external

CFG = ReconConfig(
    keys=[
        KeyPair("transaction_code", "codigo", None),
        KeyPair("approved_transaction_amount", "importe", "double"),
    ]
)

A_COLS = [
    "_id", "transaction_code", "approved_transaction_amount",
    "transaction_type", "ticket_code", "sale_ticket_code",
]

ZE = ZeroEffectRule(
    field="transaction_type",
    values=("SALE", "VOID"),
    b1_cols=("ticket_code", "approved_transaction_amount"),
    b2_cols=("sale_ticket_code", "approved_transaction_amount"),
)


def build(spark):
    a = spark.createDataFrame(
        [
            ("a1", "T1", 10.0, "SALE", "K1", None),   # exact match
            ("a2", "T2", 20.0, "SALE", "K2", None),   # tolerance match (20.4)
            ("a3", "T3", 30.0, "SALE", "K3", None),   # residual to the end
            ("zs", "T4", 40.0, "SALE", "K4", None),   # zero-effect pair ...
            ("zv", "T5", 40.0, "VOID", "K5", "K4"),   # ... cancels with zs
        ],
        A_COLS,
    )
    b_raw = spark.createDataFrame(
        [
            (1, "T1", "10.0"),
            (2, "T2", "20.4"),
            (3, "T8", "88.0"),  # external residual
        ],
        ["ord", "codigo", "importe"],
    )
    b = prepare_external(b_raw, CFG, order_by=["ord"]).drop("ext_ord")
    return a, b


def build_skewed(spark):
    """Cascade-shaped skewed fixture: key ("HOT", 7.0) carries 60 A rows and
    3 B candidates (duplicate arbitration inside the hot branch), a 1:1
    tail, residuals on both sides, and one zero-effect pair — every bucket
    is non-trivial and both split branches engage at hot_threshold=10."""
    from pyspark.sql import functions as F

    a = (
        spark.range(0, 120)
        .select(
            F.concat(F.lit("a"), F.col("id")).alias("_id"),
            F.when(F.col("id") < 60, F.lit("HOT"))
            .otherwise(F.concat(F.lit("T"), F.col("id")))
            .alias("transaction_code"),
            F.when(F.col("id") < 60, F.lit(7.0))
            .otherwise(F.col("id").cast("double"))
            .alias("approved_transaction_amount"),
            F.lit("SALE").alias("transaction_type"),
            F.concat(F.lit("K"), F.col("id")).alias("ticket_code"),
            F.lit(None).cast("string").alias("sale_ticket_code"),
        )
    )
    ze_rows = spark.createDataFrame(
        [
            ("zs", "Z1", 40.0, "SALE", "KZ", None),
            ("zv", "Z2", 40.0, "VOID", "KV", "KZ"),
        ],
        A_COLS,
    )
    a = a.unionByName(ze_rows).localCheckpoint()
    b_raw = spark.range(0, 100).select(
        F.col("id").alias("ord"),
        F.when(F.col("id") < 3, F.lit("HOT"))
        .otherwise(F.concat(F.lit("T"), F.col("id") + 60))
        .alias("codigo"),
        F.when(F.col("id") < 3, F.lit("7.0"))
        .otherwise((F.col("id") + 60).cast("string"))
        .alias("importe"),
    )
    b = (
        prepare_external(b_raw, CFG, order_by=["ord"])
        .drop("ext_ord")
        .localCheckpoint()
    )
    return a, b


SKEW_PASSES_PLAIN = [
    ExactPass(),
    ExactPass(keys=(KeyPair("transaction_code", "codigo", None),)),
]
SKEW_PASSES_HOT = [
    ExactPass(hot_threshold=10),
    ExactPass(
        keys=(KeyPair("transaction_code", "codigo", None),), hot_threshold=10
    ),
]


def test_cascade_skew_knob_buckets_equal_plain(spark):
    """r15 (VERDICT r14 #2): the hot_threshold knob threaded through the
    cascade produces bit-identical buckets — both the full-key pass and a
    reduced-key second pass (replaced cfg) run the skewed plan, and every
    accumulator bucket equals the plain cascade's row-for-row."""
    a, b = build_skewed(spark)
    out = {}
    for tag, passes in (("plain", SKEW_PASSES_PLAIN), ("hot", SKEW_PASSES_HOT)):
        rc = Reconciliation(CFG, a, b)
        buckets = rc.run(passes, zero_effect_rules=[ZE])
        out[tag] = {k: (rows(df), df.columns) for k, df in buckets.items()}
        rc.unpersist()
    assert set(out["hot"]) == set(out["plain"])
    for k in out["plain"]:
        assert out["hot"][k][1] == out["plain"][k][1], k  # same columns
        assert out["hot"][k][0] == out["plain"][k][0], k  # same rows
    # the fixture engages the hot branch for real: 60 hot A ids win one of
    # 3 candidates each and the 2 losing candidates return per id group
    mt = [r[0] for r in out["hot"]["a_to_b_mt"][0]]
    assert sum(1 for _id in mt if _id.startswith("a")) >= 60


def test_cascade_skew_knob_plan_pin(spark):
    """r15 pipeline-level plan pin: with the knob set, the pass built by
    Reconciliation.match_records carries the split plan — BroadcastHashJoin
    for the hot slice, SortMergeJoin for the tail — with auto-broadcast
    disabled so the pin cannot pass by size estimation. Materialization is
    stubbed to identity for the pin only: checkpoint/persist wrap the plan
    in a leaf/cache node that hides the join operators from toString, and
    what the pin must witness is the plan the pipeline BUILDS."""
    a, b = build_skewed(spark)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        rc = Reconciliation(CFG, a, b)
        rc._persist = lambda df: df  # identity materialization (pin-only)
        rc.match_records(hot_threshold=10)
        plan = rc._candidates._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    lines = plan.splitlines()
    assert any("BroadcastHashJoin" in ln and "Inner" in ln for ln in lines), plan
    assert any("SortMergeJoin" in ln and "Inner" in ln for ln in lines), plan


def test_cascade_skew_knob_arg_contract(spark):
    """broadcast_b and hot_threshold are mutually exclusive on a pass."""
    import pytest

    a, b = build_skewed(spark)
    rc = Reconciliation(CFG, a, b)
    with pytest.raises(ValueError, match="mutually exclusive"):
        rc.match_records(broadcast_b=True, hot_threshold=10)


def test_cascade_exact_then_tolerance(spark):
    a, b = build(spark)
    rc = Reconciliation(CFG, a, b)
    buckets = rc.run(
        [ExactPass(), TolerancePass((ToleranceRule("importe", 1.0),))],
        zero_effect_rules=[ZE],
    )
    assert rows(buckets["z_eff_a"], "_id", "_id_right") == [("zs", "zv")]
    # pass 1 matches a1 exactly; pass 2 re-matches a2 within tolerance
    assert rows(buckets["a_to_b_mt"], "_id") == [("a1",), ("a2",)]
    assert rows(buckets["a_to_b_nmt"], "_id") == [("a3",)]
    assert rows(buckets["b_to_a_nmt"], "ext_file_row_number") == [(3,)]
    summary = rc.summary(amount_col="approved_transaction_amount")
    got = {r["bucket"]: (r["n"], r["amount_sum"]) for r in summary.collect()}
    assert got["a_to_b_mt"] == (2, 30.0)
    assert got["a_to_b_nmt"] == (1, 30.0)
    assert got["z_eff_a"] == (1, 40.0)
    rc.unpersist()


def test_buckets_materialized_once(spark):
    """``buckets()`` stores each final bucket once and hands back the same
    frames on every call — as checkpoint leaves (``LogicalRDD``) in
    checkpoint mode, as cached frames in persist mode — and ``unpersist``
    releases the cached copies."""
    a, b = build(spark)
    passes = [ExactPass(), TolerancePass((ToleranceRule("importe", 1.0),))]
    for mode in ("checkpoint", "persist"):
        rc = Reconciliation(CFG, a, b, materialize=mode)
        first = rc.run(passes, zero_effect_rules=[ZE])
        second = rc.buckets()
        for name, df in first.items():
            assert second[name] is df, (mode, name)
            if mode == "checkpoint":
                root = df._jdf.queryExecution().analyzed().getClass().getSimpleName()
                assert root == "LogicalRDD", (name, root)
            else:
                assert df.storageLevel.useMemory, name
        assert rows(second["a_to_b_mt"], "_id") == [("a1",), ("a2",)]
        assert rows(second["b_to_a_nmt"], "ext_file_row_number") == [(3,)]
        rc.unpersist()
        if mode == "persist":
            assert not any(df.storageLevel.useMemory for df in first.values())
