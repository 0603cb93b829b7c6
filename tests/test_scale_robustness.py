"""Skew handling, checkpoint/resume, backtest folds."""

from __future__ import annotations

from datetime import datetime

import pandas as pd
import pytest
from pyspark.sql import functions as F

from kkbox_churn_prediction_spark.operators.skew import (
    detect_heavy_hitters,
    salted_two_phase_sum,
    two_phase_count_distinct,
)
from kkbox_churn_prediction_spark.plans.folds import backtest, make_folds
from kkbox_churn_prediction_spark.plans.manifest import (
    read_backfill_output,
    resumable_backfill,
)
from kkbox_churn_prediction_spark.sources.synth import (
    clean_turns,
    generate_transcripts,
    to_spark,
)


@pytest.fixture(scope="module")
def turns(spark):
    return clean_turns(
        to_spark(spark, generate_transcripts(n_convs=30, mean_turns=15, seed=3))
    ).cache()


def test_detect_heavy_hitters_finds_mega_conversation(spark, turns):
    hot = detect_heavy_hitters(turns, threshold_ratio=10.0, sample=1.0)
    assert hot == ["conv00000"]  # the generator's deliberate mega-conv


def test_two_phase_count_distinct_exact(spark, turns):
    got = {
        r["conv_id"]: r["distinct_tool_cnt"]
        for r in two_phase_count_distinct(turns, ["conv_id"], "tool").collect()
    }
    want = {
        r["conv_id"]: r["w"]
        for r in turns.groupBy("conv_id").agg(F.countDistinct("tool").alias("w")).collect()
    }
    assert got == want


def test_salted_two_phase_sum_matches_plain(spark, turns):
    got = {
        r["conv_id"]: (r["n"], r["s"])
        for r in salted_two_phase_sum(
            turns, ["conv_id"], {"n": "1", "s": "length(text)"}
        ).collect()
    }
    want = {
        r["conv_id"]: (r["n"], r["s"])
        for r in turns.groupBy("conv_id")
        .agg(F.count("*").alias("n"), F.sum(F.length("text")).alias("s"))
        .collect()
    }
    assert got == want


def test_resumable_backfill_kill_restart(spark, turns, tmp_path):
    """Kill after 2 buckets → resume → output identical to one-shot
    (north_rule: 'resumable from checkpoint ... idempotently')."""
    from kkbox_churn_prediction_spark.plans.backfill import backfill_features

    cutoffs = spark.createDataFrame(
        pd.DataFrame({"cutoff_ts": [datetime(2024, 1, 10), datetime(2024, 1, 20)]})
    )

    def build(s):
        return backfill_features(turns, cutoffs)

    oneshot = backfill_features(turns, cutoffs).orderBy("conv_id", "cutoff_ts").toPandas()

    out = str(tmp_path / "ckpt")
    with pytest.raises(RuntimeError, match="injected failure"):
        resumable_backfill(spark, build, out, run_id="r1", n_buckets=4, fail_after=2)
    st = resumable_backfill(spark, build, out, run_id="r1", n_buckets=4)
    assert st["buckets_skipped"] == 2 and st["buckets_run"] == 2

    resumed = (
        read_backfill_output(spark, out).orderBy("conv_id", "cutoff_ts").toPandas()
    )
    pd.testing.assert_frame_equal(
        oneshot.reset_index(drop=True),
        resumed[oneshot.columns].reset_index(drop=True),
        check_dtype=False,
    )

    # re-running a completed backfill is a no-op (idempotent)
    st2 = resumable_backfill(spark, build, out, run_id="r1", n_buckets=4)
    assert st2["buckets_run"] == 0 and st2["buckets_skipped"] == 4


def test_resume_refuses_changed_input_fingerprint(spark, turns, tmp_path):
    """VERDICT #7: a resume against CHANGED input must not mix old
    done-buckets with new-input buckets — it refuses outright."""
    from kkbox_churn_prediction_spark.plans.backfill import backfill_features
    from kkbox_churn_prediction_spark.plans.manifest import ManifestStore

    cutoffs = spark.createDataFrame(
        pd.DataFrame({"cutoff_ts": [datetime(2024, 1, 10)]})
    )

    def build(s):
        return backfill_features(turns, cutoffs)

    out = str(tmp_path / "ckpt_fp")
    with pytest.raises(RuntimeError, match="injected failure"):
        resumable_backfill(
            spark, build, out, run_id="r2", n_buckets=4, fail_after=1,
            input_fingerprint="fp_a", params={"horizons": [1, 3, 7]}, seed=42,
        )
    # header recorded run-level metadata
    hdr = ManifestStore(tmp_path / "ckpt_fp" / "_manifest.jsonl").run_header("r2")
    assert hdr["input_fingerprint"] == "fp_a"
    assert hdr["params"] == {"horizons": [1, 3, 7]}
    assert hdr["seed"] == 42
    # changed input → refuse resume
    with pytest.raises(RuntimeError, match="fingerprint changed"):
        resumable_backfill(
            spark, build, out, run_id="r2", n_buckets=4, input_fingerprint="fp_b"
        )
    # same input → resume completes, skipping the committed bucket
    st = resumable_backfill(
        spark, build, out, run_id="r2", n_buckets=4, input_fingerprint="fp_a"
    )
    assert st["buckets_skipped"] == 1 and st["buckets_run"] == 3


def test_resume_replaces_stray_files_in_uncommitted_bucket(spark, turns, tmp_path):
    """Leftover parquet files in a bucket the manifest never committed
    are dropped on resume, not appended to."""
    from kkbox_churn_prediction_spark.plans.backfill import backfill_features
    from kkbox_churn_prediction_spark.plans.manifest import ManifestStore

    cutoffs = spark.createDataFrame(
        pd.DataFrame({"cutoff_ts": [datetime(2024, 1, 10), datetime(2024, 1, 20)]})
    )

    def build(s):
        return backfill_features(turns, cutoffs)

    oneshot = build(spark).orderBy("conv_id", "cutoff_ts").toPandas()
    out = tmp_path / "ckpt_stray"
    with pytest.raises(RuntimeError, match="injected failure"):
        resumable_backfill(spark, build, str(out), run_id="r3", n_buckets=4, fail_after=1)
    done = ManifestStore(out / "_manifest.jsonl").done_keys("r3")
    stray = next(b for b in range(4) if str(b) not in done)
    build(spark).limit(3).write.mode("append").parquet(str(out / f"bucket={stray}"))
    resumable_backfill(spark, build, str(out), run_id="r3", n_buckets=4)
    resumed = (
        read_backfill_output(spark, str(out)).orderBy("conv_id", "cutoff_ts").toPandas()
    )
    pd.testing.assert_frame_equal(
        oneshot.reset_index(drop=True),
        resumed[oneshot.columns].reset_index(drop=True),
        check_dtype=False,
    )


def test_empty_bucket_commits_zero_rows(spark, tmp_path):
    import json

    from kkbox_churn_prediction_spark.plans.forget import buckets_for_ids

    df = spark.createDataFrame([("a", 1), ("a", 2), ("b", 3)], "conv_id string, v int")
    out = tmp_path / "ckpt_empty"
    st = resumable_backfill(spark, lambda s: df, str(out), run_id="r4", n_buckets=8)
    assert st == {"buckets_run": 8, "buckets_skipped": 0, "rows": 3}
    rows = [json.loads(l) for l in (out / "_manifest.jsonl").read_text().splitlines()]
    committed = {r["partition_key"]: r["row_count"] for r in rows if r.get("kind") != "run"}
    want = dict.fromkeys(map(str, range(8)), 0)
    for b, ids in buckets_for_ids(spark, ["a", "b"], 8).items():
        want[str(b)] = sum({"a": 2, "b": 1}[i] for i in ids)
    assert committed == want
    assert read_backfill_output(spark, str(out)).count() == 3


def test_resumable_backfill_runs_the_plan_once(spark, tmp_path):
    """All pending buckets come from one execution of the build plan."""
    acc = spark.sparkContext.accumulator(0)

    def tick(x):
        acc.add(1)
        return x

    # nondeterministic: keeps the bucket filter from being pushed below it
    tick_udf = F.udf(tick, "long").asNondeterministic()
    df = spark.range(40).select(
        F.concat(F.lit("c"), F.col("id")).alias("conv_id"), tick_udf("id").alias("v")
    )
    st = resumable_backfill(spark, lambda s: df, str(tmp_path / "ckpt_once"),
                            run_id="r5", n_buckets=4)
    assert st["rows"] == 40
    assert acc.value == 40


def test_fingerprint_parquet_dir_detects_change(spark, tmp_path):
    from kkbox_churn_prediction_spark.plans.manifest import fingerprint_parquet_dir

    src = str(tmp_path / "src")
    spark.range(100).write.mode("overwrite").parquet(src)
    fp1 = fingerprint_parquet_dir(src)
    assert fp1 == fingerprint_parquet_dir(src)  # stable
    spark.range(101).write.mode("overwrite").parquet(src)
    assert fingerprint_parquet_dir(src) != fp1  # content change detected


def test_backtest_folds_single_plan(spark, turns):
    folds = make_folds(spark, datetime(2024, 1, 8), n_folds=3, step_days=7)
    out = backtest(turns, folds)
    assert out.select("fold").distinct().count() == 3
    # every (entity, fold) appears exactly once
    n_entities = turns.select("conv_id").distinct().count()
    assert out.count() == 3 * n_entities
    assert {"is_churn", "turn_cnt_7d", "fold"} <= set(out.columns)


def test_driver_replay_threshold_is_session_configurable(spark):
    """VERDICT r3 #7: the 2M-row driver-replay budgets read
    ``spark.kkbox_churn.driverReplayMaxRows`` (module constants as
    defaults), so a 100x-scale fleet can disable every replay with one
    conf — and the distributed path it forces produces the identical
    labels."""
    from kkbox_churn_prediction_spark.operators.components import (
        connected_components,
    )
    from kkbox_churn_prediction_spark.operators.replay import (
        DRIVER_REPLAY_CONF,
        driver_replay_max_rows,
    )

    assert driver_replay_max_rows(spark, 123) == 123  # unset -> default
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "doc_a long, doc_b long"
    )
    spark.conf.set(DRIVER_REPLAY_CONF, "0")
    try:
        assert driver_replay_max_rows(spark, 123) == 0
        out = connected_components(edges)  # auto, but replay disabled
        # observable path choice: the distributed fixpoint's output
        # plan carries the size aggregate + join; the driver replay is
        # a bare local relation with neither
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "HashAggregate" in plan
        dist = sorted(map(tuple, out.collect()))
    finally:
        spark.conf.unset(DRIVER_REPLAY_CONF)
    drv_out = connected_components(edges, mode="driver")
    drv_plan = drv_out._jdf.queryExecution().executedPlan().toString()
    assert "HashAggregate" not in drv_plan
    assert dist == sorted(map(tuple, drv_out.collect()))


def test_star_components_equal_driver_on_adversarial_graphs(spark):
    """Round-4 stress finding: the single-pointer-jump 'doubling'
    variant degrades on permutation graphs whose node numbering is
    uncorrelated with structure (41-80 rounds at n=1000). The
    two-phase large-star/small-star algorithm (Kiveris et al. 2014)
    must (a) match the driver replay exactly and (b) close the same
    adversarial graph within 10 rounds."""
    from kkbox_churn_prediction_spark.operators.components import (
        connected_components,
    )

    cases = {
        "path": spark.createDataFrame(
            [(i, i + 1) for i in range(99)], "doc_a long, doc_b long"
        ),
        "cycle": spark.createDataFrame(
            [(i, (i + 1) % 100) for i in range(100)], "doc_a long, doc_b long"
        ),
        "modular_permutation": spark.range(5000).select(
            F.pmod(F.col("id"), F.lit(1000)).alias("doc_a"),
            F.pmod(F.col("id") * 31 + 7, F.lit(1000)).alias("doc_b"),
        ),
        "blobs_selfloop": spark.createDataFrame(
            [(g * 5 + i, g * 5 + (i + 1) % 5) for g in range(20) for i in range(5)]
            + [(999, 999)],
            "doc_a long, doc_b long",
        ),
    }
    for name, edges in cases.items():
        drv = sorted(
            map(tuple, connected_components(edges, mode="driver").collect())
        )
        star = sorted(
            map(
                tuple,
                connected_components(
                    edges, algorithm="star", mode="distributed", max_iter=10
                ).collect(),
            )
        )
        assert drv == star, name


def test_hashmin_refuses_adversarial_graph_loudly(spark):
    """The designed loud-failure contract: hash-min on the
    high-effective-diameter permutation graph raises instead of
    silently truncating clusters — the rerun-with-star signal."""
    from kkbox_churn_prediction_spark.operators.components import (
        connected_components,
    )

    edges = spark.range(5000).select(
        F.pmod(F.col("id"), F.lit(1000)).alias("doc_a"),
        F.pmod(F.col("id") * 31 + 7, F.lit(1000)).alias("doc_b"),
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(
            edges, algorithm="hashmin", mode="distributed", max_iter=12
        )
