"""Entity deletion: only affected buckets rewrite, rows vanish
exactly, untouched buckets keep their files."""

from __future__ import annotations

import os

from pyspark.sql import functions as F


def _layout(spark, out, n=200, n_buckets=8):
    from kkbox_churn_prediction_spark.plans.manifest import resumable_backfill

    df = spark.range(n).select(
        F.concat(F.lit("c"), F.col("id")).alias("conv_id"),
        (F.col("id") * 3).alias("feature"),
    )
    resumable_backfill(spark, lambda s: df, out, run_id="base", n_buckets=n_buckets)
    return df


def test_forget_rewrites_only_affected_buckets(spark, tmp_path):
    from kkbox_churn_prediction_spark.plans.forget import (
        buckets_for_ids,
        forget_entities,
    )

    out = f"{tmp_path}/data"
    _layout(spark, out)
    targets = ["c5", "c17", "c99"]
    affected = set(buckets_for_ids(spark, targets, 8))
    mtimes_before = {
        b: os.path.getmtime(f"{out}/bucket={b}") for b in range(8)
    }
    st = forget_entities(spark, out, targets, n_buckets=8, run_id="f1")
    assert st["rows_deleted"] == 3
    assert st["buckets_rewritten"] == len(affected)
    got = spark.read.parquet(f"{out}/bucket=*")
    assert got.count() == 197
    assert got.where(F.col("conv_id").isin(targets)).count() == 0
    # untouched buckets keep their original files
    for b in range(8):
        changed = os.path.getmtime(f"{out}/bucket={b}") != mtimes_before[b]
        assert changed == (b in affected)
    # idempotent: forgetting again deletes nothing more
    st2 = forget_entities(spark, out, targets, n_buckets=8, run_id="f2")
    assert st2["rows_deleted"] == 0
    assert spark.read.parquet(f"{out}/bucket=*").count() == 197


def test_compaction_merges_files_preserving_rows(spark, tmp_path):
    from kkbox_churn_prediction_spark.plans.forget import compact_buckets

    out = f"{tmp_path}/data"
    df = _layout(spark, out, n=100, n_buckets=2)
    # accrete extra small files into bucket 0 (append writers)
    extra = spark.range(100, 120).select(
        F.concat(F.lit("c"), F.col("id")).alias("conv_id"),
        (F.col("id") * 3).alias("feature"),
    ).repartition(5)
    extra.write.mode("append").parquet(f"{out}/bucket=0")
    import glob
    files_before = len(glob.glob(f"{out}/bucket=0/*.parquet"))
    assert files_before >= 5
    rows_before = spark.read.parquet(f"{out}/bucket=*").count()
    st = compact_buckets(spark, out, run_id="cp1")
    assert st["buckets_compacted"] >= 1
    assert len(glob.glob(f"{out}/bucket=0/*.parquet")) == 1
    assert spark.read.parquet(f"{out}/bucket=*").count() == rows_before


def _lineage_rows(out):
    """Data rows the manifest vouches for: each bucket's last commit."""
    import json

    last = {}
    for line in open(f"{out}/_manifest.jsonl"):
        row = json.loads(line)
        if row.get("kind") != "run":
            last[row["partition_key"]] = row["row_count"]
    return sum(last.values())


def test_forget_crash_before_swap_leaves_layout_readable(spark, tmp_path, monkeypatch):
    """A rewrite killed after its tmp dir is written must not leave
    rows that readers of the layout pick up as data."""
    import pytest
    from pyspark.sql.readwriter import DataFrameWriter

    from kkbox_churn_prediction_spark.plans.forget import forget_entities
    from kkbox_churn_prediction_spark.plans.manifest import read_backfill_output

    out = f"{tmp_path}/data"
    _layout(spark, out)
    real_parquet = DataFrameWriter.parquet

    def parquet(self, path, *args, **kwargs):
        real_parquet(self, path, *args, **kwargs)
        if str(path).endswith(".tmp"):
            raise RuntimeError("killed after tmp write")

    with monkeypatch.context() as m:
        m.setattr(DataFrameWriter, "parquet", parquet)
        with pytest.raises(RuntimeError, match="killed"):
            forget_entities(spark, out, ["c5"], n_buckets=8, run_id="f1")
    assert read_backfill_output(spark, out).count() == 200
    st = forget_entities(spark, out, ["c5"], n_buckets=8, run_id="f1")
    assert st["rows_deleted"] == 1
    assert read_backfill_output(spark, out).count() == 199 == _lineage_rows(out)


def test_forget_crash_mid_swap_rolls_forward(spark, tmp_path, monkeypatch):
    """A rewrite killed after the old bucket dir left but before the tmp
    took its place: the retry restores the bucket from the tmp."""
    from pathlib import Path

    import pytest

    from kkbox_churn_prediction_spark.plans.forget import (
        buckets_for_ids,
        forget_entities,
    )
    from kkbox_churn_prediction_spark.plans.manifest import read_backfill_output

    out = f"{tmp_path}/data"
    _layout(spark, out)
    (b,) = buckets_for_ids(spark, ["c5"], 8)
    real_rename = Path.rename

    def rename(self, target):
        if self.name.endswith(".tmp"):
            raise RuntimeError("killed mid-swap")
        return real_rename(self, target)

    with monkeypatch.context() as m:
        m.setattr(Path, "rename", rename)
        with pytest.raises(RuntimeError, match="killed"):
            forget_entities(spark, out, ["c5"], n_buckets=8, run_id="f1")
    assert not os.path.exists(f"{out}/bucket={b}")
    forget_entities(spark, out, ["c5"], n_buckets=8, run_id="f1")
    assert sorted(p.name for p in Path(out).glob("bucket=*")) == [
        f"bucket={i}" for i in range(8)
    ]
    got = read_backfill_output(spark, out)
    assert got.count() == 199 == _lineage_rows(out)
    assert got.where(F.col("conv_id") == "c5").count() == 0
