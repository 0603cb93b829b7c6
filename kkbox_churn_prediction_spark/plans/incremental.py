"""Incremental feature backfill: compute only cutoffs the manifest
hasn't committed yet.

Production backfills run continuously: every week a new cutoff
becomes computable as fresh turns arrive. Recomputing the whole
entity×cutoff matrix per arrival is a full-table job; this plan keys
the checkpoint manifest by CUTOFF (ISO timestamp string) instead of
hash bucket, diffs the data-derived cutoff set against the committed
set, and runs the flagship backfill restricted to the new cutoffs —
reusing the exact same leak-safe plan, just with a smaller broadcast
cutoff list. Output lands as ``cutoff=<iso>/`` partitions, so
downstream readers partition-prune by fold and a re-run after a
crash re-computes only uncommitted cutoffs (same idempotence
discipline as ``resumable_backfill``; completed cutoffs' files are
never touched, which also keeps their manifest lineage valid).

Late-arriving turns for an ALREADY-COMMITTED cutoff do not silently
mutate it — exactly the batch leak-guard's contract (a cutoff's
features are a function of data seen before it ran). Recompute a
cutoff deliberately by clearing its manifest row / output dir.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kkbox_churn_prediction_spark.plans.backfill import backfill_features
from kkbox_churn_prediction_spark.plans.manifest import ManifestStore, write_and_commit


def incremental_backfill(
    spark: SparkSession,
    conversations: DataFrame,
    cutoffs: DataFrame,
    out_dir: str,
    *,
    run_id: str = "incremental",
    horizons_days: tuple[int, ...] = (1, 3, 7),
) -> dict:
    """Run the flagship backfill for every cutoff in ``cutoffs`` not
    yet committed to the manifest; returns
    {"cutoffs_run": int, "cutoffs_skipped": int, "rows": int}."""
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    manifest = ManifestStore(out / "_manifest.jsonl")
    if manifest.run_header(run_id) is None:
        manifest.write_header(run_id, None, params={"op": "incremental"}, seed=None)
    done = manifest.done_keys(run_id)

    all_cutoffs = [
        r["cutoff_ts"] for r in cutoffs.select("cutoff_ts").distinct().collect()
    ]

    def key(c) -> str:  # filesystem-safe (no colons -> no URL-escaping)
        return c.strftime("%Y%m%dT%H%M%S")

    new = sorted(c for c in all_cutoffs if key(c) not in done)
    skipped = len(all_cutoffs) - len(new)
    if not new:
        return {"cutoffs_run": 0, "cutoffs_skipped": skipped, "rows": 0}

    new_cutoffs = spark.createDataFrame(
        [(c,) for c in new], "cutoff_ts timestamp"
    )
    feats = backfill_features(
        conversations, new_cutoffs, horizons_days=horizons_days
    ).withColumn(
        "cutoff_key", F.date_format("cutoff_ts", "yyyyMMdd'T'HHmmss")
    )
    rows = write_and_commit(
        feats, "cutoff_key", out / "data", manifest, run_id, [key(c) for c in new]
    )
    return {"cutoffs_run": len(new), "cutoffs_skipped": skipped, "rows": rows}
