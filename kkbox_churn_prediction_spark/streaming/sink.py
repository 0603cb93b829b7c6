"""Exactly-once streaming parquet sink via foreachBatch + manifest.

Structured Streaming's foreachBatch gives at-least-once delivery:
after a crash between "sink wrote" and "checkpoint advanced", the
SAME batch id replays. Spark's own file sink handles this with its
log; this sink routes the idempotence through the SAME checkpoint
manifest the batch backfill uses (``plans/manifest.py``), so one
audit trail covers both ingestion modes — the lambda-architecture
discipline: a replayed batch id is detected as already-committed and
skipped, partial orphan output from a mid-write crash is overwritten,
and per-batch row counts land as lineage rows next to the backfill's
bucket commits.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame

from kkbox_churn_prediction_spark.plans.manifest import ManifestStore, write_and_commit


def manifest_foreach_batch(out_dir: str, run_id: str):
    """Build the ``foreachBatch`` function: each micro-batch writes
    ``batch=<id>/`` parquet then commits (run_id, batch_id, rows) to
    the manifest; an id already committed SKIPS (idempotent replay),
    an uncommitted partial dir is overwritten (crash mid-write).

    Use::

        q = (df.writeStream
               .foreachBatch(manifest_foreach_batch(out, "ingest1"))
               .option("checkpointLocation", ckpt).start())
    """
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    manifest = ManifestStore(out / "_manifest.jsonl")
    if manifest.run_header(run_id) is None:
        manifest.write_header(run_id, None, params={"sink": "streaming"}, seed=None)

    def fn(batch_df: DataFrame, batch_id: int) -> None:
        if str(batch_id) in manifest.done_keys(run_id):
            return  # replayed batch — already committed, exactly-once
        batch = batch_df.selectExpr("*", f"{int(batch_id)} AS batch")
        write_and_commit(batch, "batch", out, manifest, run_id, [int(batch_id)])

    return fn
