"""Targeted entity deletion from a bucketed parquet layout.

A 100 TB transcript store gets deletion requests (consent revocation,
right-to-be-forgotten). Rewriting the whole table per request is a
non-starter; this utility rewrites ONLY the buckets that can contain
the target ids — the layout written by ``plans/manifest.py`` keys
buckets on ``pmod(hash(id), n)``, so the affected bucket set comes
from hashing the (tiny) id list with the SAME Spark hash, and every
other bucket's files are untouched (their row counts and mtimes stay
valid). Each rewritten bucket anti-joins the broadcast id list and
recommits its new row count to the manifest, so lineage keeps
matching the data after deletions.

Write discipline: new data lands in ``_bucket=K.tmp`` first (a hidden
name: Spark's file listing and the ``bucket=*`` glob both skip it), is
counted, and then swaps in by two renames — the old dir moves aside to
``_bucket=K.old``, the tmp takes its place, the old dir drops. A crash
at any step leaves a state the next call repairs on entry: a tmp whose
bucket dir is gone rolls forward and recommits, any other tmp (possibly
half-written) and any leftover old dir are removed. A live bucket is
never half-written. On an object store, swap the renames for the
table format's atomic commit (Iceberg delete-files do this natively
when the runtime has the jar — ``sources/io.py``).
"""

from __future__ import annotations

import shutil
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kkbox_churn_prediction_spark.plans.manifest import ManifestStore, bucket_expr


def buckets_for_ids(
    spark: SparkSession, ids: list[str], n_buckets: int
) -> dict[int, list[str]]:
    """bucket → ids mapping using the writer's own bucket expression
    (never re-implement the hash driver-side)."""
    df = spark.createDataFrame([(i,) for i in ids], "id string").select(
        "id", bucket_expr("id", n_buckets).alias("b")
    )
    out: dict[int, list[str]] = {}
    for r in df.collect():
        out.setdefault(int(r["b"]), []).append(r["id"])
    return out


def _recover_swaps(
    spark: SparkSession, out: Path, manifest: ManifestStore, run_id: str
) -> None:
    """Repair the state a crash in :func:`_rewrite_bucket` left behind."""
    for tmp in sorted(out.glob("_bucket=*.tmp")):
        bucket_dir = out / tmp.name[1:].removesuffix(".tmp")
        if bucket_dir.exists():
            shutil.rmtree(tmp)  # crashed before the swap: tmp may be partial
        else:  # crashed mid-swap: tmp was complete and counted
            tmp.rename(bucket_dir)
            n = spark.read.parquet(str(bucket_dir)).count()
            manifest.commit(run_id, bucket_dir.name.split("=")[1], n)
    for old in out.glob("_bucket=*.old"):
        shutil.rmtree(old)


def _rewrite_bucket(
    spark: SparkSession,
    out: Path,
    manifest: ManifestStore,
    run_id: str,
    b: int,
    new: DataFrame,
    expect_rows: int | None = None,
) -> int:
    """Replace bucket ``b``'s data with ``new`` through the tmp-swap and
    recommit its row count; returns that count. With ``expect_rows``
    set, a different count aborts before the live bucket is touched."""
    bucket_dir = out / f"bucket={b}"
    tmp, old = out / f"_bucket={b}.tmp", out / f"_bucket={b}.old"
    new.write.mode("overwrite").parquet(str(tmp))
    n = spark.read.parquet(str(tmp)).count()
    if expect_rows is not None and n != expect_rows:  # pragma: no cover
        shutil.rmtree(tmp)
        raise RuntimeError(
            f"rewrite row-count mismatch in {bucket_dir}: {expect_rows} -> {n}"
        )
    bucket_dir.rename(old)
    tmp.rename(bucket_dir)
    shutil.rmtree(old)
    manifest.commit(run_id, b, n)
    return n


def forget_entities(
    spark: SparkSession,
    data_dir: str,
    ids: list[str],
    *,
    n_buckets: int,
    run_id: str,
    id_col: str = "conv_id",
) -> dict:
    """Delete every row of the given ids from the bucketed layout,
    rewriting only affected buckets; returns
    {"buckets_rewritten": int, "rows_deleted": int}."""
    out = Path(data_dir)
    manifest = ManifestStore(out / "_manifest.jsonl")
    affected = buckets_for_ids(spark, ids, n_buckets)
    manifest.write_header(
        run_id, None, params={"op": "forget", "n_ids": len(ids)}, seed=None
    )
    _recover_swaps(spark, out, manifest, run_id)
    ids_df = spark.createDataFrame([(i,) for i in ids], f"{id_col} string")
    rewritten = deleted = 0
    for b in sorted(affected):
        bucket_dir = out / f"bucket={b}"
        if not bucket_dir.exists():
            continue
        cur = spark.read.parquet(str(bucket_dir))
        before = cur.count()
        kept = cur.join(F.broadcast(ids_df), id_col, "left_anti")
        after = _rewrite_bucket(spark, out, manifest, run_id, b, kept)
        rewritten += 1
        deleted += before - after
    return {"buckets_rewritten": rewritten, "rows_deleted": deleted}


def compact_buckets(
    spark: SparkSession,
    data_dir: str,
    *,
    run_id: str,
    target_files_per_bucket: int = 1,
    min_files: int = 2,
) -> dict:
    """Small-file compaction: rewrite any bucket whose parquet file
    count exceeds ``min_files`` down to ``target_files_per_bucket``
    files (coalesce — no shuffle, a pure file-merge read+write), with
    the same tmp swap and manifest recommit as deletion.
    Incremental writers (the streaming sink, repeated small
    backfills) accrete files that degrade scan planning at 100 TB;
    compaction restores the layout without touching row content.
    Returns {"buckets_compacted": int}.
    """
    out = Path(data_dir)
    manifest = ManifestStore(out / "_manifest.jsonl")
    manifest.write_header(run_id, None, params={"op": "compact"}, seed=None)
    _recover_swaps(spark, out, manifest, run_id)
    compacted = 0
    for bucket_dir in sorted(out.glob("bucket=*")):
        n_files = len(list(bucket_dir.glob("*.parquet")))
        if n_files <= max(int(min_files) - 1, int(target_files_per_bucket)):
            continue
        cur = spark.read.parquet(str(bucket_dir))
        b = int(bucket_dir.name.split("=")[1])
        _rewrite_bucket(
            spark, out, manifest, run_id, b,
            cur.coalesce(int(target_files_per_bucket)), expect_rows=cur.count(),
        )
        compacted += 1
    return {"buckets_compacted": compacted}
