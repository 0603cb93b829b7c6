"""Checkpoint manifest + idempotent resumable backfill (SURVEY §4 #3).

Extends the reference's run manifest (``src/runlog.py:17-26`` —
run.json with ts/seed/params/metrics per run) to PARTITION
granularity, in the mold of Structured Streaming's idempotent-sink
discipline: the backfill is split into ``n_buckets`` entity buckets
(``pmod(hash(conv_id), n)``); ONE job writes every pending bucket to
``out/bucket=K/`` and then each appends a manifest row ``(run_id,
partition_key, row_count, status, completed_at)`` — the protocol
:func:`write_and_commit` shares with every manifest-tracked writer:

- a bucket with a manifest row is DONE (its output is complete);
- on restart, done buckets are skipped (anti-join on the manifest)
  and partial orphan output of unfinished buckets is overwritten —
  resume is idempotent and produces byte-identical results
  (kill/restart test in ``tests/test_scale_robustness.py``).

With Iceberg this becomes ``MERGE INTO`` + snapshot ids (the
``input_fingerprint`` then carries the source snapshot id; locally
:func:`fingerprint_parquet_dir` stands in); parquet-per-bucket has
the same atomicity granularity (directory replace). A run header row
records fingerprint + params + seed per run (``src/runlog.py:17-26``)
and resume REFUSES to mix buckets across differing fingerprints.

The plan runs once per attempt, whatever the bucket count; a job
killed before its commits redoes every bucket it had not committed.
"""

from __future__ import annotations

import json
import shutil
import time
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


@dataclass
class ManifestStore:
    """JSON-lines manifest (one file per bucket commit — atomic via
    rename-free single-writer appends at driver granularity).

    Two row kinds: a RUN HEADER per run (``kind="run"`` — seed /
    params / input fingerprint, the reference's run.json fields,
    ``src/runlog.py:17-26``) and one bucket-commit row per completed
    partition. The header is written before any bucket work so a
    resume can check the recorded fingerprint against the current
    input BEFORE trusting any done-bucket row."""

    path: Path

    def run_header(self, run_id: str) -> dict | None:
        if not self.path.exists():
            return None
        hdr = None
        for line in self.path.read_text().splitlines():
            row = json.loads(line)
            if row.get("kind") == "run" and row["run_id"] == run_id:
                hdr = row  # last header wins
        return hdr

    def write_header(
        self,
        run_id: str,
        input_fingerprint: str | None,
        params: dict | None = None,
        seed: int | None = None,
    ) -> None:
        row = {
            "kind": "run",
            "run_id": run_id,
            "input_fingerprint": input_fingerprint,
            "params": params or {},
            "seed": seed,
            "started_at": time.strftime("%Y-%m-%dT%H:%M:%S"),
        }
        with self.path.open("a") as f:
            f.write(json.dumps(row) + "\n")

    def done_keys(self, run_id: str) -> set[str]:
        """Committed partition keys as strings (buckets, cutoff
        dates, batch ids — whatever the writer keyed on)."""
        if not self.path.exists():
            return set()
        done = set()
        for line in self.path.read_text().splitlines():
            row = json.loads(line)
            if (
                row.get("kind") != "run"
                and row["run_id"] == run_id
                and row["status"] == "done"
            ):
                done.add(str(row["partition_key"]))
        return done

    def commit(
        self,
        run_id: str,
        key: int | str,
        row_count: int,
        input_fingerprint: str | None = None,
    ) -> None:
        row = {
            "run_id": run_id,
            "partition_key": str(key),
            "row_count": int(row_count),
            "input_fingerprint": input_fingerprint,
            "status": "done",
            "completed_at": time.strftime("%Y-%m-%dT%H:%M:%S"),
        }
        with self.path.open("a") as f:
            f.write(json.dumps(row) + "\n")


def fingerprint_parquet_dir(path: str) -> str:
    """Cheap content snapshot of a parquet directory: md5 over the
    sorted (relative-name, size) listing. Catches appended / replaced
    / removed files without reading data bytes — the local analog of
    an Iceberg snapshot id (which replaces this wholesale when the
    catalog is available, see ``sources.io``)."""
    import hashlib

    p = Path(path)
    entries = sorted(
        (str(f.relative_to(p)), f.stat().st_size)
        for f in p.rglob("*")
        if f.is_file() and not f.name.startswith(".")
    )
    h = hashlib.md5()
    for name, size in entries:
        h.update(f"{name}:{size}\n".encode())
    return h.hexdigest()


def bucket_expr(col: str, n_buckets: int) -> Column:
    """``pmod(hash(col), n)``: the bucket every reader of the layout uses."""
    return F.pmod(F.hash(F.col(col)), F.lit(int(n_buckets)))


def write_and_commit(
    df: DataFrame, key_col: str, out_dir: str | Path, manifest: ManifestStore,
    run_id: str, pending: list, input_fingerprint: str | None = None,
    fail_after: int | None = None,
) -> int:
    """Write the ``pending`` keys of ``df`` to ``out_dir/<key_col>=K/`` in
    ONE appending ``partitionBy`` job after removing their orphan dirs,
    then commit each key's row count (0 if it got no rows) in key order;
    returns the rows committed. ``fail_after``: crash after N commits."""
    if not pending:
        return 0
    out = Path(out_dir)
    dirs = {str(k): out / f"{key_col}={k}" for k in sorted(pending)}
    for d in dirs.values():
        if d.exists():
            shutil.rmtree(d)
    pending_rows = df.where(F.col(key_col).isin(pending))
    pending_rows.write.mode("append").partitionBy(key_col).parquet(str(out))
    counts = dict.fromkeys(dirs, 0)
    written = [str(d) for d in dirs.values() if d.exists()]
    if written:  # keys read back as strings: no type inference ("007" -> 7)
        read = df.sparkSession.read.option("basePath", str(out))
        rows = read.schema(f"`{key_col}` string").parquet(*written).groupBy(key_col).count()
        counts.update({r[key_col]: r["count"] for r in rows.collect()})
    for i, (k, n) in enumerate(counts.items(), start=1):
        manifest.commit(run_id, k, n, input_fingerprint=input_fingerprint)
        if fail_after is not None and i >= fail_after:
            raise RuntimeError(f"injected failure after {i} commits")
    return sum(counts.values())


def resumable_backfill(
    spark: SparkSession,
    build: "callable",
    out_dir: str,
    run_id: str,
    n_buckets: int = 8,
    fail_after: int | None = None,
    input_fingerprint: str | None = None,
    params: dict | None = None,
    seed: int | None = None,
    bucket_col: str = "conv_id",
) -> dict:
    """Run ``build(spark) -> DataFrame`` into checkpointed buckets.

    ``build`` must return the FULL output DataFrame including the
    ``bucket_col`` identity column (conv_id for feature backfills,
    doc_id for corpus jobs); bucketing is derived, so the split is
    stable across restarts. ``fail_after`` injects a crash after N bucket
    commits (kill/restart test hook).

    ``input_fingerprint`` (e.g. :func:`fingerprint_parquet_dir` of the
    source dir, or an Iceberg snapshot id) guards resume across
    CHANGED inputs: if a prior run header for ``run_id`` recorded a
    different fingerprint, resuming would silently mix old-input
    bucket output with new-input buckets — so it raises instead.
    Start a new run_id (or clear the checkpoint dir) for new input.

    Returns {"buckets_run": int, "buckets_skipped": int, "rows": int}.
    """
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    manifest = ManifestStore(out / "_manifest.jsonl")
    hdr = manifest.run_header(run_id)
    if hdr is not None and hdr.get("input_fingerprint") != input_fingerprint:
        raise RuntimeError(
            f"refusing resume of run {run_id!r}: input fingerprint changed "
            f"({hdr.get('input_fingerprint')!r} -> {input_fingerprint!r}); "
            "done buckets were built from different input"
        )
    if hdr is None:
        manifest.write_header(run_id, input_fingerprint, params, seed)
    done = manifest.done_keys(run_id)
    pending = [b for b in range(n_buckets) if str(b) not in done]

    full = build(spark).withColumn("bucket", bucket_expr(bucket_col, n_buckets))
    rows = write_and_commit(
        full, "bucket", out, manifest, run_id, pending,
        input_fingerprint=input_fingerprint, fail_after=fail_after,
    )
    skipped = n_buckets - len(pending)
    return {"buckets_run": len(pending), "buckets_skipped": skipped, "rows": rows}


def read_backfill_output(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.parquet(f"{out_dir}/bucket=*")
