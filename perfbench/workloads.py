"""The four workloads: inputs from a seed, the timed operation, the
engine outputs and independent references for the correctness check,
and the traced layer sequence.

Sizes are chosen so one run (session start, seeded generation, one
operation and the check) takes about half a minute on a 4-core host.
"""

from __future__ import annotations

import contextlib
import glob
import importlib.util
import json
import os
import shutil
import sys
import time
import zlib
from dataclasses import dataclass, field
from datetime import datetime
from pathlib import Path

import pandas as pd

from perfbench import checks
from perfbench.harness import Tracer, dir_bytes, noop

HORIZONS = (1, 3, 7)
N_BUCKETS = 8
N_FOLDS = 28
FOLD_START = datetime(2024, 1, 8)  # generator epoch (2024-01-01) + one week
MEGA_CONV = "conv0000000"  # genbench gives conversation 0 ~100x the median turns
SAMPLE_MOD = 40  # backtest check: conversations with crc32 % 40 == 0, plus the mega one
SLICE_DAYS = 4  # stream_replay: one input file per this many days


@dataclass
class Ctx:
    spark: object
    root: Path
    work: Path
    seed: int
    scale: float = 1.0  # multiplies the conversation count (the self-test shrinks it)
    turns_path: Path = None
    n_turns: int = 0
    n_convs: int = 0
    state: dict = field(default_factory=dict)

    def read_turns(self):
        from pyspark.sql import functions as F

        return self.spark.read.parquet(str(self.turns_path)).withColumn(
            "ts", F.col("ts").cast("timestamp")
        )

    def turns_glob(self) -> str:
        return str(self.turns_path / "*.parquet")

    def entry_module(self):
        """``__spark_entry__`` (the oracle SQL bodies), imported lazily:
        it is large and only the checks need it."""
        if "entry" not in self.state:
            import __spark_entry__

            self.state["entry"] = __spark_entry__
        return self.state["entry"]


def narrow(turns):
    """The projection ``plans.backfill`` feeds the as-of join."""
    from pyspark.sql import functions as F

    return turns.select(
        "conv_id",
        "ts",
        F.expr("CAST(length(text) AS BIGINT)").alias("text_len"),
        F.expr("CASE WHEN role = 'user' THEN 1 END").alias("is_user"),
        "tool",
    )


class Workload:
    name = ""
    n_convs = 1000
    avg_turns = 50
    mega_conv = True

    def generate(self, ctx: Ctx, path: Path) -> None:
        from kkbox_churn_prediction_spark.sources.genbench import (
            generate_transcripts_distributed,
        )

        n = max(10, int(self.n_convs * ctx.scale))
        df = generate_transcripts_distributed(
            ctx.spark, n_convs=n, avg_turns=self.avg_turns, mega_conv=self.mega_conv,
            seed=ctx.seed, partitions=os.cpu_count(),
        )
        df.write.mode("overwrite").parquet(str(path))
        ctx.turns_path, ctx.n_convs = path, n

    def after_generate(self, ctx: Ctx) -> None:
        import pyarrow.parquet as pq

        # row counts from the parquet footers: no Spark job
        ctx.n_turns = sum(pq.read_metadata(f).num_rows for f in glob.glob(ctx.turns_glob()))

    def op(self, ctx: Ctx, i: int) -> None:
        """Operation ``i`` (from 1) of the run."""
        raise NotImplementedError

    def outputs(self, ctx: Ctx) -> dict:
        raise NotImplementedError

    def reference(self, ctx: Ctx) -> dict:
        raise NotImplementedError

    def check(self, got: dict, want: dict) -> list[str]:
        raise NotImplementedError

    def trace(self, ctx: Ctx, tr: Tracer) -> dict:
        raise NotImplementedError

    def batch_ms(self, ctx: Ctx) -> list[float] | None:
        """Micro-batch durations of the timed ops (streaming only)."""
        return None


# ---------------------------------------------------------------------------


def _load_backfill_job(root: Path):
    spec = importlib.util.spec_from_file_location("backfill_job", root / "jobs" / "backfill_job.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class BackfillJob(Workload):
    """The shipped spark-submit job: 8 manifest buckets + leakage gate."""

    name = "backfill_job"
    n_convs = 1000

    def op(self, ctx, i):
        job = ctx.state.setdefault("job", _load_backfill_job(ctx.root))
        out = ctx.work / f"backfill{i}"
        prev = ctx.state.get("out")
        if prev is not None:
            shutil.rmtree(prev, ignore_errors=True)
        with contextlib.redirect_stdout(sys.stderr):
            job.main(["--input", str(ctx.turns_path), "--output", str(out),
                      "--run-id", f"run{i}", "--buckets", str(N_BUCKETS)])
        ctx.state["out"] = out

    def outputs(self, ctx):
        out = ctx.state["out"]
        got = checks.duck(
            f"SELECT * FROM read_parquet('{out}/bucket=*/*.parquet', hive_partitioning = false)")
        rows = 0
        for line in (out / "_manifest.jsonl").read_text().splitlines():
            row = json.loads(line)
            if row.get("status") == "done":
                rows += row["row_count"]
        return {"features": got, "manifest_rows": rows}

    def reference(self, ctx):
        sql = checks.oracle_sql(ctx.entry_module(), "asof_features", ctx.turns_glob())
        return {"features": checks.duck(sql)}

    def check(self, got, want):
        ref = want["features"]
        return checks.check_backfill(got["features"], ref, got["manifest_rows"],
                                     ref["conv_id"].nunique(), ref["cutoff_ts"].nunique())

    def trace(self, ctx, tr):
        from kkbox_churn_prediction_spark.operators.leakage import assert_no_leakage
        from kkbox_churn_prediction_spark.plans.backfill import backfill_features
        from kkbox_churn_prediction_spark.plans.manifest import (
            fingerprint_parquet_dir,
            resumable_backfill,
        )
        from kkbox_churn_prediction_spark.sources.genbench import weekly_cutoffs

        turns = tr.materialize("sources", ctx.read_turns())
        cutoffs = tr.materialize("sources", weekly_cutoffs(turns))
        joined, m = _feature_layers(tr, turns, cutoffs, cutoffs, max(HORIZONS), full_window=False)
        # the job's own entry points, on the raw table: each bucket
        # re-runs the whole feature plan
        out = ctx.work / "backfill_traced"
        raw = ctx.read_turns()
        tr.call("manifest", lambda: resumable_backfill(
            ctx.spark, lambda s: backfill_features(raw, weekly_cutoffs(raw)), str(out),
            run_id="traced", n_buckets=N_BUCKETS,
            input_fingerprint=fingerprint_parquet_dir(str(ctx.turns_path)),
        ), recomputes=("sources", "asof", "horizons", "grid"))
        tr.call("leakage", lambda: assert_no_leakage(joined))
        return m | {
            "manifest.bucket_s": tr.span_of("manifest") / N_BUCKETS,
            "manifest.buckets": N_BUCKETS,
            "manifest.bytes_written": dir_bytes(out),
            "_table_bytes": dir_bytes(ctx.turns_path),
        }


def _feature_layers(tr: Tracer, turns, cutoffs, grid_cutoffs, lookback, full_window: bool):
    """asof → horizons → grid, each on the previous layer's checkpoint
    (the steps of ``plans.backfill.backfill_features``), plus the
    horizons call without its countDistinct specs."""
    from pyspark.sql import functions as F

    from kkbox_churn_prediction_spark.operators.asof import asof_join_broadcast_cutoffs
    from kkbox_churn_prediction_spark.operators.horizons import (
        DEFAULT_SPECS,
        attach_grid_defaults,
        multi_horizon_aggregate,
    )
    from kkbox_churn_prediction_spark.sources.events import cutoff_grid

    joined = tr.materialize("asof", asof_join_broadcast_cutoffs(
        narrow(turns), cutoffs, lookback_days=lookback))
    feats = tr.materialize("horizons", multi_horizon_aggregate(
        joined, HORIZONS, DEFAULT_SPECS, full_window=full_window))
    plain = tuple(sp for sp in DEFAULT_SPECS if sp.agg != "countDistinct")
    tr.materialize("probe.horizons_plain", multi_horizon_aggregate(
        joined, HORIZONS, plain, full_window=full_window))
    grid = tr.materialize("grid", attach_grid_defaults(
        feats, cutoff_grid(turns.select("conv_id"), grid_cutoffs), DEFAULT_SPECS, HORIZONS))
    empty = grid.where(F.col("turn_cnt_7d") == 0).count()
    turns_n = turns.count()
    return joined, {
        "sources.turns": turns_n,
        "asof.rows_out": tr.rows("asof"),
        "asof.replication": tr.rows("asof") / max(turns_n, 1),
        "horizons.groups_out": tr.rows("horizons"),
        "horizons.distinct_s": tr.span_of("horizons") - tr.span_of("probe.horizons_plain"),
        "grid.rows_out": tr.rows("grid"),
        "grid.default_share": empty / max(tr.rows("grid"), 1),
    }


# ---------------------------------------------------------------------------


class BacktestDaily(Workload):
    """28 daily expanding folds → CV assignment → PSI across folds."""

    name = "backtest_daily"
    n_convs = 600

    def _folds(self, ctx):
        from kkbox_churn_prediction_spark.plans.folds import make_folds

        return make_folds(ctx.spark, FOLD_START, N_FOLDS, step_days=1, policy="expanding")

    def _pipeline(self, ctx):
        from pyspark.sql import functions as F

        from kkbox_churn_prediction_spark.operators.psi import fixed_width_bins, psi_from_bins
        from kkbox_churn_prediction_spark.plans.folds import assign_cv_folds, backtest

        turns, folds = ctx.read_turns(), self._folds(ctx)
        matrix = backtest(turns, folds, lookback_policy="expanding")
        cv = assign_cv_folds(matrix.drop("fold"), folds)
        binned = matrix.select("fold", fixed_width_bins(F.col("turn_cnt_7d"), 5.0, 20).alias("bin"))
        psi = psi_from_bins(binned, "fold", "bin", ref_fold="fold_0")
        return matrix, cv, psi

    def op(self, ctx, i):
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        matrix, cv, psi = self._pipeline(ctx)
        # the check reads the op's own outputs through observations made
        # on the same pass (the matrix rows of the sampled conversations,
        # timestamps as epoch micros; PSI is one row per fold; the CV
        # split is checked by its row counts), so nothing is recomputed
        ts_cols = [f.name for f in matrix.schema if f.dataType.typeName() == "timestamp"]
        row = F.struct(*[F.unix_micros(c).alias(c) if c in ts_cols else F.col(c)
                         for c in matrix.columns])
        sample_obs, cv_obs, psi_obs = Observation("sample"), Observation("cv"), Observation("psi")
        noop(matrix.observe(sample_obs, F.collect_list(
            F.when(F.col("conv_id").isin(self._sample(ctx)), row)).alias("rows")))
        noop(cv.observe(cv_obs, F.count(F.lit(1)).alias("all"),
                        F.count(F.when(F.col("split") == "val", 1)).alias("val")))
        noop(psi.observe(psi_obs, F.collect_list(F.struct("fold", "psi")).alias("rows")))
        ctx.state.update(sample=sample_obs.get, cv=cv_obs.get, psi=psi_obs.get,
                         ts_cols=ts_cols)

    def _sample(self, ctx) -> list[str]:
        ids = [f"conv{i:07d}" for i in range(ctx.n_convs)]
        return [c for c in ids if c == MEGA_CONV or zlib.crc32(c.encode()) % SAMPLE_MOD == 0]

    def outputs(self, ctx):
        from pyspark.sql import functions as F

        from kkbox_churn_prediction_spark.operators.asof import asof_join_broadcast_cutoffs
        from kkbox_churn_prediction_spark.operators.leakage import leakage_audit
        from kkbox_churn_prediction_spark.plans.folds import expanding_cutoffs

        sample = pd.DataFrame([r.asDict() for r in ctx.state["sample"]["rows"]])
        for c in ctx.state["ts_cols"]:
            sample[c] = pd.to_datetime(sample[c], unit="us")
        cuts = expanding_cutoffs(self._folds(ctx).select("cutoff_ts").distinct(), max(HORIZONS))
        joined = asof_join_broadcast_cutoffs(ctx.read_turns(), cuts,
                                             lookback_days=cuts["lookback_days"])
        cv = ctx.state["cv"]
        return {
            "sample": sample,
            "psi": pd.DataFrame([r.asDict() for r in ctx.state["psi"]["rows"]]),
            "cv": pd.DataFrame({"split": ["all", "val"], "n": [cv["all"], cv["val"]]}),
            "leaks": leakage_audit(joined).where(F.col("violation_cnt") > 0).toPandas(),
        }

    def reference(self, ctx):
        folds = self._folds(ctx).toPandas()
        sample = self._sample(ctx)
        turns = checks.duck(
            f"SELECT conv_id, turn_idx, role, text, tool, CAST(ts AS TIMESTAMP) AS ts "
            f"FROM read_parquet('{ctx.turns_glob()}') "
            f"WHERE conv_id IN ({', '.join(repr(c) for c in sample)})"
        )
        turns["ts"] = turns["ts"].astype("datetime64[ns]")
        folds["cutoff_ts"] = folds["cutoff_ts"].astype("datetime64[ns]")
        values = checks.duck(
            f"""
            WITH t AS (SELECT conv_id, CAST(ts AS TIMESTAMP) AS ts
                       FROM read_parquet('{ctx.turns_glob()}')),
            e AS (SELECT DISTINCT conv_id FROM t),
            k AS (SELECT * FROM ({_values_sql(folds)}) v(fold, cutoff_ts)),
            c AS (SELECT t.conv_id, k.fold, COUNT(*) AS n FROM t JOIN k
                  ON t.ts < k.cutoff_ts AND t.ts >= k.cutoff_ts - INTERVAL 7 DAY
                  GROUP BY 1, 2)
            SELECT k.fold, COALESCE(c.n, 0) AS value
            FROM e CROSS JOIN k LEFT JOIN c ON c.conv_id = e.conv_id AND c.fold = k.fold
            """
        )
        return {
            "sample": checks.backtest_reference(turns, folds),
            "psi": checks.psi_reference(values, "fold_0", 5.0, 20),
            "cv": checks.cv_reference(N_FOLDS, ctx.n_convs),
        }

    def check(self, got, want):
        return checks.check_backtest(got, want)

    def trace(self, ctx, tr):
        from pyspark.sql import functions as F

        from kkbox_churn_prediction_spark.operators.labels import entity_labels
        from kkbox_churn_prediction_spark.operators.psi import fixed_width_bins, psi_from_bins
        from kkbox_churn_prediction_spark.plans.folds import assign_cv_folds, expanding_cutoffs

        folds = self._folds(ctx)
        cutoffs = folds.select("cutoff_ts").distinct()
        turns = tr.materialize("sources", ctx.read_turns())
        cuts = tr.materialize("sources", expanding_cutoffs(cutoffs, base_lookback_days=max(HORIZONS)))
        _, m = _feature_layers(tr, turns, cuts, cuts.select("cutoff_ts").distinct(),
                               cuts["lookback_days"], full_window=True)
        grid = tr.spans_out["grid"]
        labels = tr.materialize("labels", entity_labels(turns, cutoffs, 3))
        # backtest() takes the raw table; its own step on top of the
        # features and labels is this join (plans/folds.py), traced on
        # their checkpoints so nothing is recomputed
        matrix = tr.materialize("folds", grid.join(labels, ["conv_id", "cutoff_ts"], "inner").join(
            F.broadcast(folds.select("fold", "cutoff_ts")), ["cutoff_ts"], "inner"))
        tr.materialize("folds", assign_cv_folds(matrix.drop("fold"), folds))
        binned = matrix.select("fold", fixed_width_bins(F.col("turn_cnt_7d"), 5.0, 20).alias("bin"))
        tr.materialize("psi", psi_from_bins(binned, "fold", "bin", ref_fold="fold_0"))
        return m | {"labels.rows_out": tr.rows("labels"), "folds.rows_out": tr.rows("folds")}


def _values_sql(folds: pd.DataFrame) -> str:
    rows = [f"('{r.fold}', TIMESTAMP '{r.cutoff_ts}')" for r in folds.itertuples()]
    return "VALUES " + ", ".join(rows)


# ---------------------------------------------------------------------------


class SessionsWindows(Workload):
    """conv_id shuffle/sort/window layer, mega-conversation included."""

    name = "sessions_windows"
    n_convs = 600

    def _outputs_df(self, ctx):
        from kkbox_churn_prediction_spark.operators.history import history_lag_features
        from kkbox_churn_prediction_spark.operators.labels import time_to_next_qualifying_turn
        from kkbox_churn_prediction_spark.operators.lags import lag_lead_features
        from kkbox_churn_prediction_spark.operators.sessionize import (
            session_aggregates,
            sessionize_auto,
        )

        turns = ctx.read_turns()
        return {
            "sessionize": sessionize_auto(turns),
            "sessions": session_aggregates(turns),
            "lags": lag_lead_features(turns),
            "labels": time_to_next_qualifying_turn(turns),
            "history": history_lag_features(turns),
        }

    def op(self, ctx, i):
        for df in self._outputs_df(ctx).values():
            noop(df)

    def outputs(self, ctx):
        from pyspark.sql import functions as F

        d = self._outputs_df(ctx)
        return {
            "sessionize": d["sessionize"].groupBy("conv_id", "session_id").agg(
                F.min("ts").alias("session_start"), F.max("ts").alias("session_end"),
                F.count(F.lit(1)).alias("n_turns")).toPandas(),
            "sessions": d["sessions"].toPandas(),
            "lags": d["lags"].drop("role", "text", "tool", "ts").toPandas(),
            "labels": d["labels"].select("conv_id", "turn_idx", "micros_to_next_qualifying").toPandas(),
            "history": d["history"].toPandas(),
        }

    def reference(self, ctx):
        e, g = ctx.entry_module(), ctx.turns_glob()
        return {
            "sessions": checks.duck(checks.oracle_sql(e, "sessionize", g)),
            "lags": checks.duck(checks.oracle_sql(e, "lag_lead", g)),
            "labels": checks.duck(checks.oracle_sql(e, "turn_labels", g)),
            "history": checks.duck(checks.oracle_sql(e, "history_lags", g)),
        }

    def check(self, got, want):
        return checks.check_sessions(got, want)

    def trace(self, ctx, tr):
        from kkbox_churn_prediction_spark.operators.history import history_lag_features
        from kkbox_churn_prediction_spark.operators.labels import time_to_next_qualifying_turn
        from kkbox_churn_prediction_spark.operators.lags import lag_lead_features
        from kkbox_churn_prediction_spark.operators.sessionize import (
            session_aggregates,
            sessionize_auto,
        )

        turns = tr.materialize("sources", ctx.read_turns())
        sess = tr.call("sessionize", lambda: sessionize_auto(turns))  # eager size pre-pass
        prepass = tr.spans[-1].seconds
        tr.materialize("sessionize", sess)
        tr.materialize("sessionize", session_aggregates(turns))
        sessions_out = tr.rows("sessionize")
        tr.materialize("lags", lag_lead_features(turns))
        tr.materialize("labels", time_to_next_qualifying_turn(turns))
        tr.materialize("history", history_lag_features(turns))
        return {
            "sources.turns": tr.rows("sources"),
            "sessionize.prepass_s": prepass,
            "sessionize.sessions_out": sessions_out,
        }


# ---------------------------------------------------------------------------


class StreamReplay(Workload):
    """Four-day files replayed one per micro-batch through the state UDF
    (``stream_asof_depth``) and the session-window aggregate, together."""

    name = "stream_replay"
    n_convs = 300
    mega_conv = False  # keeps the replay to 5 files

    def after_generate(self, ctx):
        from pyspark.sql import functions as F

        super().after_generate(ctx)
        split = ctx.work / "days_split"
        days = ctx.work / "days"
        shutil.rmtree(split, ignore_errors=True)
        shutil.rmtree(days, ignore_errors=True)
        span = 86400 * SLICE_DAYS
        first_day = F.to_date(F.timestamp_seconds(F.floor(F.unix_timestamp("ts") / span) * span))
        (ctx.read_turns().withColumn("_day", first_day).repartition("_day")
         .sortWithinPartitions("ts").write.partitionBy("_day").parquet(str(split)))
        days.mkdir()
        base = time.time() - 86400
        # one file per slice; the file source picks files up in
        # modification-time order, so stamp them in time order
        for n, d in enumerate(sorted(glob.glob(str(split / "_day=*")))):
            (part,) = glob.glob(d + "/*.parquet")
            dst = days / (os.path.basename(d)[5:] + ".parquet")
            shutil.move(part, dst)
            os.utime(dst, (base + n, base + n))
        shutil.rmtree(split)
        ctx.state["days"] = days
        ctx.state["schema"] = ctx.spark.read.parquet(str(days)).schema

    def _start(self, ctx, which: str, out: Path, src_dir: Path):
        from kkbox_churn_prediction_spark.streaming.asof import stream_asof_depth
        from kkbox_churn_prediction_spark.streaming.sessions import streaming_session_aggs

        src = (ctx.spark.readStream.schema(ctx.state["schema"])
               .option("maxFilesPerTrigger", 1).parquet(str(src_dir)))
        # bounded replay: no state timeout, so every answer is comparable
        # with the batch one (see streaming.asof's contract)
        df = (stream_asof_depth(src.select("conv_id", "ts"), watermark_delay=None)
              if which == "asof" else streaming_session_aggs(src))
        shutil.rmtree(out, ignore_errors=True)
        return (df.writeStream.format("parquet").outputMode("append")
                .option("path", str(out / "data"))
                .option("checkpointLocation", str(out / "checkpoint"))
                .trigger(availableNow=True).start())

    def op(self, ctx, i):
        # both queries run at once, as one session serving both would
        outs = {w: ctx.work / f"stream_{w}" for w in ("asof", "sessions")}
        qs = [self._start(ctx, w, p, ctx.state["days"]) for w, p in outs.items()]
        for q in qs:
            q.awaitTermination()
        ctx.state["outs"] = outs
        ctx.state.setdefault("batches", []).extend(
            p["durationMs"]["triggerExecution"] for q in qs for p in q.recentProgress
            if p["numInputRows"] > 0
        )

    def batch_ms(self, ctx):
        return ctx.state.get("batches")

    def outputs(self, ctx):
        outs = ctx.state["outs"]
        return {
            "depth": checks.duck(f"SELECT * FROM read_parquet('{outs['asof']}/data/*.parquet')"),
            "sessions": checks.duck(
                f"SELECT * FROM read_parquet('{outs['sessions']}/data/*.parquet')"),
        }

    def reference(self, ctx):
        days = ctx.state["days"]
        turns = checks.duck(f"SELECT conv_id, CAST(ts AS TIMESTAMP) AS ts "
                            f"FROM read_parquet('{days}/*.parquet')")
        sessions = checks.duck(checks.oracle_sql(ctx.entry_module(), "sessionize",
                                                 f"{days}/*.parquet"))
        sessions = sessions[["conv_id", "session_start", "session_end", "n_turns", "text_len_sum"]]
        # the watermark (max event time − 1 h) the final batch ran under:
        # set by every file but the last
        last = sorted(days.glob("*.parquet"))[-1]
        before = checks.duck(f"SELECT max(CAST(ts AS TIMESTAMP)) AS m FROM read_parquet("
                             f"{[str(p) for p in sorted(days.glob('*.parquet')) if p != last]})")
        wm = pd.Timestamp(before["m"][0]) - pd.Timedelta(hours=1)
        return {
            "depth": checks.depth_reference(turns),
            "sessions": sessions,
            "closed": checks.closed_sessions(sessions, wm),
        }

    def check(self, got, want):
        return checks.check_stream(got, want)

    def trace(self, ctx, tr):
        tr.materialize("sources", ctx.spark.read.parquet(str(ctx.state["days"])))
        m = {"sources.turns": tr.rows("sources")}
        for which, layer in (("asof", "stream_asof"), ("sessions", "stream_sessions")):
            out = ctx.work / f"traced_{which}"
            q = tr.call(layer, lambda w=which, o=out: _await(self._start(ctx, w, o, ctx.state["days"])))
            tr.stream_groups[str(q.runId)] = layer
            prog = [p for p in q.recentProgress if p["numInputRows"] > 0]
            ops = [p["stateOperators"][0] for p in prog]
            m[f"{layer}.batch_ms"] = _median([p["durationMs"]["triggerExecution"] for p in prog])
            m[f"{layer}.state_rows"] = ops[-1]["numRowsTotal"]
            if layer == "stream_asof":
                m["stream_asof.state_bytes"] = ops[-1]["memoryUsedBytes"]
                m["stream_asof.commit_ms"] = _median([o["commitTimeMs"] for o in ops])
        return m


def _await(q):
    q.awaitTermination()
    return q


def _median(xs):
    import statistics

    return float(statistics.median(xs)) if xs else 0.0


WORKLOADS = {w.name: w for w in (BackfillJob(), BacktestDaily(), SessionsWindows(), StreamReplay())}
