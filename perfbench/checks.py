"""Independent references and the comparisons that gate each workload.

Every reference here is computed without Spark: DuckDB runs the oracle
SQL bodies of ``__spark_entry__.oracle_sql()`` (re-pointed from the
events-derived transcript CTE at the generated parquet), and pandas
computes what has no SQL body. The comparisons
take plain pandas frames, so the self-test can feed them perturbed
engine outputs.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

GAP_MICROS = 30 * 60 * 1_000_000  # operators.sessionize default gap


# ---------------------------------------------------------------------------
# comparison
# ---------------------------------------------------------------------------


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    out = df.copy()
    for c in out.columns:
        if pd.api.types.is_datetime64_any_dtype(out[c]):
            s = out[c]
            if getattr(s.dt, "tz", None) is not None:
                s = s.dt.tz_convert("UTC").dt.tz_localize(None)
            out[c] = s.astype("datetime64[us]")
    return out


def compare(got: pd.DataFrame, want: pd.DataFrame, keys: list[str], name: str,
            atol: float = 1e-9) -> list[str]:
    """Problems found comparing an engine output with its reference,
    matched on ``keys``; empty when they agree on every row and cell."""
    missing = [c for c in want.columns if c not in got.columns]
    if missing:
        return [f"{name}: missing columns {missing}"]
    got = _normalize(got[list(want.columns)])
    want = _normalize(want)
    problems = []
    if len(got) != len(want):
        problems.append(f"{name}: {len(got)} rows, reference has {len(want)}")
    if got.duplicated(keys).any():
        problems.append(f"{name}: duplicate keys in output")
    m = want.merge(got, on=keys, how="outer", suffixes=("", "__got"), indicator=True)
    only_ref = int((m["_merge"] == "left_only").sum())
    only_got = int((m["_merge"] == "right_only").sum())
    if only_ref or only_got:
        problems.append(f"{name}: {only_ref} reference rows missing, {only_got} unexpected rows")
    both = m[m["_merge"] == "both"]
    for c in want.columns:
        if c in keys:
            continue
        a, b = both[c], both[c + "__got"]
        if pd.api.types.is_numeric_dtype(a) and pd.api.types.is_numeric_dtype(b):
            bad = ~np.isclose(a.astype("float64"), b.astype("float64"), rtol=0, atol=atol,
                              equal_nan=True)
        else:
            bad = ~((a == b) | (a.isna() & b.isna())).to_numpy()
        if bad.any():
            i = int(np.argmax(bad))
            row = both.iloc[i]
            problems.append(
                f"{name}.{c}: {int(bad.sum())} cells differ, e.g. at "
                f"{[row[k] for k in keys]} got {row[c + '__got']!r}, reference {row[c]!r}"
            )
    return problems


# ---------------------------------------------------------------------------
# DuckDB oracle bodies re-pointed at the generated table
# ---------------------------------------------------------------------------


def oracle_sql(entry_module, name: str, turns_glob: str) -> str:
    """One of ``__spark_entry__``'s oracle bodies with its transcript
    CTE replaced by a scan of the generated parquet (same columns, same
    weekly cutoff rule)."""
    sql = entry_module.oracle_sql()[name]
    cte = f"""
conversations AS (
    SELECT conv_id, turn_idx, role, text, tool, CAST(ts AS TIMESTAMP) AS ts
    FROM read_parquet('{turns_glob}')
),
cutoffs AS (
    SELECT DISTINCT CAST(date_trunc('week', ts) AS TIMESTAMP) + INTERVAL 7 DAY AS cutoff_ts
    FROM conversations
)
"""
    if entry_module._CONV_CTE not in sql:
        raise ValueError(f"oracle body {name!r} does not use the transcript CTE")
    return sql.replace(entry_module._CONV_CTE, cte)


def duck(sql: str) -> pd.DataFrame:
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("SET TimeZone = 'UTC'")
        return con.execute(sql).fetchdf()
    finally:
        con.close()


# ---------------------------------------------------------------------------
# backfill_job
# ---------------------------------------------------------------------------


def check_backfill(got: pd.DataFrame, want: pd.DataFrame, manifest_rows: int,
                   n_convs: int, n_cutoffs: int) -> list[str]:
    problems = compare(got, want, ["conv_id", "cutoff_ts"], "backfill")
    if manifest_rows != n_convs * n_cutoffs:
        problems.append(
            f"manifest: committed {manifest_rows} rows, expected "
            f"{n_convs} convs x {n_cutoffs} cutoffs = {n_convs * n_cutoffs}"
        )
    return problems


# ---------------------------------------------------------------------------
# backtest_daily
# ---------------------------------------------------------------------------


def backtest_reference(turns: pd.DataFrame, folds: pd.DataFrame, label_horizon_days: int = 3,
                       base_lookback_days: int = 7) -> pd.DataFrame:
    """Expanding-lookback backtest rows for the entities in ``turns``:
    the ``oracle.backfill_oracle`` horizon features, whole-window
    aggregates back to (first cutoff − base lookback), recency over
    that window, and next-user-turn labels within the horizon."""
    from kkbox_churn_prediction_spark.oracle import backfill_oracle

    cutoffs = sorted(pd.Timestamp(c) for c in folds["cutoff_ts"])
    feats = backfill_oracle(turns, cutoffs).drop(columns=["micros_since_last_turn"])
    lo = cutoffs[0] - pd.Timedelta(days=base_lookback_days)
    text_len = turns["text"].fillna("").str.len()
    rows = []
    for conv_id, g in turns.assign(text_len=text_len).groupby("conv_id"):
        for c in cutoffs:
            w = g[(g["ts"] < c) & (g["ts"] >= lo)]
            fut = g[(g["role"] == "user") & (g["ts"] > c)
                    & (g["ts"] <= c + pd.Timedelta(days=label_horizon_days))]
            nxt = (fut["ts"].min() - c).value // 1000 if len(fut) else -1
            rows.append({
                "conv_id": conv_id, "cutoff_ts": c,
                "turn_cnt_full": len(w), "text_len_sum_full": int(w["text_len"].sum()),
                "micros_since_last_turn": (c - w["ts"].max()).value // 1000 if len(w) else -1,
                "is_churn": 0 if len(fut) else 1,
                "micros_to_next_qualifying": nxt,
            })
    out = feats.merge(pd.DataFrame(rows), on=["conv_id", "cutoff_ts"])
    return out.merge(folds[["fold", "cutoff_ts"]], on="cutoff_ts")


def psi_reference(values: pd.DataFrame, ref_fold: str, width: float, n_bins: int) -> pd.DataFrame:
    """PSI of each fold's binned ``value`` vs ``ref_fold`` (the
    ``operators.psi`` rule: 1e-6 clip, rounded to 6 places)."""
    b = np.clip(np.floor(values["value"] / width), 0, n_bins - 1).astype(int)
    freq = pd.crosstab(values["fold"], b, normalize="index")
    ref = freq.loc[ref_fold]
    out = []
    for fold in freq.index:
        if fold == ref_fold:
            continue
        a = np.maximum(freq.loc[fold].to_numpy(), 1e-6)
        e = np.maximum(ref.to_numpy(), 1e-6)
        out.append({"fold": fold, "psi": round(float(np.sum((a - e) * np.log(a / e))), 6)})
    return pd.DataFrame(out)


def cv_reference(n_folds: int, n_convs: int) -> pd.DataFrame:
    """Expanding ``assign_cv_folds`` row counts: fold i (i ≥ 1,
    chronological) validates on its own cutoff and trains on the i
    earlier ones, every entity present at every cutoff."""
    val = n_convs * (n_folds - 1)
    train = n_convs * sum(range(1, n_folds))
    return pd.DataFrame({"split": ["all", "val"], "n": [val + train, val]})


def check_backtest(got: dict, want: dict) -> list[str]:
    problems = compare(got["sample"], want["sample"], ["conv_id", "cutoff_ts"], "backtest")
    problems += compare(got["psi"], want["psi"], ["fold"], "psi", atol=1e-6)
    problems += compare(got["cv"], want["cv"], ["split"], "cv_folds")
    if len(got["leaks"]):
        problems.append(f"leakage audit: {len(got['leaks'])} cutoffs with future contributions")
    return problems


# ---------------------------------------------------------------------------
# sessions_windows
# ---------------------------------------------------------------------------

SESSION_KEYS = ["conv_id", "session_id"]
SESSION_ID_COLS = ["conv_id", "session_id", "session_start", "session_end", "n_turns"]


def check_sessions(got: dict, want: dict) -> list[str]:
    problems = compare(got["sessionize"], want["sessions"][SESSION_ID_COLS], SESSION_KEYS,
                       "sessionize_auto")
    problems += compare(got["sessions"], want["sessions"], SESSION_KEYS, "session_aggregates")
    problems += compare(got["lags"], want["lags"], ["conv_id", "turn_idx"], "lag_lead")
    problems += compare(got["labels"], want["labels"], ["conv_id", "turn_idx"], "turn_labels")
    problems += compare(got["history"], want["history"], ["conv_id", "week_start"],
                        "history_lags")
    return problems


# ---------------------------------------------------------------------------
# stream_replay
# ---------------------------------------------------------------------------


def depth_reference(turns: pd.DataFrame) -> pd.DataFrame:
    """Per turn: same-conversation turns strictly earlier, and micros
    since the latest strictly-earlier event time (NaN on the first)."""
    t = turns[["conv_id", "ts"]].copy()
    t["n_prior"] = (t.groupby("conv_id")["ts"].rank(method="min") - 1).astype("int64")
    d = t[["conv_id", "ts"]].drop_duplicates().sort_values(["conv_id", "ts"])
    d["prev"] = d.groupby("conv_id")["ts"].shift()
    t = t.merge(d, on=["conv_id", "ts"])
    t["micros_since_prior"] = (t["ts"] - t["prev"]).dt.total_seconds() * 1e6
    return t.drop(columns=["prev"])


def closed_sessions(sessions: pd.DataFrame, watermark: pd.Timestamp) -> pd.DataFrame:
    """Batch sessions a 30-minute session window has closed once the
    watermark reaches ``watermark`` (window end = last turn + gap)."""
    end = sessions["session_end"] + pd.Timedelta(microseconds=GAP_MICROS)
    return sessions[end <= watermark]


def check_stream(got: dict, want: dict) -> list[str]:
    problems = compare(got["depth"], want["depth"], ["conv_id", "ts"], "stream_asof_depth")
    # the stream emits a session once the watermark closes it: every
    # emitted session must equal its batch twin, and every session the
    # final watermark had closed must have been emitted
    s = _normalize(got["sessions"])
    s["session_end"] = s["session_end"] - pd.Timedelta(microseconds=GAP_MICROS)
    keys = ["conv_id", "session_start"]
    batch = _normalize(want["sessions"])
    emitted = batch.merge(s[keys].drop_duplicates(), on=keys)
    problems += compare(s, emitted, keys, "stream_sessions")
    closed = _normalize(want["closed"])[keys]
    lost = closed.merge(s[keys], on=keys, how="left", indicator=True)
    n_lost = int((lost["_merge"] == "left_only").sum())
    if n_lost:
        problems.append(f"stream_sessions: {n_lost} closed sessions never emitted")
    return problems
