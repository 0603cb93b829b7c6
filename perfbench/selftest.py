"""Self-test of the benchmark's correctness checks.

    python3 perfbench/selftest.py

Run from the repository root. For every workload it runs the operation
once on a small seeded input, confirms the check accepts the real
output, then feeds the check perturbed copies of that output (one row
dropped; one cell changed; a leak row added to an empty audit) and
confirms each one is reported. Also confirms ``BENCHMARK.json`` names
exactly the workloads and metrics ``run.py`` emits. Exits 1 on any
miss.
"""

from __future__ import annotations

import argparse
import copy
import json
import shutil
import sys
from pathlib import Path

import pandas as pd

ROOT = Path(__file__).resolve().parent.parent
SCALE = 0.2  # of each workload's conversation count
SEED = 7


def perturbations(got: dict):
    """(label, perturbed copy) pairs: one per output frame and kind."""
    for key, val in got.items():
        if isinstance(val, int):
            bad = copy.copy(got)
            bad[key] = val + 1
            yield f"{key}: count +1", bad
            continue
        if val.empty:
            bad = copy.copy(got)
            bad[key] = pd.DataFrame([{c: 1 for c in val.columns}])
            yield f"{key}: row added", bad
            continue
        frame = val.sort_values(list(val.columns)).reset_index(drop=True)
        bad = copy.copy(got)
        bad[key] = frame.iloc[1:]
        yield f"{key}: first row dropped", bad
        numeric = [c for c in frame.columns if pd.api.types.is_numeric_dtype(frame[c])]
        col = numeric[-1]
        valid = frame.index[frame[col].notna()]
        row = valid[len(valid) // 3]
        changed = frame.copy()
        changed.loc[row, col] = changed.loc[row, col] + 1
        bad = copy.copy(got)
        bad[key] = changed
        yield f"{key}: {col} at row {row} +1", bad


def check_benchmark_json(run_mod, workloads) -> list[str]:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    problems = []
    names = {w["name"] for w in spec["workloads"]}
    if not names <= set(workloads):
        problems.append(f"BENCHMARK.json workloads {sorted(names - set(workloads))} unknown")
    for key, emitted in (("end_to_end", run_mod.END_TO_END), ("per_layer", run_mod.PER_LAYER)):
        listed = {m["name"]: m["unit"] for m in spec[key]}
        if listed != emitted:
            problems.append(f"BENCHMARK.json {key} differs from run.py: "
                            f"{sorted(set(listed.items()) ^ set(emitted.items()))}")
    return problems


def main(argv=None) -> int:
    argparse.ArgumentParser(description=__doc__).parse_args(argv)
    sys.path.insert(0, str(ROOT))
    from perfbench import run
    from perfbench.harness import make_session, stop_session
    from perfbench.workloads import WORKLOADS, Ctx

    failures = check_benchmark_json(run, WORKLOADS)
    work = ROOT / ".perfbench" / "selftest"
    shutil.rmtree(work, ignore_errors=True)
    spark = make_session(ROOT, work, None)
    try:
        for wl in WORKLOADS.values():
            ctx = Ctx(spark, ROOT, work / wl.name, SEED, SCALE)
            ctx.work.mkdir(parents=True)
            wl.generate(ctx, ctx.work / "turns")
            wl.after_generate(ctx)
            wl.op(ctx, 1)
            got, want = wl.outputs(ctx), wl.reference(ctx)
            clean = wl.check(got, want)
            print(f"{wl.name}: real output -> {'ok' if not clean else clean}")
            if clean:
                failures.append(f"{wl.name}: check rejects the real output: {clean}")
            for label, bad in perturbations(got):
                found = wl.check(bad, want)
                print(f"{wl.name}: {label} -> {'reported' if found else 'MISSED'}"
                      + (f" ({found[0][:100]})" if found else ""))
                if not found:
                    failures.append(f"{wl.name}: perturbation not reported: {label}")
    finally:
        stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    for f in failures:
        print("FAIL", f)
    print("selftest", "failed" if failures else "passed")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
