"""Load-invariant plan-regression gate: per-query STRUCTURAL budgets.

Round 6 proved wall-clock comparisons can inflate 1.2-1.8x from external
tenants while the plans stay bit-identical (BASELINE.md r6 variance
investigation), so round-over-round regression checking needs metrics
the machine's load cannot touch. This tool executes every batch registry
query at sf0.001 with the Spark event log on, folds the log into
per-query structure (job count, stage count, task count, shuffle
bytes, input bytes — tracing.summarize_event_log), and compares against
the checked-in budgets in ``tests/structural_budgets.json``:

    python tools/structural_check.py            # check (exit 1 on breach)
    python tools/structural_check.py --update   # re-measure and rewrite

A breach means the PLAN changed — a new exchange shuffling real data or
a stage-count blow-up — and fails pytest via
tests/test_structural_budget.py regardless of how fast the box happens
to be. Slack: jobs and stages may grow by max(2, 50%) (AQE jitter),
shuffle/input bytes by 2x + 64 KiB (compression jitter) before the gate
trips; real regressions (a corpus-sized shuffle appearing where none
was) blow through both.

Streaming entries are excluded: micro-batch jobs launch from the query
thread, not the tagged driver thread, so job-group attribution cannot
see them — their inner batch plans are covered by the plan linter
(planaudit.stream_lint_plans) instead.

Queries run ONCE each, in sorted-name order, sharing one session — the
same shape as a bench pass, so cross-query shared caches (shingles,
k-means fits) land on the same owners in --update and check runs.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUDGETS = os.path.join(ROOT, "tests", "structural_budgets.json")
METRICS = ("jobs", "stages", "tasks", "shuffle_write_bytes", "input_bytes")


def measure(sf_dir: str) -> dict[str, dict[str, int]]:
    sys.path.insert(0, ROOT)
    from minispark_spark import tracing
    from minispark_spark.registry import REGISTRY, _ensure_loaded
    from minispark_spark.session import get_spark

    _ensure_loaded()
    trace_dir = tempfile.mkdtemp(prefix="structural_")
    conf = {"spark.ui.enabled": "false", **tracing.trace_confs(trace_dir)}
    spark = get_spark("structural-check", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    app_id = spark.sparkContext.applicationId
    names = [n for n in sorted(REGISTRY) if not n.startswith("stream_")]
    for name in names:
        with tracing.tagged(spark.sparkContext, name):
            REGISTRY[name].fn(spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
    spark.stop()
    summary = tracing.summarize_event_log(
        tracing._event_log_files(trace_dir, app_id)
    )
    shutil.rmtree(trace_dir, ignore_errors=True)
    return {
        name: {m: int(summary[name][m]) for m in METRICS}
        for name in names
        if name in summary
    }


def allowed(budget: dict[str, int]) -> dict[str, int]:
    return {
        "jobs": budget["jobs"] + max(2, budget["jobs"] // 2),
        "stages": budget["stages"] + max(2, budget["stages"] // 2),
        "tasks": budget["tasks"] * 2 + 32,
        "shuffle_write_bytes": budget["shuffle_write_bytes"] * 2 + 65536,
        "input_bytes": budget["input_bytes"] * 2 + 65536,
    }


def main() -> int:
    update = "--update" in sys.argv
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf_dir = args[0] if args else "/root/testdata/sf0.001"
    measured = measure(sf_dir)
    if update:
        with open(BUDGETS, "w") as f:
            json.dump(
                {"sf_dir": sf_dir, "queries": measured}, f, indent=1, sort_keys=True
            )
        print(f"wrote {BUDGETS}: {len(measured)} queries")
        return 0
    with open(BUDGETS) as f:
        budgets = json.load(f)["queries"]
    breaches, missing = [], []
    for name, got in sorted(measured.items()):
        budget = budgets.get(name)
        if budget is None:
            missing.append(name)
            continue
        cap = allowed(budget)
        for m in METRICS:
            if got[m] > cap[m]:
                breaches.append(
                    f"{name}: {m} {got[m]} > allowed {cap[m]} "
                    f"(budget {budget[m]})"
                )
    for line in breaches:
        print("BREACH", line)
    for name in missing:
        print(f"MISSING budget for {name} — run structural_check.py --update")
    print(
        f"{len(measured)} measured, {len(breaches)} breaches, "
        f"{len(missing)} missing budgets"
    )
    return 1 if breaches or missing else 0


if __name__ == "__main__":
    raise SystemExit(main())
