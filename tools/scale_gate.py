"""Per-round scale gate: the sf0.1 → sf1 slope as a GATED artifact
(r10 VERDICT #2).

The r9 q_setsim_join cliff (2,150 s at sf1 from an AQE plan flip) was
invisible at sf0.1 and caught only by an ad-hoc sf1 sweep; r10 proved the
fix at sf1. This tool makes that sweep a once-per-round contract like the
stress rotation: it runs the CORE bench set plus the heavy extended
entries at both scale points (median-of-RUNS, warm-first discipline — see
``measure``'s JIT note), applies a regression rule that
WOULD have flagged the setsim cliff, and writes ``SCALE_GATE_r{N}.json``.

Rules (per query):
  1. **slope rule** — flag when ``time_ratio > max(CAP, SLOPE_K ×
     output_ratio)``. Time may grow super-linearly only when the ANSWER
     does (output-bound joins: q_neardup_embedding's 34× time for 2,389×
     rows is fine; r9 setsim's 330× time for 107× rows is the cliff —
     330 > 2×107 flags, the fixed 132 ≤ 214 passes).
  2. **round-over-round rule** — when a previous SCALE_GATE artifact is
     given via ``--prev``, flag sf1 medians that regressed by more than
     the bench_compare noise model (>1.5× AND >2 s absolute — sub-second
     jitter and environmental drift stay out, a real cliff cannot hide).

Usage:
    python tools/make_sf1.py               # once (fixture is idempotent)
    python tools/scale_gate.py --round 11 [--prev SCALE_GATE_r10.json]
        [--out SCALE_GATE_r11.json] [query ...]
    python tools/scale_gate.py --rotation --round 12
        (r12: FULL-REGISTRY sf1 coverage, the stress-rotation contract
        applied to scale. The registry minus the every-round CORE+heavy
        set is split into 6 deterministic cohorts by name hash; cohort
        ROUND%6 runs the same warm-first median slope measurement and
        rule, the verdicts fold into SCALE_LEDGER.json, and the ledger's
        prior sf1 median is the round-over-round baseline when a cohort
        rotates back 6 rounds later. Run every round and every registered
        query gets an sf1 slope proof at least once per 6 rounds — the
        r9 setsim cliff class can no longer hide in the 352 queries the
        per-round gate never measured. Long-run short-circuit: a run
        past LONG_RUN_S skips the remaining repeats — at that magnitude
        the slope verdict doesn't need median-of-3 precision, and one
        undiscovered cliff must not stall the whole cohort.)

Do NOT run two rotation invocations concurrently: each loads
SCALE_LEDGER.json at start and rewrites it at exit, so the second
writer silently drops the first's entries (last-writer-wins).

Exit status 1 when any query flags — the gate semantic.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMALL = "/root/testdata/sf0.1"
SF_BIG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    ".scaling",
    "sf1",
)
RUNS = int(os.environ.get("SPARK_GRAFT_SLOPE_RUNS", "3"))

# slope rule constants (rationale in the module docstring)
CAP = 20.0
SLOPE_K = 2.0
# round-over-round noise model (tools/bench_compare.py discipline)
PREV_RATIO = 1.5
PREV_ABS_S = 2.0
# rotation mode: cohort count sizes full-registry coverage at ~59
# queries/round (6 rounds to sweep all 391); the long-run short-circuit
# stops repeating a measurement once one run proves the magnitude
N_COHORTS = 6
LONG_RUN_S = float(os.environ.get("SPARK_GRAFT_SLOPE_LONG_RUN_S", "60"))

# Heavy extended entries beyond CORE — the loop/graph/join-heavy operators
# whose plan shape is the 100 TB risk surface.
EXTENDED_HEAVY = [
    "q_pagerank2",
    "q_setsim_join",
    "q_pca_power",
    "q_bfs_reach",
    "q_link_prediction",
    # r12: the other two capped pair generators — their row_number /
    # in-array caps must stay no-ops at sf1's real key cardinalities
    "q_item_item_cosine",
    "q_copurchase",
]


def median(xs: list[float]) -> float:
    xs = sorted(xs)
    return xs[len(xs) // 2]


def run_query(
    registry, spark, name: str, sf_dir: str,
    long_run_s: float | None = None,
) -> tuple[float, int]:
    # rows for the output_ratio come from one UNTIMED count (its plan may
    # prune); the TIMED runs force full execution through a noop-format
    # write — bench.py's discipline. count() alone under-measured
    # map-only queries: q_winnow_fingerprints "proved" a 0.18 s sf1 point
    # that was a pruned scan, none of the sketch work.
    rows = registry[name].build(spark, sf_dir).count()
    runs = []
    for i in range(RUNS):
        t0 = time.perf_counter()
        registry[name].build(spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
        runs.append(time.perf_counter() - t0)
        print(f"# {name} {os.path.basename(sf_dir)} run{i}: "
              f"{runs[-1]:.2f}s", flush=True)
        if long_run_s is not None and runs[-1] > long_run_s:
            break
    return median(runs), rows


def evaluate(rec: dict, prev: dict | None) -> list[str]:
    flags = []
    if rec["time_ratio"] is None:
        # t_small measured as 0 — no usable small-SF baseline; surface it
        # rather than TypeError-ing on the comparison below
        return ["no t_small baseline (sf0.1 time measured as 0)"]
    if rec["time_ratio"] > max(CAP, SLOPE_K * rec["output_ratio"]):
        flags.append(
            f"slope: {rec['time_ratio']:.1f}x time for "
            f"{rec['output_ratio']:.1f}x output exceeds "
            f"max({CAP:.0f}, {SLOPE_K:.0f}*output)"
        )
    # the round-over-round compare is only meaningful between medians
    # taken with the SAME forcing action (count-era baselines measured a
    # prunable plan; the noop-write era measures full execution)
    if prev is not None and prev.get("action") == rec.get("action"):
        p = prev.get("t_big")
        if (
            p
            and rec["t_big"] > p * PREV_RATIO
            and rec["t_big"] - p > PREV_ABS_S
        ):
            flags.append(
                f"regression: sf1 {rec['t_big']:.2f}s vs prev {p:.2f}s "
                f"(> {PREV_RATIO}x and > {PREV_ABS_S}s)"
            )
    return flags


def rotation_cohort(
    names: list[str], exclude: set[str], which: int
) -> list[str]:
    """Deterministic name-hash cohort of the registry minus the
    every-round gate set (stress_oracle's _cohort discipline, 6-way)."""
    return [
        q
        for q in names
        if q not in exclude
        and int(hashlib.md5(q.encode()).hexdigest(), 16) % N_COHORTS == which
    ]


def merge_ledger(
    ledger: dict[str, dict], results: dict[str, dict], round_no: int
) -> dict[str, dict]:
    """Fold one rotation run into the ledger. 'ok' is THIS round's
    verdict; flap history lives in 'last_flap_round' (the stress-ledger
    rule — ANDing across rounds would make one historic flag sticky)."""
    for q, rec in results.items():
        prev = ledger.get(q, {})
        entry = {
            "round": round_no,
            "ok": not rec["flags"],
            "t_small": rec["t_small"],
            "t_big": rec["t_big"],
            "time_ratio": rec["time_ratio"],
            "output_ratio": rec["output_ratio"],
        }
        if rec.get("action"):
            entry["action"] = rec["action"]
        last_flap = prev.get("last_flap_round")
        if rec["flags"]:
            last_flap = round_no
        if last_flap is not None:
            entry["last_flap_round"] = last_flap
        ledger[q] = entry
    return ledger


def measure(registry, spark, name: str, sf_small_warm: bool = True,
            long_run_s: float | None = None,
            prev: dict | None = None) -> dict:
    """One query's slope record: warm at sf0.001, median at both SFs,
    rule verdict against an optional prior sf1 median."""
    if sf_small_warm:
        # warm-first: JIT the whole pipeline on the tiny slice so the sf1
        # first-run cost is the plan's, not the interpreter's
        registry[name].build(spark, "/root/testdata/sf0.001").write.format(
            "noop"
        ).mode("overwrite").save()
    t_small, r_small = run_query(registry, spark, name, SF_SMALL,
                                 long_run_s=long_run_s)
    t_big, r_big = run_query(registry, spark, name, SF_BIG,
                             long_run_s=long_run_s)
    rec = {
        "action": "noop",
        "t_small": round(t_small, 3),
        "t_big": round(t_big, 3),
        "rows_small": r_small,
        "rows_big": r_big,
        "time_ratio": round(t_big / t_small, 2) if t_small else None,
        "output_ratio": round(r_big / r_small, 2) if r_small else 1.0,
    }
    rec["flags"] = evaluate(rec, prev)
    return rec


def rotation(
    round_no: int,
    out_path: str | None,
    only: list[str] | None = None,
    cohort_no: int | None = None,
) -> None:
    from opc2mongodb_spark.queries import REGISTRY
    from opc2mongodb_spark.session import get_spark
    from bench import CORE

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    ledger_path = os.path.join(root, "SCALE_LEDGER.json")
    ledger: dict[str, dict] = {}
    if os.path.exists(ledger_path):
        with open(ledger_path, encoding="utf-8") as f:
            ledger = json.load(f)

    names = sorted(REGISTRY)
    exclude = set(CORE) | set(EXTENDED_HEAVY)
    # --cohort lets a round pre-run FUTURE cohorts (full-registry
    # catch-up) without mislabeling which round did the measuring
    which = cohort_no if cohort_no is not None else round_no % N_COHORTS
    if only:
        # targeted re-measure (post-fix): fold fresh verdicts for the
        # named queries into the ledger without re-running the cohort
        unknown = [q for q in only if q not in REGISTRY]
        if unknown:
            sys.exit(f"not registered: {unknown}")
        cohort = sorted(only)
    else:
        cohort = rotation_cohort(names, exclude, which)
    print(f"scale rotation round={round_no}: "
          f"{'targeted' if only else f'cohort {which}'} -> "
          f"{len(cohort)}/{len(names)} queries "
          f"({len(exclude & set(names))} covered every round by the gate)",
          flush=True)

    spark = get_spark(app_name="scale_rotation")
    results: dict[str, dict] = {}
    all_flags: dict[str, list[str]] = {}
    try:
        for i, name in enumerate(cohort):
            rec = measure(
                REGISTRY, spark, name,
                long_run_s=LONG_RUN_S,
                prev=ledger.get(name),  # prior rotation's sf1 median
            )
            results[name] = rec
            if rec["flags"]:
                all_flags[name] = rec["flags"]
            print(f"## [{i + 1}/{len(cohort)}] {name}: "
                  f"{rec['time_ratio']}x time, "
                  f"{rec['output_ratio']}x output"
                  + (f"  FLAGGED: {rec['flags']}" if rec["flags"] else ""),
                  flush=True)
    finally:
        # a crash mid-cohort still banks the measured prefix
        merge_ledger(ledger, results, round_no)
        with open(ledger_path, "w", encoding="utf-8") as f:
            json.dump(ledger, f, indent=1, sort_keys=True)
        rotatable = [q for q in names if q not in exclude]
        covered = sum(1 for q in rotatable if q in ledger)
        green = sum(1 for q in rotatable if ledger.get(q, {}).get("ok"))
        stale = [
            q for q in rotatable
            if ledger.get(q, {}).get("round", -99) < round_no - (N_COHORTS - 1)
        ]
        print(f"ledger: {covered}/{len(rotatable)} rotatable queries ever "
              f"slope-proven, {green} green, {len(stale)} older than "
              f"{N_COHORTS} rounds, flags this run={len(all_flags)}")
    record = {
        "metric": "scale_rotation",
        "round": round_no,
        "cohort": None if only else which,
        "targeted": sorted(only) if only else None,
        "sf_pair": ["sf0.1", "sf1"],
        "runs_per_point": RUNS,
        "long_run_short_circuit_s": LONG_RUN_S,
        "rule": {
            "slope": f"time_ratio <= max({CAP:.0f}, "
                     f"{SLOPE_K:.0f} * output_ratio)",
            "prev": f"sf1 median <= ledger * {PREV_RATIO} or delta <= "
                    f"{PREV_ABS_S}s",
        },
        "queries": results,
        "flags": all_flags,
        "ok": not all_flags,
    }
    if only:
        default_out = f"SCALE_ROTATION_r{round_no}_targeted.json"
    elif cohort_no is not None:
        default_out = f"SCALE_ROTATION_r{round_no}_c{which}.json"
    else:
        default_out = f"SCALE_ROTATION_r{round_no}.json"
    out = out_path or default_out
    with open(out, "w", encoding="utf-8") as f:
        f.write(json.dumps(record, separators=(",", ":")) + "\n")
    print(json.dumps({"scale_rotation_ok": not all_flags,
                      "flagged": sorted(all_flags)}))
    if all_flags:
        sys.exit(1)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--round", type=int, required=True)
    ap.add_argument("--prev", default=None,
                    help="previous round's SCALE_GATE artifact for the "
                         "round-over-round rule")
    ap.add_argument("--out", default=None)
    ap.add_argument("--rotation", action="store_true",
                    help="run this round's full-registry cohort and fold "
                         "the verdicts into SCALE_LEDGER.json")
    ap.add_argument("--cohort", type=int, default=None,
                    help="with --rotation: run this cohort instead of "
                         "round %% 6 (pre-running future cohorts)")
    ap.add_argument("queries", nargs="*",
                    help="override the CORE+extended-heavy default set")
    args = ap.parse_args()
    if args.rotation:
        if not os.path.isdir(SF_BIG):
            sys.exit("sf1 fixture missing — run tools/make_sf1.py first")
        rotation(args.round, args.out, only=args.queries or None,
                 cohort_no=args.cohort)
        return
    out_path = args.out or f"SCALE_GATE_r{args.round}.json"

    if not os.path.isdir(SF_BIG):
        sys.exit("sf1 fixture missing — run tools/make_sf1.py first")

    from bench import CORE
    from opc2mongodb_spark.queries import REGISTRY
    from opc2mongodb_spark.session import get_spark

    names = args.queries or (CORE + EXTENDED_HEAVY)
    unknown = [n for n in names if n not in REGISTRY]
    if unknown:
        sys.exit(f"not registered: {unknown}")
    prev_q: dict[str, dict] = {}
    if args.prev:
        with open(args.prev, encoding="utf-8") as f:
            prev_q = json.load(f).get("queries", {})

    spark = get_spark(app_name="scale_gate")
    queries: dict[str, dict] = {}
    all_flags: dict[str, list[str]] = {}
    for name in names:
        rec = measure(REGISTRY, spark, name, prev=prev_q.get(name))
        queries[name] = rec
        if rec["flags"]:
            all_flags[name] = rec["flags"]
        print(f"## {name}: {rec['time_ratio']}x time, "
              f"{rec['output_ratio']}x output"
              + (f"  FLAGGED: {rec['flags']}" if rec["flags"] else ""),
              flush=True)

    record = {
        "metric": "scale_gate",
        "round": args.round,
        "sf_pair": ["sf0.1", "sf1"],
        "runs_per_point": RUNS,
        "rule": {
            "slope": f"time_ratio <= max({CAP:.0f}, "
                     f"{SLOPE_K:.0f} * output_ratio)",
            "prev": f"sf1 median <= prev * {PREV_RATIO} or delta <= "
                    f"{PREV_ABS_S}s" + ("" if args.prev else " (no prev)"),
        },
        "queries": queries,
        "flags": all_flags,
        "ok": not all_flags,
    }
    with open(out_path, "w", encoding="utf-8") as f:
        f.write(json.dumps(record, separators=(",", ":")) + "\n")
    print(json.dumps({"scale_gate_ok": not all_flags,
                      "flagged": sorted(all_flags)}))
    if all_flags:
        sys.exit(1)


if __name__ == "__main__":
    main()
