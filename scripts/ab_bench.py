"""Interleaved same-window A/B between two repo checkouts (round-3
verdict #4): BENCH_r03 showed four sub-0.5 s queries 13-18% slower than
BENCH_r02 in the driver's window while the builder's idle-box run showed
them at-or-faster — consistent with documented hypervisor-steal variance,
but "almost certainly noise" is not evidence. This script alternates
A-code and B-code subprocesses within ONE window (so both arms sample the
same box conditions), min-of-N per (arm, query), and reports the paired
deltas plus the window's /proc/stat steal.

The --perfbench mode is the interleaved A/B for the repo benchmark: it
runs `perfbench/run.py --workload W --seed s` (for BENCHMARK.json's
run_seconds) in checkout A and checkout B once per seed, swapping which
arm goes first in every other pair, and reports each end-to-end metric's
per-arm median and quartiles, the fraction of pairs B wins, and the
window's steal %.

Usage:
  python scripts/ab_bench.py <repoA> <repoB> [reps]          # parent
  python scripts/ab_bench.py --child <repo> <query> [...]    # internal
  python scripts/ab_bench.py --perfbench <repoA> <repoB> --workload W
      [--seeds 1-10]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
DEFAULT_QUERIES = os.environ.get(
    "AB_QUERIES",
    "minhash_pairs,cosine_topk,quality_features,token_count",
).split(",")


def child(repo: str, queries: list[str]) -> None:
    sys.path.insert(0, repo)
    import __spark_entry__ as entry
    from ner_ocr_spark.session import get_spark

    spark = get_spark(app_name="ab-bench", master=f"local[{CPUS}]",
                      shuffle_partitions=CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry.queries()
    out: dict[str, float] = {}
    for name in queries:
        mk = qs[name]
        mk(spark, SF_DIR).write.format("noop").mode("overwrite").save()  # warm
        t0 = time.monotonic()
        mk(spark, SF_DIR).write.format("noop").mode("overwrite").save()
        out[name] = time.monotonic() - t0
    print("AB_RESULT " + json.dumps(out))
    spark.stop()


def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(v) for v in f.readline().split()[1:]]


def _steal_pct(cpu0: list[int]) -> float:
    """Share of all CPU time since `cpu0` = _cpu_times() that was stolen."""
    delta = [b - a for a, b in zip(cpu0, _cpu_times())]
    steal = delta[7] if len(delta) > 7 else 0
    return round(100.0 * steal / max(sum(delta), 1), 3)


def parent(repo_a: str, repo_b: str, reps: int) -> None:
    samples: dict[str, dict[str, list[float]]] = {
        "A": {q: [] for q in DEFAULT_QUERIES},
        "B": {q: [] for q in DEFAULT_QUERIES},
    }
    cpu0 = _cpu_times()
    for i in range(reps):
        for arm, repo in (("A", repo_a), ("B", repo_b)):
            p = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--child", repo]
                + DEFAULT_QUERIES,
                capture_output=True, text=True, timeout=600,
            )
            line = [ln for ln in p.stdout.splitlines()
                    if ln.startswith("AB_RESULT ")]
            if not line:
                print(f"arm {arm} iter {i} FAILED:\n{p.stderr[-2000:]}")
                sys.exit(1)
            got = json.loads(line[0][len("AB_RESULT "):])
            for q, v in got.items():
                samples[arm][q].append(v)
            print(f"iter {i} arm {arm}: "
                  + " ".join(f"{q}={v:.3f}" for q, v in got.items()))
    report = {"reps": reps, "sf": SF_DIR, "cpus": CPUS,
              "window_steal_pct": _steal_pct(cpu0), "queries": {}}
    for q in DEFAULT_QUERIES:
        a, b = samples["A"][q], samples["B"][q]
        report["queries"][q] = {
            "A_min": round(min(a), 3), "B_min": round(min(b), 3),
            "B_over_A": round(min(b) / min(a), 3),
            "A_spread": round(max(a) / min(a), 2),
            "B_spread": round(max(b) / min(b), 2),
        }
    print(json.dumps(report, indent=2))


def _seeds(spec: str) -> list[int]:
    """'1-10' or '1,2,5' -> seed list."""
    if "-" in spec:
        lo, hi = spec.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(x) for x in spec.split(",")]


def _perfbench_run(repo: str, workload: str, seed: int, seconds: float) -> dict:
    """One `perfbench/run.py` run in `repo`; its last stdout line (JSON)."""
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=repo, capture_output=True, text=True, timeout=1800,
    )
    lines = p.stdout.strip().splitlines()
    try:
        return json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        sys.exit(f"{repo} seed {seed} FAILED (rc {p.returncode}):\n"
                 f"{p.stderr[-2000:]}")


def perfbench_ab(repo_a: str, repo_b: str, workload: str,
                 seeds: list[int]) -> None:
    """Interleaved A/B of the repo benchmark: one A run and one B run per
    seed, the first arm alternating, so both arms sample the same window.
    Run length and metric directions come from A's BENCHMARK.json."""
    with open(os.path.join(repo_a, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = bench["run_seconds"]
    better = {m["name"]: m["better"] for m in bench["end_to_end"]}
    runs: dict[str, list[dict]] = {"A": [], "B": []}
    cpu0 = _cpu_times()
    for i, seed in enumerate(seeds):
        order = [("A", repo_a), ("B", repo_b)]
        if i % 2:
            order.reverse()
        for arm, repo in order:
            out = _perfbench_run(repo, workload, seed, seconds)
            runs[arm].append(out)
            vals = {k: round(v["value"], 3) for k, v in out["metrics"].items()}
            print(f"seed {seed} arm {arm}: correct={out['correct']} "
                  f"failed={out['failed']} {json.dumps(vals)}", flush=True)
    report = {
        "workload": workload, "seeds": seeds, "seconds": seconds,
        "first_arm": ["A" if i % 2 == 0 else "B" for i in range(len(seeds))],
        "window_steal_pct": _steal_pct(cpu0),
        "all_correct": all(r["correct"] for arm in runs.values() for r in arm),
        "failed": {arm: sum(r["failed"] for r in rs) for arm, rs in runs.items()},
        "metrics": {},
    }
    for name, direction in better.items():
        a = [r["metrics"][name]["value"] for r in runs["A"]]
        b = [r["metrics"][name]["value"] for r in runs["B"]]
        sign = 1 if direction == "higher" else -1
        wins = sum(1 for x, y in zip(a, b) if sign * (y - x) > 0)
        a1, am, a3 = statistics.quantiles(a, n=4, method="inclusive")
        b1, bm, b3 = statistics.quantiles(b, n=4, method="inclusive")
        report["metrics"][name] = {
            "better": direction,
            "A_median": round(am, 4), "A_q1": round(a1, 4), "A_q3": round(a3, 4),
            "B_median": round(bm, 4), "B_q1": round(b1, 4), "B_q3": round(b3, 4),
            "B_over_A": round(bm / am, 4) if am else None,
            "B_wins": wins, "pairs": len(a), "win_frac": round(wins / len(a), 3),
            # the claim gate: the median moves by more than A's IQR
            "median_delta_over_A_iqr": (
                round(abs(bm - am) / (a3 - a1), 3) if a3 > a1 else None),
            "A": [round(x, 4) for x in a], "B": [round(x, 4) for x in b],
        }
    for name, m in report["metrics"].items():
        print(f"{name}: A median {m['A_median']} [{m['A_q1']}, {m['A_q3']}] "
              f"B median {m['B_median']} [{m['B_q1']}, {m['B_q3']}] "
              f"B wins {m['B_wins']}/{m['pairs']}; "
              f"|dmedian|/IQR(A) {m['median_delta_over_A_iqr']}")
    print(f"window steal {report['window_steal_pct']}%")
    print(json.dumps(report, indent=2))


def main_perfbench(argv: list[str]) -> None:
    ap = argparse.ArgumentParser(prog="ab_bench.py --perfbench")
    ap.add_argument("repo_a")
    ap.add_argument("repo_b")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10",
                    help="'1-10' or '3,7,11' (at least 10 for a claim)")
    args = ap.parse_args(argv)
    perfbench_ab(os.path.abspath(args.repo_a), os.path.abspath(args.repo_b),
                 args.workload, _seeds(args.seeds))


if __name__ == "__main__":
    if len(sys.argv) >= 2 and sys.argv[1] == "--perfbench":
        main_perfbench(sys.argv[2:])
    elif len(sys.argv) >= 3 and sys.argv[1] == "--child":
        child(sys.argv[2], sys.argv[3:] or DEFAULT_QUERIES)
    else:
        repo_a, repo_b = sys.argv[1], sys.argv[2]
        parent(repo_a, repo_b, int(sys.argv[3]) if len(sys.argv) > 3 else 5)
