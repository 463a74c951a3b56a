"""The repo benchmark: one workload per invocation, end-to-end metrics by
default, per-layer metrics with --trace 1.

    python3 perfbench/run.py --workload text_interleaved --seed 1 --seconds 10 --trace 0

Load model: closed loop, one client (this process) submitting one job at a
time on local[nproc] with the engine's own session config (`get_spark`).
The inputs are generated here, before anything is timed, and cached per
(workload, seed) under .perfbench_cache/. A run then

  1. sets up K times: session start, then a first, untimed job over the
     input (python-worker spawn, codegen, the cost-balancing token probe,
     and JIT warm-up for the reps); the first set-up counts from process
     start, minus input generation;
  2. repeats the full job until --seconds have passed (at least MIN_REPS),
     sampling the RSS of its whole process tree from a thread;
  3. runs the job once more, untimed, and compares its output with the
     oracle (`workloads.check`); any wrong document fails the run.

The last stdout line is one JSON object: correct/attempted/failed plus the
end-to-end metrics (--trace 0) or the per-layer metrics (--trace 1, see
trace.py). The lines before it are the human-readable report, including the
window record (nproc, steal, load, thread pins, versions).
"""

from __future__ import annotations

import time

T_PROCESS = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
CACHE = ROOT / ".perfbench_cache"
PINS = {k: "1" for k in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS",
                         "MKL_NUM_THREADS", "NUMEXPR_NUM_THREADS")}
SETUPS = 3
MIN_REPS = 3
JVM_MEM = "1g"

E2E_UNITS = {"docs_per_s": "docs/s", "setup_s": "s", "peak_rss_mb": "MB"}


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(v) for v in f.readline().split()[1:]]


class TreeRss(threading.Thread):
    """Peak summed RSS of the processes this one started and their
    descendants (the Spark JVM and the python workers), sampled every
    `period` seconds. The benchmark's own process is left out: it holds the
    generated inputs and the oracle's expectations, not engine state."""

    def __init__(self, period: float = 0.05):
        super().__init__(daemon=True)
        self.period, self.peak, self._done = period, 0, threading.Event()
        self.page = os.sysconf("SC_PAGE_SIZE")

    def _sample(self) -> int:
        children: dict[int, list[int]] = {}
        rss: dict[int, int] = {}
        for p in os.listdir("/proc"):
            if not p.isdigit():
                continue
            try:
                with open(f"/proc/{p}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
                with open(f"/proc/{p}/statm") as f:
                    rss[int(p)] = int(f.read().split()[1]) * self.page
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(p))
        total, todo = 0, list(children.get(os.getpid(), []))
        while todo:
            pid = todo.pop()
            total += rss.get(pid, 0)
            todo.extend(children.get(pid, []))
        return total

    def run(self) -> None:
        while not self._done.is_set():
            self.peak = max(self.peak, self._sample())
            self._done.wait(self.period)

    def stop(self) -> int:
        self._done.set()
        self.join()
        return self.peak


def parse_args():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def isolate_env(scratch: Path) -> None:
    """Every temp/shuffle file of the JVM and the python workers inside the
    checkout; the JVM heap cap unless the caller set one."""
    tmp = scratch / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(scratch / "spark-local")
    os.environ.setdefault("SPARK_DRIVER_MEM", JVM_MEM)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    opts = os.environ.get("SPARK_SUBMIT_OPTS", "")
    os.environ["SPARK_SUBMIT_OPTS"] = (
        f"{opts} -Djava.io.tmpdir={tmp} -XX:-UsePerfData "
        f"-Dderby.system.home={tmp}").strip()


def start_session(cores: int):
    from ner_ocr_spark.session import get_spark

    spark = get_spark(app_name="perfbench", master=f"local[{cores}]",
                      shuffle_partitions=cores,
                      extra={"spark.ui.showConsoleProgress": "false",
                             "spark.sql.warehouse.dir": os.environ["TMPDIR"]})
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def setup_once(w, d, cores, spark=None):
    """(session, get_spark seconds, first-job seconds). Stops `spark` first;
    the token probe cache is cleared so every set-up pays for it."""
    from ner_ocr_spark.operators import balance

    import workloads

    if spark is not None:
        spark.stop()
    balance._token_cache.clear()
    t0 = time.monotonic()
    spark = start_session(cores)
    t1 = time.monotonic()
    workloads.make_job(w, spark, d)()
    return spark, t1 - t0, time.monotonic() - t1


def window_open() -> dict:
    return {"cpu": _cpu_times(), "load1": os.getloadavg()[0]}


def window_close(win: dict, spark) -> dict:
    import duckdb
    import pyspark

    end = _cpu_times()
    delta = [b - a for a, b in zip(win["cpu"], end)]
    steal = delta[7] if len(delta) > 7 else 0
    return {
        "nproc": nproc(),
        "steal_pct": round(100.0 * steal / max(sum(delta), 1), 3),
        "load1_at_start": win["load1"],
        "pins": PINS,
        "pyspark": pyspark.__version__,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "duckdb": duckdb.__version__,
    }


def stop_jvm() -> None:
    """End the JVM this process launched (and with it the python worker
    daemon it forked) and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()  # the gateway server exits on stdin EOF
    gateway.proc.wait(timeout=60)


def main() -> int:
    args = parse_args()
    os.environ.update(PINS)  # before numpy loads, here and in the workers
    sys.path.insert(0, str(ROOT))
    import ner_ocr_spark.pipeline  # noqa: F401 — fails outside a checkout

    import workloads

    if args.workload not in workloads.WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; "
                         f"choose from {sorted(workloads.WORKLOADS)}")
    w = workloads.WORKLOADS[args.workload]
    t_imports = time.monotonic() - T_PROCESS
    win = window_open()
    d, expected = workloads.prepare(w, args.seed, CACHE)
    cores = nproc()
    scratch = CACHE / f"run-{os.getpid()}"
    isolate_env(scratch)

    try:
        spark, gs, fj = setup_once(w, d, cores)
        setups = [(t_imports + gs, fj)]
        for _ in range(SETUPS - 1):
            spark, gs, fj = setup_once(w, d, cores, spark)
            setups.append((gs, fj))
        job = workloads.make_job(w, spark, d)

        rss = TreeRss()
        rss.start()
        walls: list[float] = []
        t_measure = time.monotonic()
        while len(walls) < MIN_REPS or time.monotonic() - t_measure < args.seconds:
            t0 = time.monotonic()
            job()
            walls.append(time.monotonic() - t0)
        peak = rss.stop()

        layers, wrong = None, 0
        if args.trace:
            import tracing

            layers, spark, wrong = tracing.traced_run(
                w, spark, d, scratch, expected, job, walls, setups, cores,
                args.seed, CACHE)
        try:
            result = workloads.check(w, spark, d, expected)
        except Exception:  # noqa: BLE001 — a job that raises fails all it attempted
            traceback.print_exc()
            result = {"attempted": expected["spans"], "failed": expected["spans"],
                      "wrong_docs": w.n_docs}
        result["wrong_docs"] += wrong
        window = window_close(win, spark)
        spark.stop()
    finally:
        stop_jvm()
        shutil.rmtree(scratch, ignore_errors=True)

    med = statistics.median(walls)
    e2e = {
        "docs_per_s": w.n_docs / med,
        "setup_s": statistics.median(a + b for a, b in setups),
        "peak_rss_mb": peak / 2**20,
    }
    failed_frac = result["failed"] / max(result["attempted"], 1)
    print(f"workload {w.name} seed {args.seed}: {w.n_docs} docs, "
          f"{expected['spans']} spans, {expected['pages']} pages "
          f"({expected['oversize']} oversize); {len(walls)} reps, "
          f"median rep {med:.3f} s")
    print("reps_s " + " ".join(f"{x:.3f}" for x in walls))
    print("setups_s " + " ".join(f"{a:.3f}+{b:.3f}" for a, b in setups))
    for k, v in e2e.items():
        print(f"{k:<14} {v:12.4f} {E2E_UNITS[k]}")
    print(f"{'failed_frac':<14} {failed_frac:12.6f} ratio")
    print(f"{'wrong_docs':<14} {result['wrong_docs']:12d} count")
    print("window " + json.dumps(window, sort_keys=True))
    print("check " + json.dumps(result, sort_keys=True))
    if layers is not None:
        for k in sorted(layers):
            print(f"layer {k:<34} {layers[k]['value']:.6g} {layers[k]['unit']}")
    metrics = layers if layers is not None else {
        k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
    correct = result["wrong_docs"] == 0
    print(json.dumps({"correct": correct, "attempted": int(result["attempted"]),
                      "failed": int(result["failed"]), "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
