"""Streaming-CDC benchmark: one command, two closed-loop workloads.

Usage (from the repository root):
    python3 perfbench/run.py --workload cdc_queue|cdc_full_ingest
        --seed N --seconds S --trace 0|1

The values the benchmark pins are constants in ``perfbench/settings.py``.

The seed's feeds are generated here, outside the measured process, and
cached under ``.perfbench/feeds``. The measured process
(``perfbench/workload.py``) then runs in its own session with a pinned
environment: ``SPARK_GRAFT_CPUS`` = the CPUs this process may use, the
repository root on ``PYTHONPATH`` (Python workers import
``stream_cdc_spark``), and fresh state, checkpoint, queue and temp dirs.
While it runs, this process samples the proportional set size (PSS) of
the whole process tree (driver Python, JVM, Python workers).

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``). A traced run also writes all spans
to ``.perfbench/trace/`` and prints each layer's self time.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import feeds  # noqa: E402
import settings as S  # noqa: E402
from tracing import children_s  # noqa: E402

WORK = ".perfbench"
# the measured process's limit; with the clean-up after it, a run ends
# within 180 s even when the measured process hangs
TIMEOUT_S = 150.0
SAMPLE_S = 0.5

END_TO_END = {"setup_s": "s", "throughput_per_s": "1/s",
              "latency_p50_ms": "ms", "peak_pss_mb": "MB"}


def per_layer_units() -> dict[str, str]:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def span_table(spans: list[dict]) -> list[str]:
    """Per span name: count, median wall and median self time (wall minus
    the part its direct children cover), in ms."""
    kids = children_s(spans)
    by: dict[str, list[tuple[float, float]]] = {}
    for s in spans:
        wall = s["end"] - s["start"]
        by.setdefault(s["name"], []).append(
            (1000 * wall, 1000 * (wall - kids.get(s["id"], 0.0))))
    out = [f"  {'span':36s} {'n':>5s} {'wall ms':>10s} {'self ms':>10s}"]
    for name, xs in sorted(by.items()):
        out.append(f"  {name:36s} {len(xs):5d} "
                   f"{statistics.median(x[0] for x in xs):10.1f} "
                   f"{statistics.median(x[1] for x in xs):10.1f}")
    return out


def make_feed(a) -> str:
    cache = os.path.join(WORK, "feeds")
    os.makedirs(cache, exist_ok=True)
    if a.workload == "cdc_queue":
        # warm-up plus enough data for a window of >= 0.3 s triggers
        n_chunks = (S.QUEUE_WARMUP_FILES
                    + int(a.seconds / 0.3 / S.QUEUE_CHUNK_TRIGGERS) + 2)
        params = {"seed": a.seed, "batch_events": S.QUEUE_BATCH_EVENTS,
                  "chunk_triggers": S.QUEUE_CHUNK_TRIGGERS,
                  "n_chunks": n_chunks}
        return feeds.cached(cache, "queue", params,
                            lambda d: feeds.queue_feed(d, **params))
    # warm-up plus enough fold cycles for a window of >= 0.5 s triggers
    cycles = int(a.seconds / 0.5 / S.FOLD_EVERY) + 2
    params = {"seed": a.seed, "docs_per_trigger": S.FULL_DOCS_PER_TRIGGER,
              "n_triggers": S.FULL_WARMUP_TRIGGERS + S.FOLD_EVERY * cycles}
    return feeds.cached(cache, "full", params,
                        lambda d: feeds.full_feed(d, **params))


def tree_pss_kb(root_pid: int) -> int:
    """PSS of ``root_pid`` and all its descendants, in KiB."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            pass
    return total


class PssSampler(threading.Thread):
    """Peak summed PSS of the run's process tree, sampled until the
    measured process reports that the measured phase is over. A sample
    costs ~35 ms of CPU (the JVM's smaps walk), so it runs every
    SAMPLE_S, not faster: the measured process shares the same CPUs."""

    def __init__(self, pid: int, phase_file: str):
        super().__init__(daemon=True)
        self.pid, self.phase_file = pid, phase_file
        self.peak_kb = 0
        self.stop = threading.Event()

    def run(self) -> None:
        while not self.stop.is_set() and not os.path.exists(self.phase_file):
            self.peak_kb = max(self.peak_kb, tree_pss_kb(self.pid))
            self.stop.wait(SAMPLE_S)


def kill_group(pgid: int) -> None:
    """Stop every process of the run's session and wait until none is
    left."""
    deadline = time.time() + 10
    sig = signal.SIGTERM
    while time.time() < deadline:
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        time.sleep(0.5)
        sig = signal.SIGKILL
    print(f"processes of group {pgid} survived SIGKILL", file=sys.stderr)


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["cdc_queue", "cdc_full_ingest"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args()

    if not os.path.isfile(os.path.join("stream_cdc_spark", "__init__.py")):
        print("run from the repository root: stream_cdc_spark/ not found",
              file=sys.stderr)
        return 2

    feed = make_feed(a)
    run_dir = os.path.join(WORK, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    result_file = os.path.join(run_dir, "result.json")
    root = os.getcwd()
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "PYTHONPATH": os.pathsep.join(
            [root] + [x for x in [env.get("PYTHONPATH")] if x]),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "SPARK_LOCAL_DIRS": os.path.abspath(os.path.join(run_dir, "local")),
        "TMPDIR": os.path.abspath(os.path.join(run_dir, "tmp")),
        # spark-submit's launcher JVM would write perf data under /tmp
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
    })
    env.pop("SPARK_GRAFT_MASTER", None)
    cmd = [sys.executable, os.path.join(HERE, "workload.py"),
           "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--feed", feed, "--work", run_dir, "--result", result_file]
    t0 = time.time()
    proc = subprocess.Popen(cmd + ["--t0", repr(t0)], env=env,
                            stdout=sys.stderr, start_new_session=True)
    sampler = PssSampler(proc.pid, os.path.join(run_dir, "phase"))
    sampler.start()
    try:
        rc = proc.wait(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        rc = None
    sampler.stop.set()
    sampler.join()
    kill_group(proc.pid)
    proc.wait()
    if rc != 0 or not os.path.exists(result_file):
        print(f"measured process failed (exit {rc})", file=sys.stderr)
        return 1
    with open(result_file) as f:
        r = json.load(f)
    shutil.rmtree(run_dir, ignore_errors=True)

    correct = r["failed"] == 0
    e2e = dict(r["metrics"], peak_pss_mb=sampler.peak_kb / 1024.0)
    results_dir = os.path.join(WORK, "results")
    os.makedirs(results_dir, exist_ok=True)
    untraced = os.path.join(results_dir, f"{a.workload}-{a.seed}.json")
    if a.trace:
        units = per_layer_units()
        trace_dir = os.path.join(WORK, "trace")
        os.makedirs(trace_dir, exist_ok=True)
        trace_file = os.path.join(trace_dir, f"{a.workload}-{a.seed}.json")
        with open(trace_file, "w") as f:
            json.dump({"layers": r["layers"], "metrics": e2e,
                       "spans": r["spans"]}, f)
        print(f"spans: {trace_file}")
        print("\n".join(span_table(r["spans"])))
        for name, value in sorted(r["layers"].items()):
            print(f"  {name:44s} {value:14.3f} {units.get(name, '')}")
        # tracing overhead: this traced run against the last untraced run
        # of the same workload and seed
        if os.path.exists(untraced):
            with open(untraced) as f:
                base = json.load(f)
            print("tracing overhead (traced / untraced - 1): " + ", ".join(
                f"{k} {e2e[k] / base[k] - 1:+.3f}" for k in END_TO_END
                if base.get(k)))
        metrics = {name: {"value": float(r["layers"].get(name, 0.0)),
                          "unit": unit} for name, unit in units.items()}
    else:
        with open(untraced, "w") as f:
            json.dump(e2e, f)
        metrics = {name: {"value": float(e2e[name]), "unit": unit}
                   for name, unit in END_TO_END.items()}
        print(f"{a.workload}: window {r['window_s']:.2f} s, "
              f"{r['samples']} triggers")
    print(json.dumps({"correct": correct, "attempted": int(r["attempted"]),
                      "failed": int(r["failed"]), "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
