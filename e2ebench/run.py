"""End-to-end benchmark of the engine: the paced SMA service, an outage
catch-up drain and an sf0.1 query suite.

Usage (from the repository root):

    python3 e2ebench/run.py --workload sma_paced --seed 1 --seconds 15 --trace 0

Prints host sizing, then as its last line one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``. ``--trace 0``
reports the end-to-end metrics of ``BENCHMARK.json``; ``--trace 1`` runs
the workload once traced and then once untraced, and reports its
per-layer metrics. See ``e2ebench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import threading

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import spans  # noqa: E402
import stats  # noqa: E402
import workloads as wl  # noqa: E402

WORKLOADS = ("sma_paced", "sma_catchup", "query_suite")
RUN_DIR = os.path.join(ROOT, ".e2ebench_run")


# ---------------------------------------------------------------------------
# Host
# ---------------------------------------------------------------------------

def _mem_total_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("no MemTotal in /proc/meminfo")


def host_conf(run_dir: str) -> tuple[dict, dict]:
    """Size the session from the host through the engine's own knobs:
    task threads = usable cores, driver heap an eighth of physical memory
    (1-4 GiB) pinned as the initial heap, every local and temp dir inside
    the run dir. Returns (spark conf, host record)."""
    cpus = len(os.sched_getaffinity(0))
    heap_mb = min(4096, max(1024, _mem_total_mb() // 8))
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_mb}m",
        "SPARK_LOCAL_DIRS": tmp,
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
    })
    conf = {
        "spark.driver.extraJavaOptions": f"-Xms{heap_mb}m -Djava.io.tmpdir={tmp}",
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.hadoop.hadoop.tmp.dir": tmp,
        "spark.ui.showConsoleProgress": "false",
    }
    return conf, {"cpus": cpus, "mem_total_mb": _mem_total_mb(), "driver_heap_mb": heap_mb,
                  "local_dir": os.path.relpath(tmp, ROOT)}


def traced_conf(conf: dict, run_dir: str) -> dict:
    """``conf`` plus an uncompressed event log inside the run dir."""
    log_dir = os.path.join(run_dir, "eventlog")
    os.makedirs(log_dir, exist_ok=True)
    return {**conf, "spark.eventLog.enabled": "true", "spark.eventLog.compress": "false",
            "spark.eventLog.dir": log_dir}


class RssSampler(threading.Thread):
    """Peak resident memory of this process, its JVM and the JVM's Python
    workers: the sum over those processes of each one's own peak
    (``VmHWM``), sampled every 0.5 s. Helper processes the JVM spawns to
    run shell commands are left out: until they exec, they share the JVM's
    memory and would count it twice. So is the child that makes the
    suite's tables and oracles, which has ended before the JVM starts."""

    WORKERS = ("pyspark.daemon", "pyspark.worker")

    def __init__(self) -> None:
        super().__init__(daemon=True)
        self.peaks: dict[int, float] = {os.getpid(): 0.0}
        self.names: dict[int, str] = {os.getpid(): "runner"}
        self._halt = threading.Event()

    def _counted(self, pid: int) -> bool:
        if pid in self.peaks:
            return True
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if gateway is not None and pid == gateway.proc.pid:
            name = "jvm"
        else:
            try:
                with open(f"/proc/{pid}/cmdline", "rb") as fh:
                    cmd = fh.read().decode(errors="replace")
            except OSError:
                return False
            if not any(w in cmd for w in self.WORKERS):
                return False
            name = "python_workers"
        self.peaks[pid], self.names[pid] = 0.0, name
        return True

    def descendants(self) -> list[int]:
        parent = {}
        for pid in filter(str.isdigit, os.listdir("/proc")):
            try:
                with open(f"/proc/{pid}/stat") as fh:
                    parent[int(pid)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
        tree, frontier = [], [os.getpid()]
        while frontier:
            pid = frontier.pop()
            tree.append(pid)
            frontier += [c for c, p in parent.items() if p == pid]
        return tree

    def sample(self) -> None:
        for pid in filter(self._counted, self.descendants()):
            try:
                with open(f"/proc/{pid}/status") as fh:
                    kb = next(int(line.split()[1]) for line in fh if line.startswith("VmHWM:"))
            except (OSError, StopIteration):
                continue
            self.peaks[pid] = max(self.peaks[pid], kb / 1024.0)

    def by_name(self) -> dict[str, float]:
        out: dict[str, float] = {}
        for pid, mb in self.peaks.items():
            out[self.names[pid]] = out.get(self.names[pid], 0.0) + mb
        return out

    def run(self) -> None:
        while not self._halt.wait(0.5):
            self.sample()

    def stop(self) -> float:
        self._halt.set()
        self.join()
        self.sample()
        return sum(self.peaks.values())


def stop_jvm() -> None:
    """End the JVM that PySpark launched (and the Python workers under it)
    and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - a JVM that will not exit is killed
            proc.kill()
            proc.wait()


# ---------------------------------------------------------------------------
# Passes
# ---------------------------------------------------------------------------

def run_pass(b: wl.Bench, workload: str, tag: str, prep) -> wl.Pass:
    if workload == "sma_paced":
        p = wl.sma_paced(b, tag)
    elif workload == "sma_catchup":
        p = wl.sma_catchup(b, tag)
    else:
        p = wl.query_suite(b, tag, prep)
    b.stop()
    return p


def end_to_end(p: wl.Pass, rss_mb: float) -> dict:
    return {
        "setup_s": stats.median(p.setup_s),
        "peak_rss_mb": rss_mb,
        "latency_ms": p.latency_ms,
        "throughput_per_s": p.throughput_per_s,
    }


def per_layer(b: wl.Bench, root: dict, p: wl.Pass, declared: list[str]) -> dict:
    """Per-layer metrics of the traced pass. A layer the workload does not
    go through reads 0."""
    tr, timed = b.tracer, p.timed
    m = dict.fromkeys(declared, 0.0)
    m["session.get_spark_s"] = stats.median(
        [s["end"] - s["start"] for s in tr.spans if s["layer"] == "session"])
    m.update(p.layers)
    if p.query:
        spans.batch_spans(tr, p.query, p.progress, timed["id"])

    spans.job_spans(tr, spans.read_event_log(b.conf["spark.eventLog.dir"]))
    by_id = {s["id"]: s for s in tr.spans}
    for s in tr.spans:
        if s["layer"] != "spark":
            continue
        job, anc = s["job"], spans.ancestors(s, by_id)
        if timed["id"] not in {a["id"] for a in anc}:
            continue
        q = next((a for a in anc if a["layer"] == "queries"), None)
        if q is not None and q["phase"] != "timed":
            continue  # a query run left out for host CPU steal
        for k in ("executor_run_ms", "executor_cpu_ms", "gc_ms", "deserialize_ms",
                  "scheduler_gap_ms", "shuffle_write_bytes", "spill_bytes", "tasks"):
            m[f"spark.{k}"] += job[k]
        if q is not None:
            fam, reps = q["family"], wl.SUITE_RUNS[q["query"]]
            m[f"queries.{fam}.jobs"] += 1 / reps
            m[f"queries.{fam}.stages"] += job["stages"] / reps
            m[f"queries.{fam}.tasks"] += job["tasks"] / reps
            m["io.scan_tasks"] += job["scan_tasks"] / reps
            for k in ("python_init_ms", "python_run_ms", "python_bytes_sent", "python_bytes_returned"):
                m[f"functions.{fam}.{k}"] += job[k] / reps
    for s in tr.spans:
        if s["layer"] == "io":
            m["io.load_table_ms"] += 1000.0 * (s["end"] - s["start"])
        elif s["layer"] == "queries" and s.get("phase") == "timed":
            kind = "build_ms" if s["name"].endswith(".build") else "exec_ms"
            m[f"queries.{s['family']}.{kind}"] += (1000.0 * (s["end"] - s["start"])
                                                   / wl.SUITE_RUNS[s["query"]])
    for q, family in wl.SUITE:
        c = p.census.get(q)
        if c:
            m[f"plans.{family}.data_exchanges"] += c["data"]
            m[f"plans.{family}.broadcast_exchanges"] += c["broadcast"]
            m[f"plans.{family}.single_exchanges"] += c["single"]

    selfs = spans.self_times([s for s in tr.spans if s["trace"] == root["trace"]])
    for layer, ms in selfs.items():
        if f"self_ms.{layer}" in m:
            m[f"self_ms.{layer}"] = ms
    m["trace.residual_ms"] = selfs.get("bench", 0.0)
    return m


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seconds < 1:
        ap.error("--seconds must be at least 1")

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    declared = [m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]]

    shutil.rmtree(RUN_DIR, ignore_errors=True)
    os.makedirs(RUN_DIR)
    steal = wl.StealClock()
    steal.start()
    rss = RssSampler()
    rss.start()
    try:
        conf, host = host_conf(RUN_DIR)
        bench = wl.Bench(RUN_DIR, args.seed, args.seconds,
                         traced_conf(conf, RUN_DIR) if args.trace else conf,
                         spans.Tracer(bool(args.trace)), steal)
        bench.mark("start")
        prep = wl.prepare_suite(bench) if args.workload == "query_suite" else None
        bench.mark("prepared")
        with bench.tracer.span("run", "bench") as root:
            p = run_pass(bench, args.workload, "pass", prep)
        bench.mark("stopped")
        rss_mb = rss.stop()
        t0 = bench.marks["start"]
        print("detail " + json.dumps({
            "setup_cold_s": p.setup_cold_s, "warm_setups_s": p.setups,
            "timed_samples_ms": p.samples,
            "peak_rss_mb_by_process": rss.by_name(),
            "phase_end_s": {k: round(t - t0, 2) for k, t in bench.marks.items()},
        }), flush=True)
        if args.trace:
            metrics = per_layer(bench, root, p, declared)
            # The tracing overhead: the traced pass against an untraced pass
            # of the same workload, run after it in the same JVM. That pass
            # starts warm, so the figure leans high.
            bench.conf, bench.tracer = conf, spans.Tracer(False)
            ref = run_pass(bench, args.workload, "untraced", prep)
            metrics["trace.overhead_pct"] = 100.0 * (p.latency_ms / ref.latency_ms - 1.0)
            p.attempted, p.failed = p.attempted + ref.attempted, p.failed + ref.failed
        else:
            metrics = end_to_end(p, rss_mb)
    finally:
        stop_jvm()
        steal.stop()

    host["steal_pct"] = 100.0 * stats.steal_share(steal.readings, steal.readings[0][0],
                                                  steal.readings[-1][0])
    print("host " + json.dumps(host), flush=True)
    if set(metrics) != set(declared):
        raise RuntimeError(f"metrics differ from BENCHMARK.json: {sorted(set(metrics) ^ set(declared))}")
    shutil.rmtree(RUN_DIR, ignore_errors=True)
    print(json.dumps({
        "correct": p.failed == 0,
        "attempted": p.attempted,
        "failed": p.failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in declared},
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
