"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout.  Runs the workload on its fixture table
(``perfbench/fixture/``) in a fresh Spark session (``worker.py``, in a
child process), checks every call against the registry's DuckDB oracle and
prints, as the last line of stdout, one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``.  Both workloads
read fixed fixture tables, so ``--seed`` changes no input; it is recorded.

``--trace 0`` reports the end-to-end metrics, with the hypervisor's steal
taken out of every time (README.md, "Time on a shared host").  ``--trace 1`` launches the
session with the Spark event log on, runs one untraced warm-up pass and
then untraced and traced warm passes in turn (U T U, U T U T U, ...),
times one probe per layer and reports the per-layer metrics;
``trace.overhead_s`` is the mean traced pass minus the mean untraced pass
after the warm-up.  The full
record of every run, with the load, core count and environment it ran
under, is written to ``perfbench/.work/records/``.  See
``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import eventlog  # noqa: E402
from worker import WORKLOADS  # noqa: E402

DEADLINE_S = 170  # the whole invocation
CPUS = "4"
DRIVER_MEM = "3g"

END_TO_END = {
    "work_per_s": "1/s",
    "call_p50_s": "s",
    "cold_s": "s",
    "setup_s": "s",
}

PER_LAYER = {
    "session.start_s": "s",
    "session.peak_rss_mb": "MB",
    "sources.scan_s": "s",
    "sources.input_bytes": "B",
    "kmeans.init_s": "s",
    "kmeans.fit_s": "s",
    "kmeans.iterations": "count",
    "kmeans.iter_ms": "ms",
    "kmeans.jobs_per_iter": "count",
    "kmeans.tasks_per_iter": "count",
    "kmeans.in_job_s": "s",
    "kmeans.driver_gap_s": "s",
    "kmeans.gap_share": "ratio",
    "kmeans.assign_share": "ratio",
    "kmeans.collect_share": "ratio",
    "assign.kernel_s": "s",
    "assign.rows_per_s": "1/s",
    "recompute.collect_s": "s",
    "recompute.shuffle_bytes": "B",
    "dedup.signature_s": "s",
    "dedup.store_write_s": "s",
    "dedup.store_probe_s": "s",
    "dedup.prefix_join_s": "s",
    "dedup.candidate_pairs": "count",
    "dedup.verified_pairs": "count",
    "dedup.verify_yield": "ratio",
    "text.quality_s": "s",
    "curation.decontaminate_s": "s",
    **{
        f"spark.{c}": ("B" if c.endswith("_bytes") else "s" if c.endswith("_s") else "count")
        for c in eventlog.COUNTERS
    },
    "spark.driver_gap_s": "s",
    "trace.overhead_s": "s",
    "host.steal_share": "ratio",
}


def child_env(work: str, trace: bool) -> dict[str, str]:
    """Every environment variable the benchmark sets for a session."""
    tmp = os.path.join(work, "tmp")
    # -XX:-UsePerfData: a JVM would otherwise write /tmp/hsperfdata_<user>
    no_perf_data = "-XX:-UsePerfData"
    submit = ["--driver-java-options", f"-Djava.io.tmpdir={tmp} {no_perf_data}"]
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        for conf in (
            "spark.eventLog.enabled=true",
            f"spark.eventLog.dir=file://{log_dir}",
            "spark.eventLog.compress=false",
        ):
            submit += ["--conf", conf]
    return {
        "SPARK_GRAFT_CPUS": CPUS,
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LAUNCHER_OPTS": no_perf_data,  # the JVM that spark-submit starts first
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "PYSPARK_SUBMIT_ARGS": " ".join(shlex.quote(s) for s in [*submit, "pyspark-shell"]),
    }


def host_cpu_s() -> dict[str, float]:
    """Host-wide busy and stolen CPU seconds so far (first line of /proc/stat)."""
    with open("/proc/stat") as f:
        user, nice, system, _idle, _iowait, irq, softirq, steal = map(int, f.readline().split()[1:9])
    tick = os.sysconf("SC_CLK_TCK")
    return {"busy": (user + nice + system + irq + softirq) / tick, "steal": steal / tick}


def busy_cores(seconds: float = 0.5) -> float:
    """Cores the host kept busy or had stolen over the next ``seconds``."""
    before = host_cpu_s()
    time.sleep(seconds)
    after = host_cpu_s()
    return sum(after[k] - before[k] for k in after) / seconds


def _live_members(pgid: int) -> list[int]:
    """Processes of group ``pgid`` that are not zombies."""
    pids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            pids.append(int(entry))
    return pids


def _stop_session(proc: subprocess.Popen, timeout_s: float = 20.0) -> None:
    """Kill what is left of a session's process group and wait until it is gone."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    end = time.monotonic() + timeout_s
    while _live_members(proc.pid) and time.monotonic() < end:
        time.sleep(0.1)


def run_session(args, work: str, deadline: float) -> dict:
    """One worker process; returns its record plus the conditions it ran under."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    out = os.path.join(work, "record.json")
    env_set = child_env(work, bool(args.trace))
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", str(args.trace), "--work", work, "--out", out,
        "--oracle-cache", os.path.join(HERE, ".work", "oracle-cache"),
    ] + (["--small"] if args.small else [])
    # nothing of ours runs in the windows before and after the session
    busy_before = busy_cores()
    load_before, host_before, t0 = os.getloadavg(), host_cpu_s(), time.monotonic()
    proc = subprocess.Popen(
        cmd, cwd=ROOT, env={**os.environ, **env_set}, start_new_session=True,
        stdout=subprocess.DEVNULL, stderr=subprocess.PIPE, text=True,
    )
    try:
        _, err = proc.communicate(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        raise SystemExit(f"perfbench: session exceeded the {DEADLINE_S} s deadline")
    finally:
        _stop_session(proc)
    if proc.returncode != 0:
        tail = "\n".join(l for l in err.splitlines() if "WARN" not in l)[-4000:]
        raise SystemExit(f"perfbench: session exited with code {proc.returncode}\n{tail}")
    with open(out) as f:
        record = json.load(f)
    load_after, host_after, wall_s = os.getloadavg(), host_cpu_s(), time.monotonic() - t0
    busy_after = busy_cores()
    nproc = len(os.sched_getaffinity(0))
    # CPU the host spent on anything but this session, over the whole run
    foreign_s = host_after["busy"] - host_before["busy"] - sum(record["cpu_s"].values())
    record["env"] = {
        "set": env_set,
        "nproc": nproc,
        "cpu_count": os.cpu_count(),
        "loadavg_before": load_before,
        "loadavg_after": load_after,
        # busy or stolen cores in 0.5 s windows just before and after the
        # session; the load average lags and still holds the last run's load
        "busy_cores_before": busy_before,
        "busy_cores_after": busy_after,
        "loaded_start": busy_before > 0.25,
        "loaded_end": busy_after > 0.25,
        "wall_s": wall_s,
        "foreign_cpu_s": foreign_s,
        "steal_s": host_after["steal"] - host_before["steal"],
        # other processes and the hypervisor took a quarter of a core on average
        "loaded_during": foreign_s + (host_after["steal"] - host_before["steal"]) > 0.25 * wall_s,
    }
    return record


def layer_metrics(rec: dict) -> dict[str, float]:
    """Per-layer metrics from a traced session.  A layer the workload does
    not enter reports 0: every per-layer metric is printed on every
    workload, and these have no bound."""
    m = dict.fromkeys(PER_LAYER, 0.0)
    spark, layers = rec["spark"], rec["layers"]
    m.update(layers["times"])
    m["session.start_s"] = rec["setup"]["session_s"]
    m["session.peak_rss_mb"] = rec["peak_rss"]["python_mb"] + rec["peak_rss"]["jvm_mb"]
    m["sources.input_bytes"] = layers["input_bytes"]
    m["host.steal_share"] = rec["warm_steal_share"]
    traced = [p for p in rec["passes"] if p["traced"]]
    plain = [p for p in rec["passes"][1:] if not p["traced"]]  # after the warm-up
    # traced passes sit between untraced ones: the means, unlike medians,
    # cancel a steady drift
    m["trace.overhead_s"] = statistics.fmean(p["adj_s"] for p in traced) - statistics.fmean(
        p["adj_s"] for p in plain
    )
    # spark.*: summed over one traced warm pass, median over those passes
    per_pass = []
    for p in traced:
        tot = {c: sum(spark[g][c] for g in p["groups"]) for c in eventlog.COUNTERS}
        tot["driver_gap_s"] = p["wall_s"] - tot["in_job_s"]
        per_pass.append(tot)
    for c in per_pass[0]:
        m[f"spark.{c}"] = statistics.median(t[c] for t in per_pass)
    if "iterations" in layers:
        it, t = layers["iterations"], layers["times"]
        fit = spark[layers["groups"]["fit"]]
        gap = t["kmeans.fit_s"] - fit["in_job_s"]
        m.update({
            "kmeans.iterations": it,
            "kmeans.iter_ms": 1000 * t["kmeans.fit_s"] / it,
            "kmeans.jobs_per_iter": fit["jobs"] / it,
            "kmeans.tasks_per_iter": fit["tasks"] / it,
            "kmeans.in_job_s": fit["in_job_s"],
            "kmeans.driver_gap_s": gap,
            "kmeans.gap_share": gap / t["kmeans.fit_s"],
            "kmeans.assign_share": t["assign.kernel_s"] * it / t["kmeans.fit_s"],
            "kmeans.collect_share": t["recompute.collect_s"] * it / t["kmeans.fit_s"],
            "assign.rows_per_s": layers["rows"] / t["assign.kernel_s"],
            "recompute.shuffle_bytes": spark[layers["groups"]["collect"]]["shuffle_write_bytes"],
        })
    else:
        m["dedup.candidate_pairs"] = layers["candidate_pairs"]
        m["dedup.verified_pairs"] = layers["verified_pairs"]
        m["dedup.verify_yield"] = layers["verified_pairs"] / max(1, layers["candidate_pairs"])
    return m


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description="Run one benchmark workload and print its metrics.")
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True, help="recorded; the fixture inputs do not depend on it")
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), required=True)
    p.add_argument("--small", action="store_true", help="self-test input sizes")
    args = p.parse_args(argv)
    # a terminated run still stops its session: SystemExit runs the finally blocks
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    deadline = time.monotonic() + DEADLINE_S
    if not os.path.isfile(os.path.join(ROOT, "k_means_hadoop_spark", "__init__.py")):
        raise SystemExit(f"perfbench: the k_means_hadoop_spark package is not in {ROOT}")

    base = os.path.join(HERE, ".work")
    work = os.path.join(base, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        rec = run_session(args, work, deadline)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    metrics, units = (layer_metrics(rec), PER_LAYER) if args.trace else (rec["metrics"], END_TO_END)

    os.makedirs(os.path.join(base, "records"), exist_ok=True)
    path = os.path.join(base, "records", f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time())}.json")
    with open(path, "w") as f:
        json.dump({"args": vars(args), "metrics": metrics, "session": rec}, f, indent=1)
    env = rec["env"]
    if env["loaded_start"] or env["loaded_end"] or env["loaded_during"]:
        print(
            f"perfbench: ran loaded: {env['busy_cores_before']:.2f} cores busy before,"
            f" {env['busy_cores_after']:.2f} after, of {env['nproc']};"
            f" {env['foreign_cpu_s']:.1f} CPU-s of other processes and"
            f" {env['steal_s']:.1f} CPU-s stolen in {env['wall_s']:.0f} s",
            file=sys.stderr,
        )
    for group, verdict in rec["oracle"].items():
        if verdict != "ok":
            print(f"perfbench: oracle {group}: {verdict}", file=sys.stderr)
    print(f"record: {os.path.relpath(path, ROOT)}")
    print(json.dumps({
        "correct": rec["failed"] == 0,
        "attempted": rec["attempted"],
        "failed": rec["failed"],
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
