"""One benchmark session for one workload, in a process of its own.

``run.py`` starts this file so that every session launches a cold JVM and
stops it again.  All timing is done here, from outside the program, around
calls into its public functions:

1. set-up: import the program, stage the workload's fixture table into the
   run's directory (three times, the median kept) and start the Spark
   session;
2. the cold pass: the workload's calls once in the fresh session;
3. warm passes, ``--seconds`` divided by ``PASS_S``, rounded, at least
   one; the count does not depend on how fast the
   passes run, so every commit does the same work.  With ``--trace 1`` an
   untraced warm-up pass, then untraced and traced passes in turn, first
   and last untraced;
4. the oracle gate: every call's result against ``registry.ORACLES`` in
   DuckDB, normalised as ``tests/oracle_harness.py`` does (the oracle's
   rows are cached between runs, keyed by SQL, input and DuckDB version);
5. with ``--trace 1``: one timed probe per layer, then the Spark event log
   (the traced passes and the probes) folded into counters per call.

Each call runs under its own job group, cleared when the call returns.
Every call, pass and the set-up are timed on the wall clock and also
steal-adjusted (``steal_share``); the metrics use the adjusted times.  The
record is written as JSON to ``--out``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# the engine's sf0.1 fixture tables, byte for byte (see README.md)
FIXTURE = os.path.join(HERE, "fixture")


@dataclass(frozen=True)
class Workload:
    queries: tuple[str, ...]  # registry query names, one call each per pass
    table: str  # the fixture table the queries read
    rows: int | None  # its first rows that are staged; None: all of them
    small_rows: int  # rows staged in the self-test
    work_item: str  # what work_per_s counts
    items_per_row: int  # work items per input row per call


LLOYD_ITERATIONS = 10  # registry kmeans_lloyd: max_iter=10, tol=0
PASS_S = 5.0  # warm passes per run: --seconds / PASS_S, rounded, at least one

WORKLOADS = {
    "lloyd_fixture": Workload(
        ("kmeans_lloyd",), "embeddings", None, 400, "point-iteration", LLOYD_ITERATIONS
    ),
    "ingest": Workload(
        ("ingest_increment", "dedup_incremental_stored", "dedup_prefix_filter", "dedup_minhash_lsh"),
        "documents",
        2000,
        500,  # the fixture's first near-duplicate pair is within them
        "document",
        1,
    ),
}
for _name, _wl in WORKLOADS.items():
    if len(set(_wl.queries)) != len(_wl.queries):
        raise ValueError(f"workload {_name} names a query twice: {_wl.queries}")


def stage_input(table: str, out_dir: str, n: int | None) -> int:
    """Copy fixture ``table`` into ``out_dir``, cut to its first ``n`` rows
    unless ``n`` is None; returns the rows staged."""
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    src, dst = os.path.join(FIXTURE, f"{table}.parquet"), os.path.join(out_dir, f"{table}.parquet")
    if n is None:
        shutil.copyfile(src, dst)
    else:
        pq.write_table(pq.read_table(src).slice(0, n), dst)
    return pq.read_metadata(dst).num_rows


def peak_rss_mb(pid: int | str = "self") -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def cpu_s(pid: int) -> float:
    """User plus system CPU seconds used so far by process ``pid``."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def host_cpu_s() -> tuple[float, float]:
    """Host-wide (busy, stolen) CPU seconds so far, from /proc/stat."""
    with open("/proc/stat") as f:
        user, nice, system, _idle, _iowait, irq, softirq, steal = map(int, f.readline().split()[1:9])
    tick = os.sysconf("SC_CLK_TCK")
    return (user + nice + system + irq + softirq) / tick, steal / tick


def steal_share(before: tuple[float, float], after: tuple[float, float]) -> float:
    """Share of the CPU time the host's cores asked for between two
    ``host_cpu_s()`` readings that the hypervisor gave to other machines.

    A core accrues steal only while it has work and is not run, so on a
    shared host a span of work takes ``1 / (1 - share)`` times as long as
    it would on cores of its own.  ``seconds * (1 - share)`` is what the
    benchmark reports as a span's time (see README.md)."""
    busy, steal = after[0] - before[0], after[1] - before[1]
    return steal / (busy + steal) if busy + steal > 0 else 0.0


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def scan(df) -> None:
    """Read and decode every column: the largest hash over all of them."""
    from pyspark.sql import functions as F

    df.select(F.xxhash64(*df.columns).alias("h")).agg(F.max("h")).collect()


class Session:
    """The Spark session plus the job-group windows of every call made.

    In a traced run Spark's event-log listener, on from launch, can be
    detached and attached again between passes, so traced and untraced
    passes alternate in one session."""

    def __init__(self, spark, traced: bool):
        self.spark = spark
        self.windows: dict[str, tuple[float, float]] = {}
        self.jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        # per call: wall and steal-adjusted seconds, the steal share, and
        # the CPU seconds of this process plus the JVM
        self.spans: dict[str, dict[str, float]] = {}
        self._event_logger = spark.sparkContext._jsc.sc().eventLogger().get() if traced else None
        self.logging = traced

    def log_events(self, on: bool) -> None:
        if on == self.logging:
            return
        jsc = self.spark.sparkContext._jsc.sc()
        if on:
            jsc.listenerBus().addToEventLogQueue(self._event_logger)
        else:
            jsc.removeSparkListener(self._event_logger)
        self.logging = on

    def call(self, group: str, fn):
        """Run ``fn`` under job group ``group``; return (result, wall seconds).
        The group is cleared afterwards, so that untimed jobs between calls
        are not counted for the last call."""
        sc = self.spark.sparkContext
        sc.setJobGroup(group, group)
        own0, host0 = cpu_s(os.getpid()) + cpu_s(self.jvm_pid), host_cpu_s()
        w0, t0 = time.time(), time.perf_counter()
        try:
            out = fn()
        finally:
            seconds = time.perf_counter() - t0
            share = steal_share(host0, host_cpu_s())
            self.spans[group] = {
                "seconds": seconds,
                "adj_s": seconds * (1 - share),
                "steal_share": share,
                "cpu_s": cpu_s(os.getpid()) + cpu_s(self.jvm_pid) - own0,
            }
            self.windows[group] = (w0, time.time())
            for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
                sc.setLocalProperty(key, None)
        return out, seconds

    def probe(self, name: str, fn, reps: int = 1):
        """Median of ``reps`` calls of ``fn``: (seconds, group of the median call, last result)."""
        runs = []
        for i in range(reps):
            out, seconds = self.call(f"layer:{name}:{i}", fn)
            runs.append((seconds, f"layer:{name}:{i}", out))
        runs_sorted = sorted(runs, key=lambda r: r[0])
        seconds, group, _ = runs_sorted[len(runs) // 2]
        return seconds, group, runs[-1][2]


# ------------------------------------------------------------ oracle gate


def oracle_gate(workload: str, input_dir: str, results: list[dict], cache_dir: str) -> dict[str, str]:
    """Compare every call's result with the registry oracle in DuckDB.

    Returns ``{group: "ok" | reason}``.  ``filter_pushdown`` is disabled
    because DuckDB's planner spends ~30 s on the unrolled 10-iteration
    Lloyd CTE chain with it and ~1 s without; results are identical.

    An oracle's result is a function of its SQL, the input file and the
    DuckDB version alone, so it is kept in ``cache_dir`` under a hash of
    the three: the ``ingest`` oracles take ~30 s, and every run of a
    commit would compute the same rows again."""
    import duckdb
    import pandas as pd

    from k_means_hadoop_spark import registry
    from tests.oracle_harness import _norm

    wl = WORKLOADS[workload]
    input_path = f"{input_dir}/{wl.table}.parquet"
    with open(input_path, "rb") as f:
        input_hash = hashlib.sha256(f.read()).hexdigest()
    con = duckdb.connect()
    con.execute("SET enable_progress_bar=false")
    con.execute("SET disabled_optimizers='filter_pushdown'")
    con.execute(f"CREATE VIEW {wl.table} AS SELECT * FROM '{input_path}'")

    def oracle(sql: str):
        key = hashlib.sha256("\0".join((duckdb.__version__, input_hash, sql)).encode()).hexdigest()
        path = os.path.join(cache_dir, f"{key}.pkl")
        if os.path.exists(path):
            return pd.read_pickle(path)
        df = con.execute(sql).df()
        os.makedirs(cache_dir, exist_ok=True)
        df.to_pickle(f"{path}.{os.getpid()}")
        os.replace(f"{path}.{os.getpid()}", path)
        return df

    def rows(df):
        cols = sorted(df.columns)
        return cols, sorted(tuple(_norm(v) for v in row) for row in df[cols].itertuples(index=False))

    expected = {q: rows(oracle(registry.ORACLES[q])) for q in wl.queries}
    con.close()
    verdicts = {}
    for r in results:
        if r["result"] is None:
            verdicts[r["group"]] = f"call raised: {r['error']}"
            continue
        cols, got = rows(r["result"])
        want_cols, want = expected[r["query"]]
        if cols != want_cols:
            verdicts[r["group"]] = f"schema mismatch: {cols} vs {want_cols}"
        elif len(got) != len(want):
            verdicts[r["group"]] = f"rowcount mismatch: {len(got)} vs {len(want)}"
        elif not got:
            verdicts[r["group"]] = "VACUOUS: both sides returned 0 rows"
        elif got != want:
            diff = [(a, b) for a, b in zip(got, want) if a != b][:3]
            verdicts[r["group"]] = f"value mismatch, first diffs: {diff}"
        else:
            verdicts[r["group"]] = "ok"
    return verdicts


# ------------------------------------------------------------ layer probes


def lloyd_layers(sess: Session, input_dir: str) -> dict:
    from k_means_hadoop_spark.operators.assign import assign_expr
    from k_means_hadoop_spark.operators.kmeans import init_ids, lloyd_kmeans
    from k_means_hadoop_spark.operators.recompute import recompute_centroids
    from k_means_hadoop_spark.registry import SEEDS
    from k_means_hadoop_spark.sources.points import points_from_embeddings

    pts = points_from_embeddings(sess.spark, input_dir)
    scan_s, _, _ = sess.probe("sources.scan", lambda: scan(pts), reps=3)
    init_s, _, cents = sess.probe("kmeans.init", lambda: init_ids(pts, SEEDS))

    def fit():
        res = lloyd_kmeans(pts, cents, max_iter=LLOYD_ITERATIONS)
        noop(res.assignments)
        return res

    fit_s, fit_g, res = sess.probe("kmeans.fit", fit)
    cached = pts.persist()
    cached.count()
    kernel_s, _, _ = sess.probe(
        "assign.kernel", lambda: noop(assign_expr(cached, cents, unroll=False)), reps=3
    )
    d = len(cents[0][1])
    collect_s, collect_g, _ = sess.probe(
        "recompute.collect",
        lambda: recompute_centroids(assign_expr(cached, cents, unroll=False), d=d).collect(),
        reps=3,
    )
    cached.unpersist()
    return {
        "times": {
            "sources.scan_s": scan_s,
            "kmeans.init_s": init_s,
            "kmeans.fit_s": fit_s,
            "assign.kernel_s": kernel_s,
            "recompute.collect_s": collect_s,
        },
        "iterations": res.iterations,
        "rows": pts.count(),
        "input_bytes": os.path.getsize(f"{input_dir}/embeddings.parquet"),
        "groups": {"fit": fit_g, "collect": collect_g},
    }


def ingest_layers(sess: Session, input_dir: str, work_dir: str, last_pass: dict) -> dict:
    """Layer probes over the documents, plus the LSH yield of ``last_pass``
    (``{query: result}`` of the last warm pass)."""
    from pyspark.sql import functions as F

    from k_means_hadoop_spark import registry_pipeline as rp
    from k_means_hadoop_spark.operators import curation, dedup, text
    from k_means_hadoop_spark.partitioning import fan_out

    docs = fan_out(sess.spark.read.parquet(f"{input_dir}/documents.parquet"))
    is_batch = F.col("doc_id") % rp.INCR_BATCH_MOD == rp.INCR_BATCH_REM
    n, thr = rp.NGRAM_N, rp.NGRAM_THRESHOLD
    store = os.path.join(work_dir, "signature_store")
    scan_s, _, _ = sess.probe("sources.scan", lambda: scan(docs), reps=3)
    times = {"sources.scan_s": scan_s}
    times["dedup.signature_s"], _, _ = sess.probe(
        "dedup.signature", lambda: noop(dedup.minhash_signatures(docs, n=n))
    )
    times["dedup.store_write_s"], _, _ = sess.probe(
        "dedup.store_write", lambda: dedup.build_signature_store(docs.filter(~is_batch), store, n=n)
    )
    times["dedup.store_probe_s"], _, _ = sess.probe(
        "dedup.store_probe",
        lambda: dedup.incremental_dedup_from_store(docs.filter(is_batch), store, n=n, threshold=thr).toPandas(),
    )
    times["dedup.prefix_join_s"], _, _ = sess.probe(
        "dedup.prefix_join", lambda: dedup.prefix_filtered_jaccard(docs, n=n, threshold=thr).toPandas()
    )
    times["text.quality_s"], _, _ = sess.probe("text.quality", lambda: noop(text.quality_scores(docs)))
    times["curation.decontaminate_s"], _, _ = sess.probe(
        "curation.decontaminate", lambda: noop(curation.decontaminate_corpus(sess.spark, input_dir))
    )
    cand, exact = last_pass["dedup_minhash_lsh"], last_pass["dedup_prefix_filter"]
    true_pairs = set(zip(exact["a_id"], exact["b_id"]))
    return {
        "times": times,
        "input_bytes": os.path.getsize(f"{input_dir}/documents.parquet"),
        "candidate_pairs": len(cand),
        "verified_pairs": sum(p in true_pairs for p in zip(cand["a_id"], cand["b_id"])),
    }


# ------------------------------------------------------------------- main


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True, help="recorded; the fixture inputs do not depend on it")
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--small", action="store_true", help="self-test input sizes")
    p.add_argument("--work", required=True, help="scratch directory for inputs and logs")
    p.add_argument("--out", required=True, help="path of the JSON record")
    p.add_argument("--oracle-cache", required=True, help="directory of cached oracle results")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    wl = WORKLOADS[args.workload]
    sys.path.insert(0, ROOT)
    host0, t0 = host_cpu_s(), time.perf_counter()
    from k_means_hadoop_spark import registry
    from k_means_hadoop_spark.session import get_spark

    import_s = time.perf_counter() - t0
    input_dir = os.path.join(args.work, "inputs")
    stage_s = []
    for _ in range(3):
        t0 = time.perf_counter()
        n = stage_input(wl.table, input_dir, wl.small_rows if args.small else wl.rows)
        stage_s.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    sess = Session(get_spark(f"perfbench-{args.workload}"), traced=bool(args.trace))
    session_s = time.perf_counter() - t0
    setup_share = steal_share(host0, host_cpu_s())
    sess.log_events(False)

    results: list[dict] = []

    def run_pass(phase: str) -> dict:
        calls = []
        host0, t0 = host_cpu_s(), time.perf_counter()
        for q in wl.queries:
            group = f"{phase}:{q}"
            row = {"query": q, "group": group, "phase": phase, "result": None, "error": None}
            try:
                row["result"], _ = sess.call(group, lambda: registry.QUERIES[q](sess.spark, input_dir).toPandas())
                row.update(sess.spans[group])
            except Exception as exc:  # a failed call is counted, reported, and the run goes on
                traceback.print_exc()
                row["error"] = f"{type(exc).__name__}: {exc}"[:500]
            results.append(row)
            calls.append(row)
        wall_s = time.perf_counter() - t0
        share = steal_share(host0, host_cpu_s())
        return {"phase": phase, "wall_s": wall_s, "adj_s": wall_s * (1 - share), "steal_share": share, "calls": calls}

    cold = run_pass("cold")
    passes = max(1, round(args.seconds / PASS_S))
    if args.trace:
        # an untraced warm-up (the first warm pass is still much slower than
        # the rest), then untraced and traced passes in turn, first and last
        # untraced: a steady drift then cancels out of trace.overhead_s
        passes = 2 + 2 * max(1, passes // 2)
    warm = []
    for i in range(passes):
        traced = bool(args.trace) and i > 0 and i % 2 == 0
        sess.log_events(traced)
        warm.append({**run_pass(f"warm{i + 1}"), "traced": traced})
    jvm_pid = sess.jvm_pid
    rss = {"python_mb": peak_rss_mb(), "jvm_mb": peak_rss_mb(jvm_pid)}

    warm_ok = [c for p in warm for c in p["calls"] if c["error"] is None]
    per_query = [
        statistics.median(c["adj_s"] for c in warm_ok if c["query"] == q)
        for q in wl.queries
        if any(c["query"] == q for c in warm_ok)
    ]
    warm_adj = sum(p["adj_s"] for p in warm)
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "n": n,
        "work_item": wl.work_item,
        "setup": {"import_s": import_s, "stage_s": stage_s, "session_s": session_s, "steal_share": setup_share},
        "warm_passes": len(warm),
        "warm_wall_s": sum(p["wall_s"] for p in warm),
        "warm_adj_s": warm_adj,
        "warm_steal_share": 1 - warm_adj / sum(p["wall_s"] for p in warm),
        "cold": {k: cold[k] for k in ("wall_s", "adj_s", "steal_share")},
        "calls": [{k: v for k, v in c.items() if k != "result"} for c in results],
        "peak_rss": rss,
        "metrics": {
            "work_per_s": n * wl.items_per_row * len(warm_ok) / warm_adj,
            # the queries of a workload differ in cost, so the median of a
            # mixed sample jumps between them; each query's median, combined
            # by geometric mean, moves smoothly with every one of them
            "call_p50_s": statistics.geometric_mean(per_query) if per_query else None,
            "cold_s": cold["adj_s"],
            "setup_s": (import_s + statistics.median(stage_s) + session_s) * (1 - setup_share),
        },
    }

    t0 = time.perf_counter()
    record["oracle"] = oracle_gate(args.workload, input_dir, results, args.oracle_cache)
    record["oracle_s"] = time.perf_counter() - t0
    record["attempted"] = len(results)
    record["failed"] = sum(v != "ok" for v in record["oracle"].values())

    if args.trace:
        sess.log_events(True)
        if args.workload == "lloyd_fixture":
            record["layers"] = lloyd_layers(sess, input_dir)
        else:
            last_pass = {c["query"]: c["result"] for c in warm[-1]["calls"]}
            record["layers"] = ingest_layers(sess, input_dir, args.work, last_pass)
    record["cpu_s"] = {"worker": cpu_s(os.getpid()), "jvm": cpu_s(jvm_pid)}
    sess.spark.stop()
    if args.trace:
        import eventlog

        record["spark"] = eventlog.fold(eventlog.read_events(os.path.join(args.work, "eventlog")), sess.windows)
        record["passes"] = [
            {"traced": p["traced"], "wall_s": p["wall_s"], "adj_s": p["adj_s"], "groups": [c["group"] for c in p["calls"]]}
            for p in warm
        ]
    with open(args.out, "w") as f:
        json.dump(record, f, indent=1, default=str)
    return 0


if __name__ == "__main__":
    sys.exit(main())
