"""CDC benchmark: one workload, one seed, one JSON result line.

    python3 cdcbench/run.py --workload catchup --seed 1 --seconds 10 --trace 0

Run from the repository root. Feeds are written by the package's generator
(``sources.changelog.write_feed``, through ``cdcbench/gen.py``) in a child
process and cached under ``.cdcbench/`` per (workload, seed, sizes); the
engine process receives only files. The run starts a
``local[N]`` session, where N defaults to the CPUs in this process's
affinity mask, warms it with one full-size ingest, measures for
``--seconds``, then reads the finished table back, checks it against the
DuckDB oracle and checks point lookups against the same oracle.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` makes the same
untraced measurement, then repeats it in a new session with spans and the
Spark event log on, drives the layers one by one, and prints the per-layer
metrics instead, with tracing overhead (traced minus untraced) and, for
catchup, local[1] -> local[N] scaling efficiency. ``--selftest`` shows that the oracle
gate fails a table with one corrupted row.

The last stdout line is ``{"correct", "attempted", "failed", "metrics"}``;
the line before it records the CPUs the run had and, for the measured
window, the JVM's collection time and the memory readings. A wrong final table
prints ``"correct": false`` and exits 1.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".cdcbench")
LOOKUPS = 4  # point lookups checked per run, one of them on an absent key
WARM_SCANS = 2  # untimed scans of the warmup table, in set-up
SCANS = 3  # timed scans of the finished table (read.scan_s)

END_TO_END = {
    "setup_s": "s",
    "events_per_s": "1/s",
    "core_s_per_mevent": "s",
    "lag_p50_s": "s",
    "lag_p90_s": "s",
    "memory_mb": "MB",
}


def weighted_quantile(values, weights, q: float) -> float:
    pairs = sorted(zip(values, weights))
    total = sum(w for _, w in pairs)
    acc = 0.0
    for v, w in pairs:
        acc += w
        if acc >= q * total:
            return v
    return pairs[-1][0]


def cpu_budget(requested: int | None) -> dict:
    """The CPUs this run may use. A request above the affinity mask exits:
    ``taskset`` and ``local[N]`` would both accept it and silently run on
    fewer CPUs than the result claims."""
    mask = len(os.sched_getaffinity(0))
    cores = mask if requested is None else requested
    if not 1 <= cores <= mask:
        sys.exit(f"asked for {cores} cores; the affinity mask holds {mask}")
    return {"nproc": os.cpu_count(), "affinity": mask, "local": f"local[{cores}]", "cores": cores}


def start_spark(cores: int, event_log: str | None = None):
    """A ``local[cores]`` session. Every call sets the event-log switch
    explicitly: a session restarted in the same JVM would otherwise inherit
    the first session's settings."""
    from mysql_secure_agent_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
        "spark.eventLog.enabled": "true" if event_log else "false",
    }
    if event_log:
        os.makedirs(event_log)
        conf["spark.eventLog.dir"] = "file://" + event_log
        conf["spark.eventLog.compress"] = "false"
    return get_spark(app_name="cdcbench", cores=cores, extra_conf=conf)


def stop_jvm() -> None:
    """End the JVM the sessions ran in and wait for it: it exits when its
    stdin closes, which would otherwise happen only after this process."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)


def pick_keys(files: list[str], present: dict, seed: int) -> list[tuple[str, int]]:
    """Lookup keys: keys of random events that exist in the final table
    (so a Zipf feed yields Zipf-hot keys) plus keys that were never written."""
    import numpy as np
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed + 104729)
    events = [r for f in files for r in pq.read_table(f, columns=["conv_id", "turn_idx"]).to_pylist()]
    n_absent = 1
    keys: list[tuple[str, int]] = []
    for i in rng.permutation(len(events)):
        k = (events[i]["conv_id"], events[i]["turn_idx"])
        if k in present and k not in keys:
            keys.append(k)
            if len(keys) == LOOKUPS - n_absent:
                break
    keys += [(f"x{int(c):08d}", int(t)) for c, t in
             zip(rng.integers(0, 10**8, n_absent), rng.integers(0, 32, n_absent))]
    return [keys[i] for i in rng.permutation(len(keys))]


def scan(spark, table) -> None:
    """One full ``read()`` of ``table`` to Spark's noop sink: the reconcile
    runs, nothing is collected."""
    table.read(spark).write.format("noop").mode("overwrite").save()


def warm_reads(spark, table) -> None:
    """Scans of the warmup table, so the scan's query shape is compiled
    before the finished table's scans are timed."""
    for _ in range(WARM_SCANS):
        scan(spark, table)


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


class JvmStats:
    """Garbage-collection time and heap use of the driver JVM, read from
    its management beans."""

    def __init__(self, spark):
        self.mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory

    def gc_s(self) -> float:
        return sum(b.getCollectionTime() for b in self.mf.getGarbageCollectorMXBeans()) / 1e3

    def heap_used_mb(self) -> float:
        return self.mf.getMemoryMXBean().getHeapMemoryUsage().getUsed() / 2**20


def settle(spark) -> None:
    """Full GC in the JVM and in Python before the measured window, so it
    starts from the same heap state on every run instead of inheriting the
    warmup's garbage."""
    import gc

    gc.collect()
    spark.sparkContext._jvm.System.gc()


def check(spark, wl, seed: int) -> dict:
    """Read the finished table back, compare it with the oracle, check
    point lookups against the oracle, then time ``SCANS`` scans of the
    table (median: ``scan_s``). Lookup and scan times are kept for the
    traced run only (``read.*``). The lookup path was still getting faster
    after 40 calls, far more than a run can afford to warm it. The scan of
    catchup's small table is latency-bound: over 5-10 runs of one commit
    the quartile distance of its median read 0.14-0.58 of the median, also
    after 16 warm scans, with the JVM's compiler still busy during each
    scan."""
    from cdcbench import oracle

    files = wl.expected_files()
    want = oracle.expected(files)
    got = wl.table.read(spark).toArrow()
    present = oracle.as_dict(want)
    keys = pick_keys(files, present, seed)
    lookup_s, wrong = [], 0
    for conv_id, turn in keys:
        t0 = time.time()
        ans = wl.table.lookup(spark, {"conv_id": conv_id, "turn_idx": turn}).toArrow()
        lookup_s.append(time.time() - t0)
        exp = present.get((conv_id, turn))
        wrong += oracle.rows(ans) != ([] if exp is None else [exp])
    scans = []
    for _ in range(SCANS):
        t0 = time.perf_counter()
        scan(spark, wl.table)
        scans.append(time.perf_counter() - t0)
    n_files = sum(len(e) for e in wl.table.commit_at().files.values())
    return {"scan_s": statistics.median(scans), "scans": scans, "table_files": n_files,
            "lookup_s": lookup_s, "wrong": wrong, "keys": keys,
            "bad_rows": oracle.mismatches(got, want)}


def window_metrics(w, chk: dict) -> dict:
    return {
        "events_per_s": statistics.median(w.rates),
        "core_s_per_mevent": statistics.median(w.cpu_per_mevent),
        "lag_p50_s": statistics.median(weighted_quantile(s, n, 0.5) for s, n in w.lags),
        "lag_p90_s": statistics.median(weighted_quantile(s, n, 0.9) for s, n in w.lags),
        "scan_s": chk["scan_s"],
    }


def run(args, host: dict, inputs: str, manifest: dict, t_start: float) -> dict:
    """Set up, measure for ``args.seconds``, check; then, with ``--trace 1``,
    the traced measurement."""
    from cdcbench.proctree import MemorySampler
    from cdcbench.trace import Tracer
    from cdcbench.workloads import WORKLOADS

    work = os.path.join(WORK, "run")
    shutil.rmtree(work, ignore_errors=True)
    spark = start_spark(host["cores"])
    try:
        wl = WORKLOADS[args.workload](spark, inputs, manifest, os.path.join(work, "timed"), Tracer())
        wl.warmup()
        warm_reads(spark, wl.table)
        setup_s = time.time() - t_start
        settle(spark)
        jvm = JvmStats(spark)
        gc0, t0 = jvm.gc_s(), time.time()
        with MemorySampler(jvm_pid()) as mem:
            w = wl.measure(args.seconds)
        window_s, gc_s = time.time() - t0, jvm.gc_s() - gc0
        # the heap the engine still holds: the first collection frees the
        # Java objects whose Python proxies were collected, the second what
        # Spark's cleaner released in between
        settle(spark)
        time.sleep(1)
        settle(spark)
        retained = jvm.heap_used_mb()
        chk = check(spark, wl, args.seed)
    finally:
        spark.stop()
    metrics = {"setup_s": setup_s, **window_metrics(w, chk),
               "memory_mb": mem.python_peak_mb + retained}
    # not gated: the collector's share of the window, and the parts of
    # memory_mb next to the tree's peak, which counts the JVM's garbage
    window = {"window_s": window_s, "jvm_gc_s": gc_s, "gc_share": gc_s / window_s,
              "python_pss_peak_mb": mem.python_peak_mb, "jvm_heap_retained_mb": retained,
              "tree_peak_mb": mem.tree_peak_mb}
    print(f"setup {setup_s:.1f}s, {w.ingests} ingests measured, events/s "
          f"{[round(r) for r in w.rates]}", file=sys.stderr)
    return {
        "correct": chk["bad_rows"] == 0,
        "attempted": w.ingests + 1 + len(chk["keys"]),
        "failed": chk["wrong"],
        "metrics": metrics,
        "layers": traced(args, host, inputs, manifest, work, metrics) if args.trace else {},
        "oracle_mismatches": chk["bad_rows"],
        "ingests": w.ingests,
        "window": window,
        "scans": chk["scans"],
        "table_files": chk["table_files"],
    }


def traced(args, host: dict, inputs: str, manifest: dict, work: str, untraced: dict) -> dict:
    """The same measurement again in a new session of the same JVM, with the
    Spark event log on and spans recorded, followed by the layer drivers.
    Tracing overhead is this measurement minus the untraced one; the JVM is
    warmer here, which the warmup ingest before it mostly evens out."""
    from cdcbench import gen, layers
    from cdcbench.trace import EventLog, Tracer
    from cdcbench.workloads import WORKLOADS

    tracer = Tracer()
    log_dir = os.path.join(work, "eventlog")
    spark = start_spark(host["cores"], log_dir)
    try:
        wl = WORKLOADS[args.workload](spark, inputs, manifest, os.path.join(work, "traced"), tracer)
        wl.warmup()
        warm_reads(spark, wl.table)
        settle(spark)
        tracer.enabled = True
        w = wl.measure(args.seconds)
        chk = check(spark, wl, args.seed)
        if chk["bad_rows"] or chk["wrong"]:
            raise RuntimeError("the traced run's table or lookups disagree with the oracle")
        out = dict(w.extra)
        for name, value in window_metrics(w, chk).items():
            out[f"trace.overhead.{name}"] = value - untraced[name]
        out["read.lookup_p50_s"] = statistics.median(chk["lookup_s"])
        out["read.scan_s"] = chk["scan_s"]
        out.update(layers.read_plan(wl.table, chk["keys"], tracer))
        out.update(layers.table_layers(spark, wl.table))
        if args.workload == "catchup":
            n_buckets = wl.table.commit_at(resolve=False).n_buckets
            out.update(layers.catchup_phases(spark, os.path.join(inputs, "feed"), n_buckets, tracer))
            binlog, bman = gen.binlog_files(spark, args.seed, os.path.join(WORK, "cache"))
            out.update(layers.binlog_phase(spark, binlog, tracer))
    finally:
        spark.stop()
    log = EventLog.read(log_dir)
    out.update(layers.from_spans(tracer, log))
    if args.workload == "catchup":
        out["binlog.rows_per_core_s"] = layers.decode_rate(log, tracer.named("phase.binlog_decode")[0],
                                                           bman["n_events"])
        # local[1] in a new session of the same JVM, warmed by one drain
        # as the local[N] side was
        spark = start_spark(1)
        try:
            one = WORKLOADS["catchup"](spark, inputs, manifest, os.path.join(work, "one"), Tracer())
            one.warmup()
            rate1 = one.measure(0).rates[0]
        finally:
            spark.stop()
        out["scaling_eff_1to4"] = untraced["events_per_s"] / (host["cores"] * rate1)
    return out


def selftest(host: dict) -> int:
    """Drain a small feed, check it passes the gate, corrupt one row through
    a merge, and check the gate now fails."""
    import pandas as pd

    from cdcbench import gen, oracle
    from mysql_secure_agent_spark.lake import LakeTable
    from mysql_secure_agent_spark.schemas import CHANGELOG_SCHEMA, PRIMARY_KEY, TRANSCRIPT_SCHEMA
    from mysql_secure_agent_spark.sources.changelog import FeedSpec
    from mysql_secure_agent_spark.streaming import CdcPipeline

    work = os.path.join(WORK, "selftest")
    shutil.rmtree(work, ignore_errors=True)
    spec = FeedSpec(n_events=5_000, n_convs=200, max_turns=8, seed=11)
    files = [os.path.join(work, f) for f in
             gen.write_checked_feed(os.path.join(work, "feed"), spec, 2, work)]
    want = oracle.expected(files)
    spark = start_spark(host["cores"])
    try:
        table = LakeTable.create(os.path.join(work, "table"), TRANSCRIPT_SCHEMA, PRIMARY_KEY)
        CdcPipeline(table, os.path.join(work, "feed")).run_stream(spark, os.path.join(work, "ckpt"))
        clean = oracle.mismatches(table.read(spark).toArrow(), want)
        df = pd.concat(pd.read_parquet(f) for f in files)
        row = df[df["op"] != "D"].iloc[[-1]].copy()
        row["op"], row["text"] = "U", row["text"] + " corrupted"
        row["source_lsn"] = int(df["source_lsn"].max()) + 1
        table.merge(spark, spark.createDataFrame(row, schema=CHANGELOG_SCHEMA), "corrupt")
        corrupted = oracle.mismatches(table.read(spark).toArrow(), want)
    finally:
        spark.stop()
    ok = clean == 0 and corrupted > 0
    print(json.dumps({"selftest": "ok" if ok else "FAILED", "clean_mismatches": clean,
                      "corrupted_mismatches": corrupted}))
    return 0 if ok else 1


def main() -> int:
    t_start = time.time()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=["catchup", "tail"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--cores", type=int, help="local[N]; default: the affinity mask's CPU count")
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args()
    host = cpu_budget(args.cores)

    sys.path.insert(0, ROOT)
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    # the Spark driver heap that bench.py gives: 2 GiB per core
    os.environ["SPARK_DRIVER_MEMORY"] = f"{2 * host['cores']}g"
    if args.workload is None and not args.selftest:
        ap.error("--workload is required")
    try:
        if args.selftest:
            return selftest(host)
        from cdcbench import gen

        t_gen = time.time()
        inputs, manifest = gen.ensure(args.workload, args.seed, os.path.join(WORK, "cache"))
        res = run(args, host, inputs, manifest, t_start + (time.time() - t_gen))
    finally:
        stop_jvm()
    if args.trace:
        from cdcbench.layers import PER_LAYER

        out = {k: {"value": float(res["layers"].get(k, 0.0)), "unit": u} for k, (u, _) in PER_LAYER.items()}
    else:
        out = {k: {"value": float(res["metrics"][k]), "unit": u} for k, u in END_TO_END.items()}
    info = {"host": host, "seed": args.seed, "ingests": res["ingests"],
            "oracle_mismatches": res["oracle_mismatches"],
            "window": {k: round(v, 4) for k, v in res["window"].items()},
            "scans_s": [round(v, 3) for v in res["scans"]], "table_files": res["table_files"]}
    if args.trace:
        from cdcbench.layers import NOT_RUN

        info["not_measured"] = NOT_RUN[args.workload]
    print(json.dumps(info))
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": out}))
    return 0 if res["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
