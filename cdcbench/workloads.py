"""The benchmark's workloads, driven through the engine's public API.

Each workload warms the JVM with one full-size ingest of its generated
files, then ingests for the measured window. It leaves one finished
``LakeTable`` (``table``) plus the changelog files whose replay must equal
it (``expected_files``).

* ``Catchup``        a backlog drained by ``CdcPipeline.run_stream`` with
                     the pipeline's defaults, once per drain into a fresh table.
* ``Tail``           an open loop: a thread renames segments into the feed
                     directory on a fixed schedule while
                     ``CdcPipeline.run_stream_continuous`` applies them.
"""

from __future__ import annotations

import os
import shutil
import threading
import time
from dataclasses import dataclass, field

import numpy as np

from .proctree import tree_cpu_s


@dataclass
class Window:
    """What one workload measured in its window."""

    rates: list[float] = field(default_factory=list)  # events/s per ingest
    cpu_per_mevent: list[float] = field(default_factory=list)  # process-tree CPU-s
    # per drain or stream: (release -> visible per sample, events per sample)
    lags: list[tuple[list[float], list[float]]] = field(default_factory=list)
    ingests: int = 0
    extra: dict = field(default_factory=dict)


def lineage(spark, table) -> list[tuple[int, int, int, float]]:
    """(version, rows_in, lsn_max, committed_at) per merge, version order,
    from the table's lineage metrics and commit metadata."""
    m = table.metrics(spark)
    if m is None:
        return []
    rows = (
        m.filter("batch_id <> 'NOP' AND version IS NOT NULL")
        .select("version", "rows_in", "lsn_max")
        .collect()
    )
    return sorted(
        (r.version, r.rows_in or 0, r.lsn_max or 0, table.commit_at(r.version, resolve=False).committed_at)
        for r in rows
    )


def _fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    return path


class Catchup:
    """A backlog drained by ``run_stream`` with the pipeline's defaults. Each
    drain starts from an empty table; the window repeats whole drains."""

    name = "catchup"

    def __init__(self, spark, inputs: str, manifest: dict, work: str, tracer):
        self.spark, self.inputs, self.manifest = spark, inputs, manifest
        self.work, self.tracer = work, tracer
        self.table = None

    def _new_table(self, tag: str):
        from mysql_secure_agent_spark.lake import LakeTable
        from mysql_secure_agent_spark.schemas import PRIMARY_KEY, TRANSCRIPT_SCHEMA

        return LakeTable.create(
            _fresh(os.path.join(self.work, tag, "table")),
            TRANSCRIPT_SCHEMA, PRIMARY_KEY, overwrite=True,
        )

    def warmup(self) -> None:
        self.table = self._new_table("warm")
        self._drain(self.table, os.path.join(self.work, "warm"))

    def measure(self, seconds: float) -> Window:
        """Whole drains only: another starts while one as long as the last
        still ends inside the window; the first always runs."""
        w = Window()
        t_end = time.time() + seconds
        while True:
            tag = f"d{w.ingests}"
            table = self._new_table(tag)
            cpu0 = tree_cpu_s()
            t0 = time.time()
            self._drain(table, os.path.join(self.work, tag))
            t1 = time.time()
            cpu = tree_cpu_s() - cpu0
            merges = lineage(self.spark, table)
            wall = merges[-1][3] - t0
            n = sum(r[1] for r in merges)
            w.rates.append(n / wall)
            w.cpu_per_mevent.append(cpu / n * 1e6)
            # a backlog is released all at once, when the drain starts
            w.lags.append(([c - t0 for _, _, _, c in merges], [rows for _, rows, _, _ in merges]))
            w.ingests += 1
            if self.table is not None:
                shutil.rmtree(self.table.root, ignore_errors=True)
            self.table = table
            if time.time() + (t1 - t0) > t_end:
                return w

    def expected_files(self) -> list[str]:
        return [os.path.join(self.inputs, f) for f in self.manifest["files"]]

    def _drain(self, table, tag_dir: str) -> None:
        from mysql_secure_agent_spark.streaming import CdcPipeline

        pipe = CdcPipeline(table, os.path.join(self.inputs, "feed"))
        self.tracer.wrap(pipe, "apply_batch", "pipeline.apply_batch")
        self.tracer.wrap(table, "merge", "lake.merge")
        with self.tracer.span("pipeline.stream"):
            pipe.run_stream(self.spark, _fresh(os.path.join(tag_dir, "ckpt")))


class Tail:
    """Open loop. Segments are released at ``RATE`` per second from the
    window's start whether or not the pipeline keeps up, and each segment's
    lag runs from its scheduled release, so a stall also delays the
    segments queued behind it.

    The rate keeps the backlog flat on the commit that defined this
    benchmark (4 CPUs): a micro-batch takes about 2.5 s and absorbs the ~15
    segments released meanwhile, well below ``MAX_FILES_PER_TRIGGER``, and
    lag stays level from the first segments to the last. At 13/s the
    backlog grew through the window and at 10/s it grew while the JVM was
    still warming; 5/s gave no steadier lag than 6/s."""

    name = "tail"
    RATE = 6.0  # segments per second; 100 events each
    TRIGGER_S = 0.5
    MAX_FILES_PER_TRIGGER = 64
    MAX_RUNTIME_S = 120

    def __init__(self, spark, inputs: str, manifest: dict, work: str, tracer):
        self.spark, self.inputs, self.manifest = spark, inputs, manifest
        self.work, self.tracer = work, tracer
        self.table = None
        self.released: list[str] = []
        self.busy_s = 0.0  # time spent in apply_batch by the last _run

    def _run(self, tag: str, segments: list[str]):
        """Stream ``segments`` into a fresh table on the open-loop schedule.
        Returns (table, due times, actual release times)."""
        from mysql_secure_agent_spark.lake import LakeTable
        from mysql_secure_agent_spark.schemas import PRIMARY_KEY, TRANSCRIPT_SCHEMA
        from mysql_secure_agent_spark.streaming import CdcPipeline

        base = os.path.join(self.work, tag)
        stage = _fresh(os.path.join(base, "stage"))
        feed = _fresh(os.path.join(base, "feed"))
        os.makedirs(stage)
        os.makedirs(os.path.join(feed, "data"))
        staged = []
        for i, rel in enumerate(segments):
            dst = os.path.join(stage, f"seg-{i:05d}.parquet")
            shutil.copyfile(os.path.join(self.inputs, rel), dst)
            staged.append(dst)
        table = LakeTable.create(
            _fresh(os.path.join(base, "table")), TRANSCRIPT_SCHEMA, PRIMARY_KEY,
            overwrite=True,
        )
        pipe = CdcPipeline(table, feed)
        # the stream runs until the last released lsn is committed; the
        # segments are slices of one changelog numbered from lsn 1
        final_lsn = len(segments) * self.manifest["segment_events"]
        covered = threading.Event()
        apply_batch = pipe.apply_batch
        self.busy_s = 0.0

        def counted(spark, batch_df, batch_id):
            t0 = time.time()
            out = apply_batch(spark, batch_df, batch_id)
            self.busy_s += time.time() - t0
            if max((r.get("lsn_max") or 0 for r in out), default=0) >= final_lsn:
                covered.set()
            return out

        pipe.apply_batch = counted
        self.tracer.wrap(pipe, "apply_batch", "pipeline.apply_batch")
        self.tracer.wrap(table, "merge", "lake.merge")
        due: list[float] = []
        actual: list[float] = []
        stop = threading.Event()
        errors: list[BaseException] = []

        def release(src: str) -> None:
            dst = os.path.join(feed, "data", os.path.basename(src))
            now = time.time()
            os.utime(src, (now, now))  # the file source orders by mtime
            os.rename(src, dst)
            actual.append(time.time())

        def generator(t0: float) -> None:
            for i, src in enumerate(staged):
                due.append(t0 + i / self.RATE)
                if stop.wait(max(0.0, due[-1] - time.time())):
                    return
                release(src)

        def stream() -> None:
            try:
                pipe.run_stream_continuous(
                    self.spark,
                    _fresh(os.path.join(base, "ckpt")),
                    trigger_seconds=self.TRIGGER_S,
                    max_files_per_trigger=self.MAX_FILES_PER_TRIGGER,
                    max_runtime_seconds=self.MAX_RUNTIME_S,
                )
            except BaseException as e:  # re-raised on the calling thread
                errors.append(e)

        stream_thread = threading.Thread(target=stream, daemon=True)
        with self.tracer.span("pipeline.stream"):
            stream_thread.start()
            # a live replica's query is already running: release the first
            # segment once the query has finished its first, empty trigger,
            # so that query start-up is not counted as lag
            while stream_thread.is_alive() and not self._waiting_for_data():
                time.sleep(0.05)
            gen_thread = threading.Thread(target=generator, args=(time.time(),), daemon=True)
            gen_thread.start()
            try:
                while not covered.wait(0.1) and stream_thread.is_alive():
                    pass
            finally:
                stop.set()
                gen_thread.join()
                # let the covering micro-batch finish its offset commit
                time.sleep(self.TRIGGER_S)
                for q in self.spark.streams.active:
                    q.stop()
                stream_thread.join(self.MAX_RUNTIME_S)
        if errors:
            raise errors[0]
        if not covered.is_set():
            raise RuntimeError("the stream ended before the last segment was committed")
        return table, due, actual

    def _waiting_for_data(self) -> bool:
        for q in self.spark.streams.active:
            st = q.status
            return not st["isTriggerActive"] and st["message"] != "Initializing sources"
        return False

    def warmup(self) -> None:
        self.table, _, _ = self._run("warm", self.manifest["warm"])

    def measure(self, seconds: float) -> Window:
        n_seg = int(round(seconds * self.RATE))
        segments = self.manifest["segments"][:n_seg]
        if len(segments) < n_seg:
            raise ValueError(f"{seconds} s at {self.RATE}/s needs {n_seg} segments")
        cpu0 = tree_cpu_s()
        table, due, actual = self._run("live", segments)
        cpu = tree_cpu_s() - cpu0
        if len(actual) != n_seg:
            raise RuntimeError(f"released {len(actual)} of {n_seg} segments")
        self.table = table
        self.released = segments
        seg_events = self.manifest["segment_events"]
        merges = lineage(self.spark, table)
        commit_lsn = np.array([r[2] for r in merges])
        commit_at = np.array([r[3] for r in merges])
        if (np.diff(commit_lsn) <= 0).any():
            raise RuntimeError("segments were committed out of release order")
        # segment i holds lsns (i*E, (i+1)*E]; it is visible from the first
        # commit whose lsn_max covers its last lsn
        last_lsn = (np.arange(n_seg) + 1) * seg_events
        first = np.searchsorted(commit_lsn, last_lsn, side="left")
        if (first >= len(merges)).any():
            raise RuntimeError("a released segment never became visible")
        visible = commit_at[first]
        events = sum(r[1] for r in merges)
        w = Window()
        # a live stream idles between triggers: its rate is per busy second
        w.rates.append(events / self.busy_s)
        w.cpu_per_mevent.append(cpu / events * 1e6)
        w.lags.append((list(visible - np.array(due)), [seg_events] * n_seg))
        w.ingests = n_seg
        late = np.array(actual) - np.array(due)
        # backlog when the last segment was released: released, not visible
        backlog_end = int((visible > actual[-1]).sum())
        w.extra = {
            "gen.late_p50_s": float(np.median(late)),
            "gen.late_max_s": float(late.max()),
            "tail.segments_per_batch": n_seg / len(merges),
            "tail.backlog_end": backlog_end,
        }
        return w

    def expected_files(self) -> list[str]:
        return [os.path.join(self.inputs, f) for f in self.released]


WORKLOADS = {c.name: c for c in (Catchup, Tail)}
