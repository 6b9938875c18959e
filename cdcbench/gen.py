"""Seeded inputs for the CDC benchmark, made with the package's own
generator (``sources.changelog``) and binlog exporter (``sinks.binlog_export``).

Parquet feeds are written in a child process (``python3 cdcbench/gen.py
--workload W --seed S --out DIR``) before the engine process starts timing,
so generation never competes with the measured work and the engine receives
only files:

* ``catchup``  ``feed/``: a decoded backlog (``write_feed``), Zipf-hot
               conversations, 8% deletes.
* ``tail``     ``segments/``: small lsn-ordered feed files of one changelog,
               released into the live feed directory by the benchmark on a
               schedule, plus ``warm/`` files of a separate changelog for
               the warmup.

Binlog files (``binlog_files``) are exported by ``write_binlog_changelog``,
which runs on Spark, so they are made on the caller's live session.

The same ``(workload, seed)`` gives the same rows. ``manifest.json`` is
written last and marks a finished directory.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import sys

# Input sizes per workload. Changing one changes the benchmark: the parent
# and the change must be measured with the same sizes.
SIZES = {
    # two micro-batches of 60k events each (run_stream's default of one
    # feed file per trigger)
    "catchup": {"n_events": 120_000, "n_files": 2, "n_convs": 4_000,
                "max_turns": 32, "zipf_s": 1.2},
    # uniform keys (zipf_s 0) over ~900k slots: in-batch duplicates are rare
    "binlog": {"n_events": 120_000, "n_files": 4, "n_convs": 50_000,
               "max_turns": 32, "zipf_s": 0.0},
    # 100-event segments, enough for 15 s at the release rate; uniform keys
    # so that, unlike catchup, dedup collapses little
    "tail": {"segment_events": 100, "n_segments": 90, "warm_segments": 24,
             "n_convs": 50_000, "max_turns": 32, "zipf_s": 0.0},
}


def feed_spec(workload: str, n_events: int, seed: int):
    from mysql_secure_agent_spark.sources.changelog import FeedSpec

    s = SIZES[workload]
    return FeedSpec(n_events=n_events, n_convs=s["n_convs"], max_turns=s["max_turns"],
                    zipf_s=s["zipf_s"], seed=seed)


def check_normal_form(files: list[str]) -> None:
    """The oracle compares raw feed text with table text, which went
    through the pipeline's normalize UDF. That is sound only if the text is
    already a fixed point of the UDF's function, so check it here."""
    import pyarrow.parquet as pq

    from mysql_secure_agent_spark.functions.normalize import normalize_text_udf

    for f in files:
        text = pq.read_table(f, columns=["text"]).column("text").to_pandas().dropna()
        if not normalize_text_udf.func(text).equals(text):
            raise ValueError(f"{f}: text is not in normalize_text_udf's normal form")


def write_checked_feed(feed_dir: str, spec, n_files: int, out: str) -> list[str]:
    """``write_feed`` into ``feed_dir``; returns the data files relative to
    ``out``, in lsn order."""
    from mysql_secure_agent_spark.sources.changelog import write_feed

    write_feed(spec, feed_dir, n_files=n_files)
    files = sorted(glob.glob(os.path.join(feed_dir, "data", "*.parquet")))
    check_normal_form(files)
    return [os.path.relpath(f, out) for f in files]


def gen_catchup(out: str, seed: int) -> dict:
    s = SIZES["catchup"]
    files = write_checked_feed(os.path.join(out, "feed"),
                               feed_spec("catchup", s["n_events"], seed), s["n_files"], out)
    return {"n_events": s["n_events"], "files": files}


def gen_tail(out: str, seed: int) -> dict:
    s = SIZES["tail"]
    manifest = {"segment_events": s["segment_events"]}
    for name, n_seg, sd in (
        ("segments", s["n_segments"], seed),
        ("warm", s["warm_segments"], seed + 7919),
    ):
        spec = feed_spec("tail", n_seg * s["segment_events"], sd)
        manifest[name] = write_checked_feed(os.path.join(out, name), spec, n_seg, out)
    return manifest


GENERATORS = {"catchup": gen_catchup, "tail": gen_tail}

BINLOG_SCHEMA, BINLOG_TABLE = "app", "transcripts"


def binlog_specs():
    """MySQL column types of the exported table, in row-image order."""
    from mysql_secure_agent_spark.functions.mysql_codecs import (
        DATETIME_V2, LONG, VARCHAR, ColumnSpec,
    )

    return [
        ColumnSpec("conv_id", VARCHAR, {"max_len": 32}),
        ColumnSpec("turn_idx", LONG),
        ColumnSpec("role", VARCHAR, {"max_len": 16}),
        ColumnSpec("text", VARCHAR, {"max_len": 255}),
        ColumnSpec("tool", VARCHAR, {"max_len": 16}),
        ColumnSpec("ts", DATETIME_V2, {"fsp": 0}),
    ]


def cache_dir(workload: str, seed: int, cache_root: str) -> str:
    """Keyed by the sizes too, so a size change never reads a stale cache."""
    tag = "-".join(f"{k}{v}" for k, v in sorted(SIZES[workload].items()))
    return os.path.join(cache_root, f"{workload}-s{seed}-{tag}")


def _finish(out: str, manifest: dict) -> None:
    tmp = os.path.join(out, "manifest.json.tmp")
    with open(tmp, "w") as f:
        json.dump(manifest, f)
    os.replace(tmp, os.path.join(out, "manifest.json"))


def binlog_files(spark, seed: int, cache_root: str) -> tuple[str, dict]:
    """Directory of ``mysql-bin.NNNNNN`` files for ``seed``: a uniform-key
    changelog exported by ``write_binlog_changelog`` on ``spark``, once per
    seed."""
    import pandas as pd

    from mysql_secure_agent_spark.schemas import CHANGELOG_SCHEMA
    from mysql_secure_agent_spark.sinks.binlog_export import write_binlog_changelog
    from mysql_secure_agent_spark.sources.changelog import generate_changelog

    s = SIZES["binlog"]
    out = cache_dir("binlog", seed, cache_root)
    mpath = os.path.join(out, "manifest.json")
    if not os.path.exists(mpath):
        shutil.rmtree(out, ignore_errors=True)
        spec = feed_spec("binlog", s["n_events"], seed)
        df, _ = generate_changelog(spec)
        # generate_changelog gives deletes a null ts, which reaches
        # encode_typed_rows as NaT and fails to encode; a row-based binlog's
        # delete carries the row image anyway, so deletes get their event
        # time like every other row
        df["ts"] = pd.Timestamp(spec.base_ts) + pd.to_timedelta(df["source_lsn"], unit="s")
        files = write_binlog_changelog(
            spark.createDataFrame(df, schema=CHANGELOG_SCHEMA), os.path.join(out, "binlog"),
            BINLOG_SCHEMA, BINLOG_TABLE, binlog_specs(), n_files=s["n_files"],
        )
        _finish(out, {"n_events": len(df), "files": files})
    with open(mpath) as f:
        return os.path.join(out, "binlog"), json.load(f)


def ensure(workload: str, seed: int, cache_root: str) -> tuple[str, dict]:
    """Directory holding ``workload``'s feed files for ``seed``, generated
    by a child process on first use."""
    out = cache_dir(workload, seed, cache_root)
    mpath = os.path.join(out, "manifest.json")
    if not os.path.exists(mpath):
        import subprocess

        shutil.rmtree(out, ignore_errors=True)
        subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", workload,
             "--seed", str(seed), "--out", out],
            check=True, stdout=subprocess.DEVNULL, timeout=600,
        )
    with open(mpath) as f:
        return out, json.load(f)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    os.makedirs(a.out)
    manifest = GENERATORS[a.workload](a.out, a.seed)
    manifest.update(workload=a.workload, seed=a.seed, sizes=SIZES[a.workload])
    _finish(a.out, manifest)


if __name__ == "__main__":
    sys.path.insert(0, os.getcwd())
    main()
