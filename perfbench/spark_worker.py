"""One Spark driver process of the benchmark: start a ``local[nproc]``
session, warm up on the workload's own page family, then submit one batch
job at a time until the time slice is spent.

Writes one JSON object per line to ``--out``: ``{"ready": <monotonic>}``
after the warm-up job, one ``{"job": {...}}`` per measured job, and a final
``{"pids": {...}}`` naming the processes it started, so the parent can wait
for them after this process exits.  Started by ``run.py``; not meant to be
run by hand.
"""

from __future__ import annotations

import argparse
import json
import os
import time
from pathlib import Path

import pyarrow.parquet as pq

from common import (WORKLOADS, count_failures, descendants, gate_catches_corruption,
                    reset_peak_rss, snapshot, tree_cpu_s, tree_peak_rss_mib)


def _data_bytes(path: Path) -> int:
    """Bytes of the parquet data files under a Spark output directory."""
    if not path.is_dir():
        return 0
    return sum(p.stat().st_size for p in path.rglob("*.parquet")
               if not p.name.startswith((".", "_")))


def _expected(path: Path) -> dict[str, str]:
    t = pq.read_table(path)
    return dict(zip(t.column("url").to_pylist(), t.column("text").to_pylist()))


def measure(job, work: Path, seconds: float, log) -> None:
    """Closed loop: one job at a time while the next can end in ``seconds``;
    one JSON record per job, with the correctness gate run outside timing."""
    expected = _expected(work / "expected.parquet")
    me = os.getpid()
    measured = 0.0
    while True:
        tree = descendants(me)
        reset_peak_rss(tree)
        cpu0 = tree_cpu_s(tree)
        t0 = time.perf_counter()
        extracted, parsed = job("measured")
        wall = time.perf_counter() - t0
        tree = descendants(me)
        cpu = tree_cpu_s(tree) - cpu0
        peak = tree_peak_rss_mib(tree)

        t = pq.read_table(extracted, columns=["url", "text", "partition_id"])
        urls, texts = t.column("url").to_pylist(), t.column("text").to_pylist()
        missing, mismatched = count_failures(expected, urls, texts)
        per_part: dict[int, int] = {}
        for pid in t.column("partition_id").to_pylist():
            per_part[pid] = per_part.get(pid, 0) + 1
        rec = {
            "wall_s": wall, "cpu_s": cpu, "peak_rss_mib": peak,
            "docs": len(expected), "missing": missing, "mismatched": mismatched,
            "gate_ok": gate_catches_corruption(expected, urls, texts),
            "partition_skew": (max(per_part.values()) * len(per_part) / len(urls)
                               if urls else 0.0),
            "extracted_bytes": _data_bytes(extracted),
            "parsed_bytes": _data_bytes(parsed) if parsed else 0,
        }
        log.write(json.dumps({"job": rec}) + "\n")
        log.flush()
        measured += wall
        if measured + wall > seconds:
            break


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--work", required=True, type=Path)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--nproc", required=True, type=int)
    ap.add_argument("--out", required=True, type=Path)
    args = ap.parse_args()
    wl = WORKLOADS[args.workload]
    work: Path = args.work

    from osdocr_spark.spark.jobs import run_extract_job
    from osdocr_spark.spark.session import get_spark
    from osdocr_spark.spark.stages import extract_pages, salted_repartition

    spark = get_spark(app=f"perfbench-{wl.name}", cpus=args.nproc)
    spark.sparkContext.setLogLevel("ERROR")

    def job(inputs: str) -> tuple[Path, Path | None]:
        """One batch job over ``work/inputs``; returns its output tables."""
        out = work / f"out-{inputs}"
        if wl.checkpointed:
            run_extract_job(spark, str(work / inputs), str(out),
                            num_partitions=args.nproc, resume=False, noisy=True,
                            clean=wl.clean, per_stage=True)
            return out / "extracted", out / "parsed"
        pages = spark.read.parquet(str(work / inputs / "pages.parquet"))
        (extract_pages(salted_repartition(pages, args.nproc), clean=wl.clean)
         .write.mode("overwrite").parquet(str(out)))
        return out, None

    with open(args.out, "w") as log:
        try:
            job("warm")
            log.write(json.dumps({"ready": time.monotonic()}) + "\n")
            log.flush()
            measure(job, work, args.seconds, log)
        finally:
            # the parent waits for these after this process has exited
            log.write(json.dumps({"pids": snapshot(descendants(os.getpid())[1:])}) + "\n")
            spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
