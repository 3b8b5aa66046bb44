#!/usr/bin/env python3
"""Extraction benchmark: documents per second, CPU, memory and correctness
of the PySpark extraction pipeline on three workloads.

    python3 perfbench/run.py --workload plain --seed 1 --seconds 20 --trace 0

Run from the repository root.  Set-up, outside any timing, generates the
workload's inputs from ``--seed`` under ``.perfbench_work/``.  With
``--trace 0`` one Spark driver process starts a ``local[nproc]`` session,
warms up on the workload's own page family and submits one batch job at a
time (closed loop) for ``--seconds``.  With ``--trace 1`` such a process
gives the Spark-side layer numbers and single-process kernel passes give
the per-layer split; the spans are written to ``.perfbench_out/``.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (name → value and unit).  See README.md for the
metrics, the workloads and which layer metric should move which end-to-end
metric.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

from common import (ROOT, WARM_DOCS, WORKLOADS, BenchError, Workload, descendants,
                    normalize, reap, seeded_documents, snapshot)

HERE = Path(__file__).resolve().parent
DEADLINE_S = 170     # the whole run, set-up included


def prepare_inputs(wl: Workload, seed: int,
                   work: Path) -> tuple[list[tuple[int, str]], dict[str, str]]:
    """Generate the measured and warm-up inputs and the expected texts.
    Returns the measured (doc_id, text) pairs and url → expected text."""
    import pandas as pd
    from osdocr_spark.kernels.corpus import generate_page
    from osdocr_spark.spark.stages import url_for_doc

    sets = {"warm": seeded_documents(seed, WARM_DOCS, salt=f"{wl.name}:warm"),
            "measured": seeded_documents(seed, wl.job_docs, salt=f"{wl.name}:measured")}
    for name, docs in sets.items():
        (work / name).mkdir(parents=True)
        if wl.checkpointed:
            # run_extract_job reads a documents table and renders the pages
            # itself, inside the timed job
            pd.DataFrame({"doc_id": [d for d, _ in docs], "text": [t for _, t in docs],
                          "lang": "en"}).to_parquet(work / name / "documents.parquet")
        else:
            pd.DataFrame({"url": [url_for_doc(d) for d, _ in docs],
                          "html": [generate_page(d, t, **wl.page_kwargs) for d, t in docs]}
                         ).to_parquet(work / name / "pages.parquet")
    docs = sets["measured"]
    expected = {url_for_doc(d): normalize(t) for d, t in docs}
    pd.DataFrame({"url": list(expected), "text": list(expected.values())}
                 ).to_parquet(work / "expected.parquet")
    return docs, expected


def child_env(work: Path) -> dict[str, str]:
    """Environment of a Spark driver process: the repo on every Python
    worker's path, and every scratch file inside the work directory."""
    tmp = work / "tmp"
    tmp.mkdir(exist_ok=True)
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + ([env["PYTHONPATH"]] if env.get("PYTHONPATH") else []))
    env["PYSPARK_PYTHON"] = sys.executable
    env["TMPDIR"] = str(tmp)
    env["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    env["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--driver-java-options {shlex.quote(java_opts)} pyspark-shell")
    return env


def run_driver(wl: Workload, work: Path, seconds: float, nproc: int,
               deadline: float) -> tuple[float, list[dict]]:
    """Run one Spark driver process; returns (set-up seconds, job records).
    Set-up runs from process start to the end of the warm-up job."""
    out, log_path = work / "driver.jsonl", work / "driver.log"
    cmd = [sys.executable, str(HERE / "spark_worker.py"), "--workload", wl.name,
           "--work", str(work), "--seconds", str(seconds), "--nproc", str(nproc),
           "--out", str(out)]
    with open(log_path, "wb") as log:
        t_spawn = time.monotonic()
        proc = subprocess.Popen(cmd, cwd=work, env=child_env(work), stdout=log,
                                stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=max(deadline - time.monotonic(), 1.0))
        except subprocess.TimeoutExpired:
            started = snapshot(descendants(proc.pid))
            proc.kill()
            proc.wait()
            reap(started, timeout=0.0)
            raise BenchError("the driver passed the deadline") from None
    records = [json.loads(line) for line in out.read_text().splitlines()] \
        if out.exists() else []
    started = next((r["pids"] for r in records if "pids" in r), {})
    reap({int(p): s for p, s in started.items()})
    if rc != 0:
        tail = log_path.read_text(errors="replace")[-4000:]
        raise BenchError(f"the driver exited with {rc}:\n{tail}")
    ready = [r["ready"] for r in records if "ready" in r]
    jobs = [r["job"] for r in records if "job" in r]
    if not ready or not jobs:
        raise BenchError("the driver reported no jobs")
    return ready[0] - t_spawn, jobs


def _failures(jobs: list[dict]) -> int:
    return sum(j["missing"] + j["mismatched"] for j in jobs)


def _result(correct: bool, attempted: int, failed: int, values: dict[str, float],
            kind: str) -> dict:
    """The result line; metric names and units come from BENCHMARK.json's
    ``kind`` list, which must name exactly the metrics measured."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    units = {m["name"]: m["unit"] for m in spec[kind]}
    if set(units) != set(values):
        raise BenchError(f"measured metrics differ from BENCHMARK.json {kind}: "
                         f"{sorted(set(units) ^ set(values))}")
    return {"correct": correct, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()}}


def timed_run(wl: Workload, work: Path, seconds: float, nproc: int,
              deadline: float) -> dict:
    setup, jobs = run_driver(wl, work, seconds, nproc, deadline)
    attempted = sum(j["docs"] for j in jobs)
    failed = _failures(jobs)
    # medians over the run's jobs, so one disturbed job does not set the run
    metrics = {
        "docs_per_s": statistics.median(
            (j["docs"] - j["missing"] - j["mismatched"]) / j["wall_s"] for j in jobs),
        "cpu_ms_per_doc": statistics.median(1000 * j["cpu_s"] / j["docs"] for j in jobs),
        "peak_rss_mb": statistics.median(j["peak_rss_mib"] for j in jobs),
        "docs_ok_ratio": (attempted - failed) / attempted,
        "setup_s": setup,
    }
    print(f"# {wl.name}: cpus={nproc} jobs={len(jobs)} docs/job={wl.job_docs} "
          f"setup={setup:.2f} walls={[round(j['wall_s'], 3) for j in jobs]}")
    return _result(failed == 0 and all(j["gate_ok"] for j in jobs), attempted,
                   failed, metrics, "end_to_end")


def traced_run(wl: Workload, work: Path, seconds: float, nproc: int, deadline: float,
               docs: list[tuple[int, str]], expected: dict[str, str], seed: int) -> dict:
    from osdocr_spark.kernels.corpus import generate_page
    from osdocr_spark.spark.stages import url_for_doc
    from spans import kernel_passes

    _, jobs = run_driver(wl, work, seconds / 2, nproc, deadline)
    pages = [(url_for_doc(d), generate_page(d, t, **wl.page_kwargs))
             for d, t in docs]
    layers, kernel_cpu_per_doc, checked, kernel_failed = kernel_passes(
        wl, pages, expected, seconds,
        ROOT / ".perfbench_out" / f"spans-{wl.name}-seed{seed}.jsonl")
    wall = statistics.median(j["wall_s"] for j in jobs)
    layers.update({
        "stages.outside_kernel_share":
            1.0 - kernel_cpu_per_doc * wl.job_docs / (wall * nproc),
        "stages.partition_skew": statistics.median(j["partition_skew"] for j in jobs),
        "jobs.extracted_bytes_per_doc": jobs[0]["extracted_bytes"] / wl.job_docs,
        "jobs.parsed_bytes_per_doc": jobs[0]["parsed_bytes"] / wl.job_docs,
    })
    failed = _failures(jobs) + kernel_failed
    print(f"# {wl.name} traced: cpus={nproc} spark_jobs={len(jobs)} "
          f"kernel_docs_checked={checked}")
    return _result(failed == 0 and all(j["gate_ok"] for j in jobs),
                   sum(j["docs"] for j in jobs) + checked, failed, layers, "per_layer")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args(argv)
    deadline = time.monotonic() + DEADLINE_S

    if not (ROOT / "osdocr_spark" / "__init__.py").is_file():
        print(f"perfbench: no osdocr_spark package under {ROOT}; "
              "run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    # one BLAS thread, as every Spark Python worker gets (session.py), so the
    # single-process kernel passes run the same arithmetic on one core
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS",
                "NUMEXPR_NUM_THREADS"):
        os.environ[var] = "1"

    wl = WORKLOADS[args.workload]
    nproc = len(os.sched_getaffinity(0))
    work = ROOT / ".perfbench_work" / f"{wl.name}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    try:
        docs, expected = prepare_inputs(wl, args.seed, work)
        if args.trace:
            result = traced_run(wl, work, args.seconds, nproc, deadline, docs,
                                expected, args.seed)
        else:
            result = timed_run(wl, work, args.seconds, nproc, deadline)
    except BenchError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
