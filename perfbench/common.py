"""Shared pieces of the extraction benchmark: workload definitions, seeded
inputs, the output correctness gate and process-tree readings from /proc.

Nothing here imports pyspark, so the orchestrator (``run.py``) stays light;
the Spark side lives in ``spark_worker.py``.
"""

from __future__ import annotations

import errno
import os
import random
import signal
import time
from dataclasses import dataclass
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


class BenchError(RuntimeError):
    pass


#: vocabulary and length range of the ``documents`` test-table texts (30
#: tokens, 10..99 words, uniform): the benchmark generates texts of the same
#: shape from its seed, so it reads no data from outside the repository
VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
MIN_WORDS, MAX_WORDS = 10, 99


#: documents in the warm-up job: enough for every worker to spawn and import
#: the kernels on the workload's own page family
WARM_DOCS = 1000


@dataclass(frozen=True)
class Workload:
    name: str
    job_docs: int      # documents per batch job
    clean: bool        # fix suite between parse and analysis
    page_kwargs: dict  # generate_page family switches
    checkpointed: bool  # run_extract_job(per_stage=True) over documents.parquet


#: plain and checkpointed jobs take the sf0.1 documents table's 5000 docs,
#: the size ROADMAP quotes its end-to-end rate at; Spark's fixed cost per job
#: still weighs on docs/s below that (plain: 615 docs/s at 1200, 712 at 2500,
#: 914 at 5000).  crossed pages are 3.5x larger and its rate is flat from
#: 2500 docs on (243 docs/s at both 2500 and 5000), so it runs 2500.
WORKLOADS = {
    "plain": Workload("plain", job_docs=5000, clean=False,
                      page_kwargs={}, checkpointed=False),
    "crossed": Workload("crossed", job_docs=2500, clean=True,
                        page_kwargs={"noisy": True, "multi_article": True,
                                     "adversarial": True},
                        checkpointed=False),
    "checkpointed": Workload("checkpointed", job_docs=5000, clean=True,
                             page_kwargs={"noisy": True}, checkpointed=True),
}


def normalize(text: str) -> str:
    return " ".join(text.split())


def seeded_documents(seed: int, n: int, salt: str) -> list[tuple[int, str]]:
    """``n`` (doc_id, text) pairs: the seed picks the doc_id offset (which
    selects layout parameters and adversarial families) and the texts.
    ``salt`` separates the warm-up set from the measured set."""
    rng = random.Random(f"{seed}:{salt}")
    offset = rng.randrange(0, 1 << 30)
    return [(offset + i,
             " ".join(rng.choice(VOCAB) for _ in range(rng.randint(MIN_WORDS, MAX_WORDS))))
            for i in range(n)]


def count_failures(expected: dict[str, str], urls, texts) -> tuple[int, int]:
    """(missing, mismatched) output rows against ``expected`` url → text.

    A url emitted more than once counts as mismatched for every extra copy;
    a url outside ``expected`` counts as mismatched."""
    seen: set[str] = set()
    mismatched = 0
    for url, text in zip(urls, texts):
        if url in seen or expected.get(url) != text:
            mismatched += 1
        seen.add(url)
    missing = sum(1 for u in expected if u not in seen)
    return missing, mismatched


def gate_catches_corruption(expected: dict[str, str], urls: list, texts: list) -> bool:
    """Self-check of the gate on a real output: corrupting the text of one
    correct row and dropping that row must each add exactly one failure."""
    good = next((i for i, (u, t) in enumerate(zip(urls, texts))
                 if expected.get(u) == t), None)
    if good is None:
        return False
    missing, mismatched = count_failures(expected, urls, texts)
    bad_texts = list(texts)
    bad_texts[good] = texts[good] + " x"
    corrupted = count_failures(expected, urls, bad_texts)
    dropped = count_failures(expected, urls[:good] + urls[good + 1:],
                             texts[:good] + texts[good + 1:])
    return (corrupted == (missing, mismatched + 1)
            and dropped == (missing + 1, mismatched))


# --- process tree readings ---------------------------------------------------

CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may hold spaces and parentheses: split after the last ')'
    return raw[raw.rindex(")") + 2:].split()


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it, by parent pid."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            fields = _stat_fields(int(entry))
            if fields is not None:
                children.setdefault(int(fields[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(pids: list[int]) -> float:
    """utime + stime of each process plus that of its reaped children."""
    ticks = 0
    for pid in pids:
        fields = _stat_fields(pid)
        if fields is not None:
            # fields[0] is state; utime, stime, cutime, cstime are stat 14..17
            ticks += sum(int(v) for v in fields[11:15])
    return ticks / CLK_TCK


def reset_peak_rss(pids: list[int]) -> None:
    """Reset each process's VmHWM to its current RSS.  A process that has
    already exited is skipped; any other refusal fails the run, since the
    peak would then include everything before the job."""
    for pid in pids:
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError as e:
            if e.errno not in (errno.ENOENT, errno.ESRCH):
                raise BenchError(f"cannot reset the peak RSS of pid {pid}: {e}") from e


def tree_peak_rss_mib(pids: list[int]) -> float:
    """Sum of each process's resident high-water mark (VmHWM)."""
    kib = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kib += int(line.split()[1])
                        break
        except OSError:
            pass
    return kib / 1024


def _start_time(pid: int) -> str | None:
    """Start time of a live process; None once it has exited (zombie)."""
    fields = _stat_fields(pid)
    if fields is None or fields[0] == "Z":
        return None
    return fields[19]


def snapshot(pids: list[int]) -> dict[int, str]:
    """pid → start time, so a recycled pid is not mistaken for ours."""
    return {p: s for p in pids if (s := _start_time(p)) is not None}


def reap(procs: dict[int, str], timeout: float = 20.0) -> None:
    """Wait until every process in ``procs`` has ended; SIGKILL the ones
    still alive after ``timeout`` and wait for those too."""
    deadline = time.monotonic() + timeout
    killed = False
    while alive := [p for p, s in procs.items() if _start_time(p) == s]:
        if time.monotonic() > deadline:
            if killed:
                raise RuntimeError(f"processes {alive} survived SIGKILL")
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
            killed = True
            deadline = time.monotonic() + 10.0
        time.sleep(0.05)
