"""Per-task CPU of Spark Python workers, with and without ``ballet_spark``
loaded in them.

Every Python task pays a fixed set-up before its kernel runs: pyspark's
``worker_util.setup_spark_files`` calls ``importlib.invalidate_caches()``,
which on CPython < 3.13 re-reads the directory of every zip archive on
the worker's ``sys.path`` (``pyspark.zip`` among them). Importing
``ballet_spark`` in a worker installs ``session.lazy_zip_invalidation``,
which skips the re-read for unchanged archives. This probe shows the
difference on any box or Python version.

For each mode it starts a fresh local[4] session (so fresh workers),
runs one untimed warm-up job and then ``--jobs`` trivial 4-task
``mapInArrow`` jobs. The ``plain`` kernel references nothing from the
package; the ``ballet`` kernel imports it. Around each job it reads the
CPU ticks (user + system, reaped children included) of every Python
process under this driver from ``/proc`` (the process-tree accounting
of ``perfbench/run.py::cpu_s``) and prints each worker process's share.
A worker runs one task at a time, so with 4 tasks on 4 reused workers
a process's share is one task's cost. Resolution is one clock tick
(usually 10 ms), so compare the per-task means over many jobs.

Usage: python scripts/worker_task_cost.py [--jobs 20]
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from ballet_spark.session import get_spark  # noqa: E402

TASKS = 4
HZ = os.sysconf("SC_CLK_TCK")


def plain(batches):
    yield from batches


def ballet(batches):
    import ballet_spark  # noqa: F401 — installs the worker patch

    yield from batches


def worker_ticks() -> dict[int, int]:
    """CPU ticks of each Python process under this one, itself excluded."""
    me, parent, ticks, comm = os.getpid(), {}, {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                head, rest = f.read().rsplit(")", 1)
        except OSError:  # exited while listed
            continue
        fields = rest.split()
        pid = int(d)
        parent[pid] = int(fields[1])
        ticks[pid] = sum(int(x) for x in fields[11:15])
        comm[pid] = head.split("(", 1)[1]

    def ours(pid):
        while pid > 1:
            if pid == me:
                return True
            pid = parent.get(pid, 0)
        return False

    return {
        pid: t for pid, t in ticks.items()
        if pid != me and comm[pid].startswith("python") and ours(pid)
    }


def run_mode(name: str, kernel, jobs: int) -> list[float]:
    """Per-task worker CPU (ms) of each measured job in a fresh session."""
    spark = get_spark(
        app_name=f"worker_task_cost_{name}", master=f"local[{TASKS}]",
        extra_conf={"spark.driver.memory": "1g",
                    "spark.ui.showConsoleProgress": "false"},
    )
    df = spark.range(TASKS * 100, numPartitions=TASKS).mapInArrow(kernel, "id long")
    per_task = []
    for k in range(jobs + 1):
        before = worker_ticks()
        assert df.count() == TASKS * 100
        time.sleep(0.05)  # let workers finish their post-task bookkeeping
        after = worker_ticks()
        ms = sorted(
            (after[p] - before.get(p, 0)) * 1000 / HZ for p in after
        )
        busy = [m for m in ms if m > 0]
        mean = sum(ms) / TASKS
        label = "warm-up" if k == 0 else f"job {k:2d}"
        print(f"{name:6s} {label}: {mean:6.1f} ms/task  per process "
              f"{' '.join(f'{m:.0f}' for m in busy) or '-'}", flush=True)
        if k:
            per_task.append(mean)
    spark.stop()
    return per_task


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--jobs", type=int, default=20)
    args = ap.parse_args(argv)
    print(f"Python {sys.version.split()[0]}, {TASKS} tasks per job, "
          f"{args.jobs} measured jobs per mode, clock tick {1000 / HZ:.0f} ms")
    res = {name: run_mode(name, fn, args.jobs)
           for name, fn in (("plain", plain), ("ballet", ballet))}
    med = {name: statistics.median(v) for name, v in res.items()}
    for name, m in med.items():
        print(f"{name:6s} median {m:6.1f} ms/task, mean {statistics.mean(res[name]):6.1f}")
    if med["ballet"] > 0:
        print(f"plain / ballet = {med['plain'] / med['ballet']:.1f}x")
    return 0


if __name__ == "__main__":
    sys.exit(main())
