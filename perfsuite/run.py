#!/usr/bin/env python3
"""Benchmark entry point: one workload, one seed, one fresh process.

Usage, from the root of a checkout::

    python3 perfsuite/run.py --workload dedup_text --seed 1 --seconds 20 --trace 0

Workloads:

* ``etl_animals`` — the paper's ETL (paginated listing scan, per-id
  detail fetch, transform, batch POSTs) against a seeded in-process
  fake API; checked against the reference transform in plain Python.
* ``dedup_text`` — three shingle-dedup queries over a seeded documents
  table with near-duplicate clusters and hot shingles; checked against
  their DuckDB oracles.

The run generates its inputs from ``--seed`` under
``.perfsuite_work/`` in the checkout, times one set-up-only launch
and then the measured worker (``worker.py``), and prints one JSON
object as the last line of standard output:
``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace 0``
the metrics are the end-to-end ones; with ``--trace 1`` the per-layer
ones.  The full run record (every sample, the host record, the corpus
digest) is written to ``.perfsuite_work/runs/``; ``compare.py`` reads
those records.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("etl_animals", "dedup_text")
# Round time (a cold and a warm invocation of every operation) of both
# workloads once warmed up, on a quiet 4-core host.  The measured phase runs
# round(--seconds / ROUND_S) rounds, so every run measures the same work
# at the same point of the JIT's warm-up (see STEADINESS.md).
ROUND_S = 5.0
SETUP_LAUNCHES = 2  # the measured worker plus one set-up-only launch
RUN_BUDGET_S = 170.0


def host_env(root: str, work: str) -> tuple[dict[str, str], dict[str, str]]:
    """The environment every launch gets: host sizing only, no JIT or
    GC flags and no ``FAUNA_*`` knobs."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = {k: v for k, v in os.environ.items() if not k.startswith("FAUNA_")}
    set_ = {
        "SPARK_GRAFT_CPUS": str(cpus),
        # A fixed 1 GB heap, which a run grows to most of: with a quarter
        # of the host's memory (4 GB) the JVM grew to a different size in
        # each run, and peak_rss_mb read 1.6-2.6 GB on one workload
        # (STEADINESS.md).  get_spark's own default, 24g, would exceed
        # many hosts.
        "SPARK_DRIVER_MEMORY": "1g",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TZ": "UTC",
        "PYTHONHASHSEED": "0",
        "TMPDIR": tmp,
        # Keep the JVM's scratch files inside the checkout too.
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYTHONPATH": os.pathsep.join([root, HERE]),
    }
    env.update(set_)
    return env, set_


def _cpu_ticks() -> tuple[int, int]:
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return sum(v), (v[7] if len(v) > 7 else 0)


def _become_subreaper() -> None:
    """Make this process the subreaper of everything it starts: the
    JVM, and pyspark's daemon, which moves itself into a process group
    of its own, are re-parented to it rather than to init when their
    parent exits, so ``_stop_descendants`` can kill and reap each."""
    import ctypes

    PR_SET_CHILD_SUBREAPER = 36
    prctl = ctypes.CDLL(None, use_errno=True).prctl
    prctl.argtypes = [ctypes.c_int] + [ctypes.c_ulong] * 4
    prctl.restype = ctypes.c_int
    if prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _descendants() -> list[int]:
    """Pids of the live processes below this one (zombies excluded)."""
    children, state = {}, {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    st, ppid = f.read().rsplit(")", 1)[1].split()[:2]
            except (OSError, ValueError):
                continue
            children.setdefault(int(ppid), []).append(int(d))
            state[int(d)] = st
    out, todo = [], [os.getpid()]
    while todo:
        for c in children.get(todo.pop(), []):
            todo.append(c)
            if state[c] != "Z":
                out.append(c)
    return out


def _stop_descendants() -> None:
    """Kill every process this run started, directly or not, and reap
    each one; return once this process has no child left.  Every orphan
    comes back to this process (``_become_subreaper``), so no child left
    means no process of the run left."""
    while True:
        for pid in _descendants():
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        try:
            os.waitpid(-1, 0)
        except ChildProcessError:
            return


def _foreign_spark() -> bool:
    """True if a Spark JVM that this run did not start is alive."""
    own = set(_descendants())
    for d in os.listdir("/proc"):
        if not d.isdigit() or int(d) in own:
            continue
        try:
            with open(f"/proc/{d}/cmdline", "rb") as f:
                if b"org.apache.spark" in f.read():
                    return True
        except OSError:
            continue
    return False


class Launch:
    """One worker process in a session of its own; ``setup_s`` runs
    from launch until it prints READY."""

    def __init__(self, args: list[str], env: dict, log_path: str):
        self.log = open(log_path, "ab")
        t0 = time.perf_counter()
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), *args],
            stdout=subprocess.PIPE, stderr=self.log, env=env, start_new_session=True,
        )
        line = self.proc.stdout.readline()
        self.setup_s = time.perf_counter() - t0
        self.ready = line.strip() == b"READY"

    def wait(self, deadline: float, on_tick=None) -> int | None:
        """The worker's exit code, or None if it passed the deadline.
        Either way every process of the launch (the JVM and its Python
        workers) is stopped before this returns; the worker writes its
        result before it exits."""
        try:
            while self.proc.poll() is None:
                if time.perf_counter() > deadline:
                    return None
                if on_tick:
                    on_tick()
                time.sleep(0.5)
            return self.proc.returncode
        finally:
            if self.proc.poll() is None:
                self.proc.kill()
                self.proc.wait()
            self.proc.stdout.close()
            _stop_descendants()
            self.log.close()


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args(argv)
    _become_subreaper()
    # A SIGTERM ends the run through the finally below, as an error does.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        return _run(a)
    finally:
        _stop_descendants()


def _run(a: argparse.Namespace) -> int:
    t_start = time.perf_counter()
    deadline = t_start + RUN_BUDGET_S

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "project_fauna_spark", "plans", "__init__.py")):
        print("perfsuite: run from the root of a checkout holding project_fauna_spark/",
              file=sys.stderr)
        return 2
    # The printed metrics are exactly those BENCHMARK.json lists; the run
    # record keeps every other layer figure, such as the timings of
    # layers one workload never calls.
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        listed = json.load(f)["per_layer" if a.trace else "end_to_end"]
    sys.path.insert(0, root)
    sys.path.insert(0, HERE)
    work = os.path.join(root, ".perfsuite_work")
    run_dir = os.path.join(work, f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)  # left by a failed run with this pid
    os.makedirs(run_dir)
    env, env_set = host_env(root, work)
    os.makedirs(env["SPARK_LOCAL_DIRS"], exist_ok=True)

    load0, ticks0 = os.getloadavg(), _cpu_ticks()
    record = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
              "trace": a.trace}
    worker_args = ["--workload", a.workload, "--seed", str(a.seed),
                   "--rounds", str(max(1, round(a.seconds / ROUND_S))),
                   "--trace", str(a.trace), "--work-dir", run_dir,
                   "--out", os.path.join(run_dir, "result.json")]
    if a.workload == "dedup_text":
        import corpus
        from oracle import OracleBook
        from worker import DEDUP_QUERIES

        data_dir = os.path.join(work, f"corpus-{a.seed}")
        digest = corpus.write_corpus(data_dir, a.seed)
        from project_fauna_spark.plans import ORACLE

        book = OracleBook(data_dir, digest, os.path.join(work, "oracle_memo.json"), corpus.TABLES)
        expected = book.expected(DEDUP_QUERIES, ORACLE)
        with open(os.path.join(run_dir, "expected.json"), "w") as f:
            json.dump(expected, f)
        worker_args += ["--data-dir", data_dir, "--expected", os.path.join(run_dir, "expected.json")]
        record["corpus_md5"] = digest
    else:
        import hashlib
        import worker

        # The fake API serves a function of its code, the seed and the size.
        with open(os.path.join(HERE, "fakeapi.py"), "rb") as f:
            digest = hashlib.md5(f.read() + f":{a.seed}:{worker.N_ANIMALS}".encode()).hexdigest()
        record["corpus_md5"] = digest

    phases = {"prepare_s": time.perf_counter() - t_start}
    overlapped = [_foreign_spark()]
    log = os.path.join(run_dir, "worker.log")
    setups = []
    for _ in range(SETUP_LAUNCHES - 1):
        probe = Launch(worker_args + ["--setup-only"], env, log)
        if probe.wait(deadline) != 0 or not probe.ready:
            print(f"perfsuite: set-up launch failed; see {log}", file=sys.stderr)
            return 1
        setups.append(probe.setup_s)

    def tick():
        if not overlapped[0] and _foreign_spark():
            overlapped[0] = True

    phases["probes_done_s"] = time.perf_counter() - t_start
    main_launch = Launch(worker_args, env, log)
    setups.append(main_launch.setup_s)
    code = main_launch.wait(deadline, tick)
    phases["worker_done_s"] = time.perf_counter() - t_start
    record["phases"] = phases
    if code != 0 or not main_launch.ready:
        print(f"perfsuite: worker {'timed out' if code is None else f'exited {code}'}; see {log}",
              file=sys.stderr)
        return 1
    with open(os.path.join(run_dir, "result.json")) as f:
        res = json.load(f)
    ticks1 = _cpu_ticks()
    d_total, d_steal = ticks1[0] - ticks0[0], ticks1[1] - ticks0[1]

    metrics = dict(res["metrics"], setup_s=statistics.median(setups))
    record.update(
        host={
            "nproc": len(os.sched_getaffinity(0)),
            "loadavg_start": load0, "loadavg_end": os.getloadavg(),
            "steal_pct": 100.0 * d_steal / d_total if d_total else 0.0,
            "pyspark": _pyspark_version(), "java": res["java_version"],
            "spark": res["spark_version"], "env_set": env_set,
            "overlapped_spark": overlapped[0],
        },
        setup_samples=setups, end_to_end=metrics, wall_s=time.perf_counter() - t_start,
        **{k: res[k] for k in ("attempted", "failed", "errors", "samples",
                               "warmup_round_s", "measured_round_s", "measured_s", "worker_s")},
    )
    if a.trace:
        record["per_layer"] = res["layer"]
    runs = os.path.join(work, "runs")
    os.makedirs(runs, exist_ok=True)
    with open(os.path.join(runs, f"{a.workload}-seed{a.seed}-trace{a.trace}-{int(time.time())}.json"), "w") as f:
        json.dump(record, f, indent=1)
    shutil.rmtree(run_dir, ignore_errors=True)
    if res["errors"]:
        print("\n".join(res["errors"]), file=sys.stderr)

    values = res["layer"] if a.trace else metrics
    out_metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in listed}
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": out_metrics,
    }))
    return 0


def _pyspark_version() -> str:
    import importlib.metadata

    return importlib.metadata.version("pyspark")


if __name__ == "__main__":
    sys.exit(main())
