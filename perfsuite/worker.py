"""The measured process: one workload in a fresh Spark session.

``run.py`` launches this module once per run and times it from launch
until it prints ``READY`` (the session is up and
``project_fauna_spark.plans`` is imported).  Then it:

1. runs one warm-up round of the measured phase's loop, so every run
   keeps samples from the same point of the JIT's warm-up; its cold
   invocations, each operation's first in the cold JVM, are the first
   pass: ``first_s``;
2. runs the measured phase: ``--rounds`` rounds over the workload's
   operations, each a *cold* invocation with no pins (after
   ``release_cached()``) followed at once by a *warm* re-invocation
   that keeps them.

Every invocation's result is checked; a mismatch or an exception counts
as a failed operation.  With ``--trace 1`` rounds alternate between
traced and untraced: traced rounds give the per-layer metrics, and the
difference between the two kinds gives the tracing overhead.

The result goes to ``--out`` as JSON.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
import time
import traceback
from collections import defaultdict
from statistics import median

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import pyarrow.parquet as pq  # noqa: E402

import fakeapi  # noqa: E402
import sparkstats  # noqa: E402
from oracle import canonical_digest  # noqa: E402
from tracing import Tracer  # noqa: E402

# The shingle candidate join three ways: the Jaccard self-join with
# pins, the corpus-cleaning self-join with a pin, and the pin-free
# eval x train gram join.  dedup_containment repeats the Jaccard plan's
# shape and is left out to fit more measured rounds in a run.
DEDUP_QUERIES = ["dedup_ngram_jaccard", "llm_corpus_clean", "llm_decontaminate"]
N_ANIMALS = 5_000
ETL_COUNTERS = ("http.requests", "http.expected_requests", "http.retries", "http.gave_up",
                "sink.batches", "sink.records_per_batch", "pipeline.n_invalid_born_at")


def _install_wrappers(tracer: Tracer) -> None:
    """Spans around the program's public functions, installed before
    the operator modules bind them by name."""
    import project_fauna_spark.cache as cache
    import project_fauna_spark.io as io
    import project_fauna_spark.pipeline as pipeline
    import project_fauna_spark.session as session
    import project_fauna_spark.sinks.batch_post as batch_post
    import project_fauna_spark.sources.http as http

    tracer.install(session, "get_spark", "session.start")
    tracer.install(session, "configure_session", "session.configure")
    tracer.install(io, "load_table", "io.load_table")
    tracer.install(cache, "cached", "cache.cached")
    tracer.install(cache, "release_cached", "cache.release")
    tracer.install(http, "paginated_ids_df", "http.ids")
    tracer.install(http, "fetch_details_df", "http.details")
    tracer.install(pipeline, "transform_details", "pipeline.transform")
    tracer.install(batch_post, "post_batches_globally_indexed", "sink.post")


class DedupWorkload:
    """The shingle-dedup queries against their DuckDB oracle digests."""

    def __init__(self, spark, plans, data_dir: str, expected: dict, tracer: Tracer | None):
        self.spark, self.plans, self.data_dir = spark, plans, data_dir
        self.expected = {k: tuple(v) for k, v in expected.items()}
        self.tracer = tracer
        self.ops = list(DEDUP_QUERIES)
        self.pins = True
        # Every query reads the whole documents table once.
        n_docs = pq.ParquetFile(os.path.join(data_dir, "documents.parquet")).metadata.num_rows
        self.records_per_pass = n_docs * len(self.ops)
        self.eager_jobs = 0

    def run(self, name: str) -> tuple[float, bool]:
        tr = self.tracer if self.tracer and self.tracer.enabled else None
        t0 = time.perf_counter()
        if tr:
            jobs0 = sparkstats.job_count(self.spark)
            with tr.span("plans.build"):
                df = self.plans.QUERIES[name](self.spark, self.data_dir)
            sparkstats.drain(self.spark)
            self.eager_jobs += sparkstats.job_count(self.spark) - jobs0
            with tr.span("action"):
                rows = df.collect()
        else:
            df = self.plans.QUERIES[name](self.spark, self.data_dir)
            rows = df.collect()
        dt = time.perf_counter() - t0
        return dt, canonical_digest(df.columns, rows) == self.expected[name]


class EtlWorkload:
    """The animals ETL against the seeded fake API and the reference
    transform."""

    def __init__(self, spark, seed: int, work_dir: str, tracer: Tracer | None):
        self.spark, self.seed, self.work_dir, self.tracer = spark, seed, work_dir, tracer
        self.ops = ["etl_animals"]
        self.pins = False
        self.expected, self.n_invalid = fakeapi.expected_records(seed, N_ANIMALS)
        self.records_per_pass = len(self.expected)
        self.n_null_born_at = sum(
            fakeapi.detail_record(seed, rid)["born_at"] is None for rid in self.expected
        )
        self.counts: dict[str, float] = defaultdict(float)
        self.n_runs = 0

    def run(self, name: str) -> tuple[float, bool]:
        from project_fauna_spark import pipeline
        from project_fauna_spark.sources.http import RetryPolicy

        tr = self.tracer if self.tracer and self.tracer.enabled else None
        posts = os.path.join(self.work_dir, "posts")
        shutil.rmtree(posts, ignore_errors=True)
        os.makedirs(posts)
        count_path = os.path.join(self.work_dir, "requests.log") if tr else None
        if count_path and os.path.exists(count_path):
            os.remove(count_path)
        api = fakeapi.FakeApi(self.seed, N_ANIMALS, posts, count_path)
        policy = RetryPolicy(retries=6, backoff_base=0.0, backoff_cap=0.0, jitter_max=0.0)
        t0 = time.perf_counter()
        if tr:
            with tr.span("plans.build"):
                plan = pipeline.run_pipeline(
                    self.spark, api, batch_size=100, as_of=fakeapi.AS_OF, policy=policy
                )
            with tr.span("action"):
                receipts = plan.collect()
        else:
            plan = pipeline.run_pipeline(
                self.spark, api, batch_size=100, as_of=fakeapi.AS_OF, policy=policy
            )
            receipts = plan.collect()
        dt = time.perf_counter() - t0
        bodies = fakeapi.read_posts(posts)
        if tr:
            self._count_requests(api, bodies, count_path)
        return dt, self._check(receipts, bodies)

    def _check(self, receipts, bodies) -> bool:
        records = fakeapi.posted_records(bodies)
        by_id = {r["id"]: r for r in records}
        n = len(records)
        return (
            len(by_id) == n
            and by_id == self.expected
            and len(receipts) == len(bodies) == math.ceil(n / 100)
            and all(r["status"] == 200 for r in receipts)
            and sum(r["n_records"] for r in receipts) == n
            and all(len(json.loads(b)) <= 100 for b in bodies)
        )

    def _count_requests(self, api, bodies, count_path) -> None:
        """Requests the fake API served, beside the count one pipeline
        run needs (``http.expected_requests``).  Request counts are work,
        not output, so a difference is reported, not failed."""
        with open(count_path, "rb") as f:
            log = f.read()
        want = fakeapi.expected_requests(api, bodies)
        c = self.counts
        c["http.requests"] += len(log)
        c["http.expected_requests"] += want["requests"]
        c["http.retries"] += log.count(b"r")
        c["http.gave_up"] += 0  # a one-shot 500 never exhausts the retry budget
        c["sink.batches"] += len(bodies)
        records = fakeapi.posted_records(bodies)
        c["sink.records_per_batch"] += len(records) / max(1, len(bodies))
        # Posted records lacking born_at, less those whose raw value was NULL.
        c["pipeline.n_invalid_born_at"] += sum("born_at" not in r for r in records) - self.n_null_born_at
        self.n_runs += 1


def _descendant_pids(root: int) -> list[int]:
    children = defaultdict(list)
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
                children[ppid].append(int(d))
            except (OSError, ValueError, IndexError):
                pass
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def peak_rss_mb() -> float:
    """Peak resident set (VmHWM) summed over the JVM and the Python
    worker processes, all descendants of this process."""
    total_kb = 0
    for pid in _descendant_pids(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            pass
    return total_kb / 1024.0


class Runner:
    def __init__(self, workload, release, tracer: Tracer | None, spark):
        self.w, self.release, self.tracer, self.spark = workload, release, tracer, spark
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.layer: dict[str, float] = defaultdict(float)
        self.traced_passes = 0
        self.traced_wall = 0.0

    def op(self, name: str) -> float:
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            dt, ok = self.w.run(name)
        except Exception:
            dt, ok = time.perf_counter() - t0, False
            self.errors.append(traceback.format_exc(limit=3)[-2000:])
        if not ok:
            self.failed += 1
            if len(self.errors) < 5:
                self.errors.append(f"{name}: result mismatch")
        return dt

    def round(self, traced: bool) -> dict[str, tuple[float, float]]:
        """One cold + warm invocation of every operation."""
        tr = self.tracer
        if tr:
            tr.enabled = traced
        if traced:
            sparkstats.drain(self.spark)
            exec0 = sparkstats.last_execution_id(self.spark)
            ex0 = sparkstats.executor_totals(self.spark)
            jobs0 = sparkstats.job_count(self.spark)
            span0 = len(tr.spans)
            t0 = time.perf_counter()
        out = {}
        for name in self.w.ops:
            cold = self.op(name)
            warm = self.op(name)
            if traced:
                self.layer["cache.pinned_bytes"] += sparkstats.storage_bytes(self.spark)
            n = self.release()
            if traced:
                self.layer["cache.pins"] += n
            out[name] = (cold, warm)
        if traced:
            wall = time.perf_counter() - t0
            sparkstats.drain(self.spark)
            for k, v in sparkstats.sql_counters(
                self.spark, exec0, sparkstats.last_execution_id(self.spark)
            ).items():
                self.layer[k] += v
            self.layer["exec.jobs"] += sparkstats.job_count(self.spark) - jobs0
            ex1 = sparkstats.executor_totals(self.spark)
            for k in ex1:
                self.layer[k] += ex1[k] - ex0.get(k, 0.0)
            for k, v in tr.self_times(span0).items():
                self.layer[f"{k}_s"] += v
            for k, v in tr.counts(span0).items():
                self.layer[f"{k}_calls"] += v
            self.traced_passes += 2
            self.traced_wall += wall
        if tr:
            tr.enabled = True
        return out


def main(argv=None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--rounds", type=int, required=True)
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--data-dir", default=None)
    p.add_argument("--work-dir", required=True)
    p.add_argument("--expected", default=None)
    p.add_argument("--out", required=True)
    p.add_argument("--setup-only", action="store_true")
    a = p.parse_args(argv)

    tracer = Tracer() if a.trace else None
    if tracer:
        _install_wrappers(tracer)
    import project_fauna_spark.session as session

    spark = session.get_spark()
    t0 = time.perf_counter()
    import project_fauna_spark.plans as plans

    import_s = time.perf_counter() - t0
    print("READY", flush=True)
    if a.setup_only:
        # run.py stops the JVM and its Python workers.
        os._exit(0)
    import project_fauna_spark.cache as cache

    if a.workload == "dedup_text":
        with open(a.expected) as f:
            w = DedupWorkload(spark, plans, a.data_dir, json.load(f), tracer)
    else:
        w = EtlWorkload(spark, a.seed, a.work_dir, tracer)
    r = Runner(w, cache.release_cached, tracer, spark)

    # 1. One warm-up round, so every run measures from the same point on
    # the JIT's warm-up curve.  Its cold invocations are the first pass.
    first = r.round(traced=False)
    first_s = sum(cold for cold, _ in first.values())
    t_measure = time.perf_counter()
    rounds = max(2 if tracer else 1, a.rounds)
    samples = [(traced, r.round(traced)) for traced in (bool(tracer) and i % 2 == 0 for i in range(rounds))]
    measured_s = time.perf_counter() - t_measure

    untraced = [s for traced, s in samples if not traced] or [s for _, s in samples]
    per_query = {
        name: {
            "cold": [s[name][0] for s in untraced],
            "warm": [s[name][1] for s in untraced],
        }
        for name in w.ops
    }
    if w.pins:
        cold_s = sum(median(v["cold"]) for v in per_query.values())
        warm_s = sum(median(v["warm"]) for v in per_query.values())
    else:
        # Nothing is pinned, so a cold and a warm invocation do the same
        # work: both metrics take the median over all of the samples.
        cold_s = warm_s = sum(median(v["cold"] + v["warm"]) for v in per_query.values())
    metrics = {
        "first_s": first_s,
        "cold_s": cold_s,
        "warm_s": warm_s,
        "records_per_s": w.records_per_pass / cold_s,
        "peak_rss_mb": peak_rss_mb(),
    }
    result = {
        "metrics": metrics,
        "attempted": r.attempted,
        "failed": r.failed,
        "errors": r.errors,
        "samples": {"rounds": len(untraced), "per_query": per_query},
        "warmup_round_s": sum(c + w_ for c, w_ in first.values()),
        "measured_round_s": [sum(c + w_ for c, w_ in s.values()) for _, s in samples],
        "measured_s": measured_s,
        "java_version": spark._jvm.java.lang.System.getProperty("java.version"),
        "spark_version": spark.version,
    }
    if tracer:
        result["layer"] = _layer_metrics(r, w, tracer, samples, per_query, import_s, spark)
    result["worker_s"] = time.perf_counter() - t0
    with open(a.out, "w") as f:
        json.dump(result, f)
    # Skip the graceful stop: run.py kills and reaps the JVM and its
    # Python workers once this process has exited.
    sys.stdout.flush()
    os._exit(0)


def _layer_metrics(r: Runner, w, tracer: Tracer, samples, per_query, import_s, spark) -> dict:
    """Per-layer metrics per pass (one cold or warm invocation of the
    whole workload), averaged over the traced passes; pins count per
    cold pass, since only cold passes build them."""
    n = max(1, r.traced_passes)
    L = r.layer
    cores = int(spark.sparkContext.defaultParallelism)
    get = lambda k: L.get(k, 0.0) / n  # noqa: E731
    out = {
        "session.start_s": sum(s.end - s.start for s in tracer.spans if s.name == "session.start"),
        "session.configure_calls": get("session.configure_calls"),
        "session.configure_s": get("session.configure_s"),
        "plans.import_s": import_s,
        "plans.build_s": get("plans.build_s"),
        "plans.eager_jobs": getattr(w, "eager_jobs", 0) / n,
        "io.load_table_calls": get("io.load_table_calls"),
        "io.load_table_s": get("io.load_table_s"),
        "io.scan_bytes": get("io.scan_bytes"),
        "io.scan_rows": get("io.scan_rows"),
        "io.scan_s": get("io.scan_s"),
        "cache.pins": L.get("cache.pins", 0.0) / max(1, n // 2),
        "cache.pinned_bytes": L.get("cache.pinned_bytes", 0.0) / max(1, n // 2),
        "cache.release_s": get("cache.release_s"),
        "shingles.join_rows_in": get("shingles.join_rows_in"),
        "shingles.cand_pairs": get("shingles.cand_pairs"),
        "shingles.result_pairs": get("shingles.result_pairs"),
        "shingles.join_s": get("shingles.join_s"),
        "exec.jobs": get("exec.jobs"),
        "exec.tasks": get("exec.tasks"),
        "exec.task_busy_s": get("exec.task_busy_s"),
        "exec.gc_s": get("exec.gc_s"),
        "exec.utilization": L.get("exec.task_busy_s", 0.0) / max(1e-9, r.traced_wall * cores),
        "exec.shuffle_write_bytes": get("exec.shuffle_write_bytes"),
        "exec.shuffle_read_bytes": get("exec.shuffle_read_bytes"),
        "exec.spill_bytes": get("exec.spill_bytes"),
        "exec.broadcast_build_s": get("exec.broadcast_build_s"),
        "arrow.rows_to_python": get("arrow.rows_to_python"),
        "arrow.rows_from_python": get("arrow.rows_from_python"),
        "arrow.bytes_to_python": get("arrow.bytes_to_python"),
        "arrow.bytes_from_python": get("arrow.bytes_from_python"),
        "http.ids_s": get("http.ids_s"),
        "http.details_s": get("http.details_s"),
        "pipeline.transform_s": get("pipeline.transform_s"),
        "sink.post_s": get("sink.post_s"),
        "action_s": get("action_s"),
    }
    out["shingles.useful_ratio"] = (
        out["shingles.result_pairs"] / out["shingles.cand_pairs"] if out["shingles.cand_pairs"] else 0.0
    )
    # The candidate join's share of all task time.
    out["shingles.join_share"] = out["shingles.join_s"] / max(1e-9, out["exec.task_busy_s"])
    etl = isinstance(w, EtlWorkload)
    for key in ETL_COUNTERS:
        out[key] = w.counts.get(key, 0.0) / max(1, w.n_runs) if etl else 0.0
    out["pipeline.expected_invalid_born_at"] = float(w.n_invalid) if etl else 0.0
    traced = [sum(c + w_ for c, w_ in s.values()) for t, s in samples if t]
    plain = [sum(c + w_ for c, w_ in s.values()) for t, s in samples if not t]
    out["trace.overhead_s"] = (median(traced) - median(plain)) / 2 if traced and plain else 0.0
    for name in DEDUP_QUERIES + ["etl_animals"]:
        v = per_query.get(name)
        out[f"q.{name}.cold_s"] = median(v["cold"]) if v else 0.0
        out[f"q.{name}.warm_s"] = median(v["warm"]) if v else 0.0
    return out


if __name__ == "__main__":
    sys.exit(main())
