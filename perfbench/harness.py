"""Closed-loop load: one client in one Python process runs jobs back to
back on ``local[N]``. A job is one pass over the workload's ops in their
fixed order; each op's result is forced through Spark's ``noop`` sink and
checked against DuckDB. Warm-up passes are untimed.
"""

from __future__ import annotations

import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

import check
from spans import Tracer, read_event_log
from workloads import REGISTRY_OPS, Op, Workload, force


@dataclass
class OpResult:
    name: str
    layer: str
    call_s: float
    exec_s: float
    input_rows: int
    problems: list[str]
    group: str | None = None

    @property
    def op_s(self) -> float:
        return self.call_s + self.exec_s


@dataclass
class JobResult:
    ops: list[OpResult] = field(default_factory=list)
    traced: bool = False

    @property
    def job_s(self) -> float:
        return sum(r.op_s for r in self.ops)

    @property
    def failed(self) -> int:
        return sum(1 for r in self.ops if r.problems)


class Runner:
    def __init__(self, spark, workload: Workload, tracer: Tracer):
        self.spark = spark
        self.tracer = tracer
        self.ops = workload.ops(spark)
        self.n_ops = 0

    def _group(self, name: str | None) -> None:
        sc = self.spark.sparkContext
        if name is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            sc.setJobGroup(name, name)

    def run_op(self, op: Op, traced: bool, trace_id: int) -> OpResult:
        self.n_ops += 1
        group = f"op{self.n_ops}:{op.name}" if traced else None
        self._group(group)
        call_s = exec_s = 0.0
        try:
            with self.tracer.span(f"{op.layer}.{op.name}", trace_id):
                t = time.perf_counter()
                with self.tracer.span(f"{op.layer}.{op.name}.call", trace_id):
                    df = op.build()
                call_s = time.perf_counter() - t
                with self.tracer.span(f"{op.layer}.{op.name}.exec", trace_id):
                    exec_s, got = force(df)
            if op.want is not None:
                problems = check.mismatches(got, op.want)
            else:
                # the first result is verified in full; later results of the
                # same op on the same inputs must then repeat its checksum
                problems = op.verify(df)
                if not problems:
                    op.want = got
        except Exception as e:  # an op that raises is a failed op; keep running
            traceback.print_exc(file=sys.stderr)
            problems = [f"raised {type(e).__name__}: {e}"]
        finally:
            self._group(None)
        if problems:
            print(f"[perfbench] {op.name} failed: {problems}", file=sys.stderr)
        return OpResult(op.name, op.layer, call_s, exec_s, op.input_rows, problems, group)

    def run_job(self, traced: bool, trace_id: int) -> JobResult:
        """One pass over the ops; releases every ``operators.dedup`` cache
        entry the job registered. A job that leaves an entry registered
        fails all its ops."""
        from spark_skew_join_spark.operators import dedup

        snap = dedup.cache_snapshot()
        job = JobResult(traced=traced)
        with self.tracer.span("job", trace_id):
            for op in self.ops:
                job.ops.append(self.run_op(op, traced, trace_id))
        dedup.release_entries(*dedup.entries_since(snap))
        if dedup.cache_snapshot() != snap:
            for r in job.ops:
                r.problems.append("job left an operators.dedup cache entry registered")
        return job


def _vm_hwm_mb(pid: int | str) -> float:
    """Peak resident set size of a process, from /proc."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _median(xs, default=0.0) -> float:
    return statistics.median(xs) if xs else default


def _p90(xs) -> float:
    return statistics.quantiles(xs, n=10, method="inclusive")[-1] if len(xs) > 1 else xs[0]


def run(workload: Workload, seconds: float, trace: bool, cpus: int, event_dir: str | None):
    """Prepare, set up, warm up and measure one workload; returns the
    result object the benchmark prints."""
    from spark_skew_join_spark.sources.tables import get_spark

    workload.prepare()
    tracer = Tracer(enabled=trace)
    t0 = time.perf_counter()
    spark = get_spark("perfbench", cpus=cpus)
    session_s = time.perf_counter() - t0
    jvm = spark.sparkContext._gateway.proc
    try:
        runner = Runner(spark, workload, tracer)
        warm = runner.run_job(traced=False, trace_id=0)
        setup_s = time.perf_counter() - t0
        jobs: list[JobResult] = []
        start = time.perf_counter()
        # at least two jobs, so a run never rests on one sample (a third
        # would add about 10 s to every run); the
        # traced run alternates untraced and traced jobs (at least three,
        # so the traced ones sit between untraced ones while the JIT still
        # warms up) and the ratio of their medians is the tracing overhead
        min_jobs = 3 if trace else 2
        while True:
            traced = trace and len(jobs) % 2 == 1
            tracer.enabled = traced
            jobs.append(runner.run_job(traced, trace_id=len(jobs) + 1))
            if time.perf_counter() - start >= seconds and len(jobs) >= min_jobs:
                break
        tracer.enabled = trace
        probes = workload.probes(spark, runner.tracer) if trace else {}
        peak_rss = _vm_hwm_mb("self") + _vm_hwm_mb(jvm.pid)
    finally:
        spark.stop()
        _stop_jvm(jvm)

    ops = [r for j in jobs for r in j.ops]
    for name in dict.fromkeys(r.name for r in ops):
        mine = [r for r in ops if r.name == name]
        print(
            f"[perfbench] {name}: call {_median([r.call_s for r in mine]):.3f} s, "
            f"exec {_median([r.exec_s for r in mine]):.3f} s over {len(mine)} calls",
            file=sys.stderr,
        )
    print(f"[perfbench] jobs: {[round(j.job_s, 3) for j in jobs]} s", file=sys.stderr)
    attempted = len(ops)
    failed = sum(1 for r in ops if r.problems)
    correct = failed == 0 and warm.failed == 0
    if trace:
        metrics = layer_metrics(workload, jobs, probes, session_s, setup_s - session_s, event_dir)
        metrics["process.peak_rss_mb"] = (peak_rss, "MB")
    else:
        times = [r.op_s for r in ops]
        metrics = {
            "setup_s": (setup_s, "s"),
            "job_s": (_median([j.job_s for j in jobs]), "s"),
            "op_s_p90": (_p90(times), "s"),
            "rows_per_s": (sum(r.input_rows for r in ops) / sum(times), "1/s"),
        }
    return {
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }, tracer


def _stop_jvm(proc) -> None:
    """End the py4j gateway JVM this process launched and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc.stdin is not None:
        proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except Exception:  # the JVM ignored its closed stdin; stop it hard
        proc.kill()
        proc.wait(timeout=30)


def layer_metrics(wl, jobs, probes, session_s, warmup_s, event_dir) -> dict:
    traced = [j for j in jobs if j.traced]
    untraced = [j for j in jobs if not j.traced]
    ops = [r for j in traced for r in j.ops]

    def med_op(name, attr="op_s"):
        return _median([getattr(r, attr) for r in ops if r.name == name])

    def med_job(pred, attr="op_s"):
        return _median([sum((getattr(r, attr) for r in j.ops if pred(r)), 0.0) for j in traced])

    m: dict[str, tuple[float, str]] = {
        "sources.session_s": (session_s, "s"),
        "sources.warmup_s": (warmup_s, "s"),
    }
    build = probes.get("cms_build_s", 0.0)
    m["sketch.cms_build_s"] = (build, "s")
    m["sketch.cms_rows_per_s"] = (wl.facts["left_rows"] / build if build else 0.0, "1/s")
    m["sketch.cms_rel_error"] = (probes.get("cms_rel_error", 0.0), "ratio")

    skew_ops = [r for r in ops if r.layer == "skew_join"]
    m["skew_join.prepass_s"] = (_median([r.call_s for r in skew_ops]), "s")
    m["skew_join.exec_s"] = (_median([r.exec_s for r in skew_ops]), "s")
    m["skew_join.out_partition_skew"] = (probes.get("out_partition_skew", 0.0), "ratio")
    plain = probes.get("plain_s", {})
    m["skew_join.vs_plain"] = (
        sum(med_op(n) for n in plain) / sum(plain.values()) if plain else 0.0,
        "ratio",
    )

    m["dedup.exact_s"] = (med_op("exact_dedup"), "s")
    m["dedup.shingles_s"] = (med_op("shingles"), "s")
    m["dedup.minhash_construct_s"] = (med_op("minhash_pairs", "call_s"), "s")
    m["dedup.pairs_s"] = (med_op("minhash_pairs", "exec_s"), "s")
    m["dedup.pairs"] = (_median(getattr(wl, "pair_counts", [])), "count")
    m["text.annotate_s"] = (med_job(lambda r: r.layer == "text"), "s")

    is_query = lambda r: r.name in REGISTRY_OPS  # noqa: E731
    m["queries.plan_s"] = (med_job(is_query, "call_s"), "s")
    m["queries.exec_s"] = (med_job(is_query, "exec_s"), "s")

    engine = read_event_log(event_dir) if event_dir else {}
    per_op = [engine[r.group] for r in ops if r.group in engine]
    n = max(1, len(per_op))
    m["spark.jobs"] = (sum(e.jobs for e in per_op) / n, "count")
    m["spark.tasks"] = (sum(e.tasks for e in per_op) / n, "count")
    m["spark.shuffle_write_mb"] = (sum(e.shuffle_write_bytes for e in per_op) / n / 2**20, "MB")
    m["spark.spill_mb"] = (sum(e.spill_bytes for e in per_op) / n / 2**20, "MB")
    inputs = sum(e.input_records for e in per_op)
    m["spark.shuffle_rows_per_input_row"] = (
        sum(e.shuffle_write_records for e in per_op) / inputs if inputs else 0.0,
        "ratio",
    )
    m["spark.task_skew"] = (_median([e.task_skew() for e in per_op], 1.0), "ratio")
    m["spark.gc_s"] = (sum(e.gc_ms for e in per_op) / n / 1000.0, "s")
    m["spark.task_failures"] = (sum(e.failed_tasks for e in per_op), "count")
    m["trace.overhead"] = (
        _median([j.job_s for j in traced]) / _median([j.job_s for j in untraced], 1.0)
        if untraced
        else 1.0,
        "ratio",
    )
    return m
