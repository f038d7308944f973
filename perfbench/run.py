#!/usr/bin/env python3
"""Benchmark for drill_calcite_spark, driven from outside the package.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Workloads (closed loop, see workloads.py):
``olap_batch`` and ``mixed_traffic`` (interactive SQL sessions, a DML
writer and an LLM dedup client at once).

A run pins its environment (local[nproc], shuffle partitions = nproc, a
fixed driver heap below machine memory, its own warehouse and scratch
directory under ``.bench_runs/``), builds a cold session, and sets the
workload up including an untimed warm-up. It then runs whole seeded
rounds: ``--seconds`` divided by the client's ``round_seconds`` (a
round's nominal length on a 4-core host, workloads.py), rounded, at
least one, per client. A fixed count keeps every run's operation mix
and sample count the same; a slower host takes longer to measure the
same operations. Every operation ends in the action a user runs
(collecting the result rows, or the write itself); its rows are checked
against DuckDB outside the timed region. DuckDB runs in a child process
of its own (oracle.py) that is left out of every memory figure. Failures
and mismatches are counted and named; nothing is cleaned up between
operations.

With ``--trace 0`` the last stdout line carries the end-to-end metrics:
``setup_s`` (process start to first timed operation), ``throughput_ops_s``
(correct operations per second of the timed run), ``latency_p50_s``,
``latency_tail_s`` (the highest percentile with at least ten samples
beyond it; the percentile and sample count are printed above) and
``peak_rss_mb`` (driver, JVM and Python workers together, sampled every
0.2 s from before the session starts to the end of the timed operations;
each process counts its PSS, so pages a fork shares with its parent count
once; the DuckDB oracle process is not counted).
``failed_ratio`` is printed above and is ``failed / attempted`` of the
result line; the p50 of the DML writer's writes and reads is printed too.

With ``--trace 1`` the package's public functions are wrapped wherever
they are bound and every call becomes a span (tracing.py); the last line
carries the per-layer metrics. ``*_s`` metrics are the mean time per
call over the timed operations (``sql.calcite_sql_s`` is self time;
setup-only calls such as ``session.get_spark_s`` count all calls), ``s/op``
metrics are per timed operation. ``trace.*`` gives the traced run's own
end-to-end figures and ``trace.span_cost_s_per_op`` the wrappers'
measured cost; the tracing overhead against an untraced run of the same
workload and seed, when one was recorded in ``.bench_out/``, is printed
above. Spans are written to ``.bench_out/<workload>-seed<seed>-spans.json``.
"""

from __future__ import annotations

import time

_T0 = time.perf_counter()

import argparse  # noqa: E402
import itertools  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from collections import Counter  # noqa: E402
from concurrent.futures import ThreadPoolExecutor  # noqa: E402
from dataclasses import dataclass  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import probes  # noqa: E402
import stats  # noqa: E402
from oracle import Oracle  # noqa: E402
from workloads import WORKLOADS, Context  # noqa: E402


def process_age() -> float:
    """Seconds since this process started, from /proc (10 ms ticks)."""
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    with open("/proc/self/stat") as fh:
        raw = fh.read()
    start_ticks = int(raw[raw.rfind(")") + 2:].split()[19])
    return max(0.0, uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


_AGE0 = process_age()


def pin_environment(run_dir: str) -> dict:
    """Size the session to this host and keep every write in ``run_dir``.
    Must run before the package (which reads these at import) loads."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_mb = int(fh.readline().split()[1]) // 1024
    heap_mb = min(2048, mem_mb // 4)
    dirs = {k: os.path.join(run_dir, k)
            for k in ("warehouse", "local", "tmp")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_mb}m",
        "SPARK_GRAFT_WAREHOUSE": dirs["warehouse"],
        "SPARK_LOCAL_DIRS": dirs["local"],
        "TMPDIR": dirs["tmp"],
    })
    return {"cpus": cpus, "master": f"local[{cpus}]",
            "shuffle_partitions": cpus, "machine_memory_mb": mem_mb,
            "driver_memory": f"{heap_mb}m", "warehouse": dirs["warehouse"],
            "local_dirs": dirs["local"], "tmpdir": dirs["tmp"],
            "run_dir": run_dir}


@dataclass(slots=True)
class Record:
    op: object
    latency: float
    error: "str | None"
    result: object


class Runner:
    def __init__(self, wl, ctx, seed) -> None:
        self.wl, self.ctx, self.seed = wl, ctx, seed
        self.records: list[Record] = []
        self.per_op: dict[int, dict] = {}
        self.pauses = [0.0] * wl.clients
        self._ids = itertools.count()
        self._jvm = probes.Jvm(ctx.spark) if ctx.tracer else None

    def _client(self, client: int, seconds: float) -> None:
        wl, ctx, tracer = self.wl, self.ctx, self.ctx.tracer
        state = wl.client_state(ctx, client)
        sequence = wl.sequence(self.seed, client)
        for _ in range(wl.rounds(seconds, client)):
            for op in next(sequence):
                op_id = next(self._ids)
                if tracer:
                    tracer.set_op(op_id)
                    ctx.spark.sparkContext.setJobGroup(
                        f"perfbench-op{op_id}", op.label)
                start = time.perf_counter()
                try:
                    result, error = wl.run(ctx, state, op), None
                except Exception as exc:  # counted, named, run goes on
                    result, error = None, f"{type(exc).__name__}: {exc}"
                latency = time.perf_counter() - start
                pause = time.perf_counter()
                if tracer:
                    tracer.set_op(None)
                    jobs, tasks, failed = self._jvm.job_group_counts(
                        f"perfbench-op{op_id}")
                    self.per_op[op_id] = {
                        "jobs": jobs, "tasks": tasks, "failed_tasks": failed,
                        "persisted_rdds": self._jvm.persisted_rdds()}
                rec = Record(op, latency, error, result)
                if wl.inline(op) and error is None:
                    rec.error = self._check(op, result)
                    rec.result = None
                self.records.append(rec)
                self.pauses[client] += time.perf_counter() - pause

    def ok(self) -> int:
        return sum(1 for r in self.records if r.error is None)

    def busy(self, wall: float) -> float:
        """Timed wall time minus the inline checks of clients that ran
        alone in their phase (nothing else ran meanwhile)."""
        return wall - sum(self.pauses[p[0]] for p in self.wl.phases()
                          if len(p) == 1)

    def _check(self, op, result) -> "str | None":
        try:
            return self.wl.check(self.ctx, op, result)
        except Exception as exc:
            return f"check raised {type(exc).__name__}: {exc}"

    def run(self, seconds: float) -> float:
        """Closed-loop timed run: phase after phase, the phase's clients
        run concurrently, each the whole rounds its workload sets for
        ``seconds``; returns the wall time in seconds."""
        start = time.perf_counter()
        for phase in self.wl.phases():
            with ThreadPoolExecutor(len(phase)) as pool:
                for f in [pool.submit(self._client, c, seconds)
                          for c in phase]:
                    f.result()
        return time.perf_counter() - start

    def check_results(self) -> None:
        """Check the rows the timed phase kept (not inline-checked)."""
        for rec in self.records:
            if rec.error is None and not self.wl.inline(rec.op):
                rec.error = self._check(rec.op, rec.result)
            rec.result = None


def end_to_end(runner: Runner, wall: float, setup_s: float,
               peak_rss: int) -> tuple[dict, list[str]]:
    recs = runner.records
    lat = [r.latency for r in recs]
    ok, busy = runner.ok(), runner.busy(wall)
    tail, pct, beyond = stats.tail_latency(lat)
    metrics = {
        "setup_s": (setup_s, "s"),
        "throughput_ops_s": (ok / busy, "1/s"),
        "latency_p50_s": (stats.median(lat), "s"),
        "latency_tail_s": (tail, "s"),
        "peak_rss_mb": (peak_rss / 2**20, "MB"),
    }
    notes = [
        f"ops attempted={len(recs)} failed={len(recs) - ok} "
        f"failed_ratio={stats.failed_ratio(len(recs), len(recs) - ok):.4f} "
        f"timed_wall_s={wall:.3f} busy_s={busy:.3f}",
        f"latency_tail_s is p{pct:.1f} of {len(lat)} samples "
        f"({beyond} beyond it)",
    ]
    for access in ("write", "read"):
        xs = [r.latency for r in recs if runner.wl.access(r.op) == access]
        if xs:
            notes.append(f"{access}_latency_p50_s={stats.median(xs):.6f} "
                         f"over {len(xs)} table-modify ops")
    kinds: dict[str, list[float]] = {}
    for r in recs:
        kinds.setdefault(r.op.kind, []).append(r.latency)
    notes.append("p50 by kind: " + " ".join(
        f"{k}={stats.median(v):.3f}" for k, v in sorted(kinds.items())))
    failures = Counter(r.op.kind for r in recs if r.error is not None)
    for kind, n in sorted(failures.items()):
        first = next(r for r in recs if r.op.kind == kind and r.error)
        notes.append(f"FAILED {kind} x{n}: {first.error[:400]}")
    return metrics, notes


def per_layer(runner: Runner, wall: float, cpu: dict,
              span_cost: float) -> dict:
    tracer = runner.ctx.tracer
    spans = tracer.spans
    by_id = {s[0]: s for s in spans}
    selfs = stats.self_times(spans)
    n_ops = len(runner.records)
    timed = [s for s in spans if s[5] is not None]

    def calls(name, pool=timed):
        # outermost calls only: recursion would double count
        return [s for s in pool if s[1] == name and
                (s[4] is None or by_id[s[4]][1] != name)]

    def mean_s(name, pool=timed, self_time=False):
        xs = calls(name, pool)
        if not xs:
            return 0.0
        return sum(selfs[s[0]] if self_time else s[3] - s[2]
                   for s in xs) / len(xs)

    def ratio(name):
        xs = [tracer.marks[s[0]] for s in calls(name) if s[0] in tracer.marks]
        return sum(xs) / len(xs) if xs else 0.0

    def top_operator_s():
        def is_op(s):
            return s[1].startswith("operators.")
        top = [s for s in timed if is_op(s) and
               (s[4] is None or not is_op(by_id[s[4]]))]
        return sum(s[3] - s[2] for s in top) / n_ops

    per_op = list(runner.per_op.values())
    m = {
        "session.get_spark_s": (mean_s("session.get_spark", spans), "s"),
        "catalog.register_tables_s": (
            mean_s("catalog.register_tables", spans), "s"),
        "catalog.read_table_calls": (
            len(calls("catalog.read_table")) / n_ops, "1/op"),
        "catalog.read_table_s": (mean_s("catalog.read_table"), "s"),
        "catalog.read_table_hit_ratio": (ratio("catalog.read_table"),
                                         "ratio"),
        "queries.build_s": (mean_s("queries.build"), "s"),
        "sql.rewrite_s": (mean_s("sql.rewrite"), "s"),
        "sql.calcite_sql_s": (mean_s("sql.calcite_sql", self_time=True),
                              "s"),
        "sql.calcite_sql_calls": (len(calls("sql.calcite_sql")) / n_ops,
                                  "1/op"),
        "plans.try_substitute_s": (mean_s("plans.try_substitute"), "s"),
        "plans.substitution_hit_ratio": (ratio("plans.try_substitute"),
                                         "ratio"),
        "plans.mv_create_s": (mean_s("plans.mv_create", spans), "s"),
        "operators.build_s": (top_operator_s(), "s/op"),
        "exec.action_s": (mean_s("exec.action"), "s"),
        "exec.jobs_per_op": (sum(p["jobs"] for p in per_op) / n_ops,
                             "1/op"),
        "exec.tasks_per_op": (sum(p["tasks"] for p in per_op) / n_ops,
                              "1/op"),
        "exec.failed_tasks": (sum(p["failed_tasks"] for p in per_op),
                              "count"),
        "exec.jvm_cpu_s": (cpu["jvm"] / n_ops, "s/op"),
        "exec.python_worker_cpu_s": (cpu["workers"] / n_ops, "s/op"),
        "exec.gc_s": (cpu["gc"] / n_ops, "s/op"),
        "exec.persisted_rdds": (per_op[-1]["persisted_rdds"] if per_op
                                else 0, "count"),
    }
    for fn in ("insert_into", "update_where", "delete_where", "merge_into",
               "compact", "version_diff", "read_versioned"):
        m[f"modify.{fn}_s"] = (mean_s(f"modify.{fn}"), "s")
    writes = runner.ctx.state.get("write_stats", [])
    # compact changes no rows, so it has no write amplification
    amp = [w["version_bytes"] / w["changed_bytes"] for w in writes
           if w["changed_bytes"]]
    m["modify.bytes_written_per_op"] = (
        sum(w["version_bytes"] for w in writes) / len(writes)
        if writes else 0.0, "B")
    m["modify.write_amp"] = (sum(amp) / len(amp) if amp else 0.0, "ratio")
    m["modify.space_amp"] = (
        sum(w["table_bytes"] / w["version_bytes"] for w in writes)
        / len(writes) if writes else 0.0, "ratio")
    m["trace.latency_p50_s"] = (
        stats.median([r.latency for r in runner.records]), "s")
    m["trace.throughput_ops_s"] = (runner.ok() / runner.busy(wall), "1/s")
    m["trace.spans_per_op"] = (len(timed) / n_ops, "1/op")
    m["trace.span_cost_s_per_op"] = (span_cost * len(timed) / n_ops, "s/op")
    return m


def tracing_overhead(traced: dict, untraced_path: str) -> list[str]:
    """Compare the traced run's end-to-end figures with the untraced run
    of the same workload and seed, when one was recorded."""
    if not os.path.exists(untraced_path):
        return ["tracing overhead: no untraced run of this seed recorded "
                "(run it with --trace 0 first)"]
    with open(untraced_path) as fh:
        base = json.load(fh)
    parts = [f"{k} {100.0 * (v - base[k]) / base[k]:+.1f}%"
             for k, (v, _u) in traced.items() if base.get(k)]
    return ["tracing overhead vs the untraced run: " + ", ".join(parts)]


def _rmdir_if_empty(path: str) -> None:
    try:
        os.rmdir(path)
    except OSError:
        pass


def span_cost() -> float:
    """Measured cost of one traced call over an untraced one."""
    from tracing import Tracer

    def noop():
        return None

    traced = Tracer().wrap("calibrate", noop)
    n = 20000
    t0 = time.perf_counter()
    for _ in range(n):
        noop()
    t1 = time.perf_counter()
    for _ in range(n):
        traced()
    t2 = time.perf_counter()
    return max(0.0, ((t2 - t1) - (t1 - t0)) / n)


def stop_session(spark) -> None:
    """Stop Spark, then the py4j gateway JVM, and wait for both."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def reap_children() -> None:
    """Kill and wait for any process this run left behind."""
    me = os.getpid()
    for pid in probes.descendants(me)[1:]:
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass
    deadline = time.time() + 30
    while probes.descendants(me)[1:] and time.time() < deadline:
        try:
            os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            pass
        time.sleep(0.1)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    wl = WORKLOADS[args.workload]
    # a terminated run still stops its JVM and removes its scratch space
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    run_dir = os.path.join(ROOT, ".bench_runs",
                           f"{wl.name}-seed{args.seed}-{os.getpid()}")
    settings = pin_environment(run_dir)
    sys.path.insert(0, ROOT)
    try:
        import pyspark  # noqa: F401

        from drill_calcite_spark import catalog
    except ImportError as exc:
        print(f"perfbench: cannot import the package: {exc}", file=sys.stderr)
        shutil.rmtree(run_dir, ignore_errors=True)
        _rmdir_if_empty(os.path.dirname(run_dir))
        return 2
    data_root = os.path.dirname(os.path.abspath(catalog.DEFAULT_SF_DIR))
    settings["data_root"] = data_root
    missing = [s for s in sorted(wl.scales)
               if not os.path.isdir(os.path.join(data_root, f"sf{s}"))]
    if missing:
        print(f"perfbench: no sf{missing} tables under {data_root}",
              file=sys.stderr)
        shutil.rmtree(run_dir, ignore_errors=True)
        _rmdir_if_empty(os.path.dirname(run_dir))
        return 2

    oracle = Oracle()
    sampler = probes.MemorySampler(os.getpid(), exclude={oracle.pid}).start()
    tracer = spark = None
    try:
        if args.trace:
            import tracing

            from drill_calcite_spark.queries import all_queries

            all_queries()  # import every module that binds a target
            tracer = tracing.Tracer()
            tracing.install(tracer)
        from drill_calcite_spark import session

        spark = session.get_spark(
            app_name=f"perfbench_{wl.name}",
            extra_conf={"spark.ui.showConsoleProgress": "false",
                        # a fixed-size heap keeps peak RSS repeatable; no
                        # hsperfdata files outside the run directory
                        "spark.driver.extraJavaOptions":
                            f"-Xms{settings['driver_memory']} "
                            f"-Djava.io.tmpdir={settings['tmpdir']} "
                            "-XX:-UsePerfData"})
        spark.sparkContext.setLogLevel("ERROR")
        ctx = Context(spark=spark, data_root=data_root, run_dir=run_dir,
                      oracle=oracle, tracer=tracer)
        wl.setup(ctx)
        wl.warmup(ctx, args.seed)
        runner = Runner(wl, ctx, args.seed)
        jvm = probes.Jvm(spark)
        before = (jvm.cpu_seconds(), probes.python_worker_cpu_seconds(jvm.pid),
                  jvm.gc_seconds())
        rounds = [wl.rounds(args.seconds, c) for c in range(wl.clients)]
        setup_s = _AGE0 + (time.perf_counter() - _T0)
        wall = runner.run(args.seconds)
        peak = sampler.stop()
        after = (jvm.cpu_seconds(), probes.python_worker_cpu_seconds(jvm.pid),
                 jvm.gc_seconds())
        cpu = dict(zip(("jvm", "workers", "gc"),
                       (b - a for a, b in zip(before, after))))
        runner.check_results()
        metrics, notes = end_to_end(runner, wall, setup_s, peak)
        out_dir = os.path.join(ROOT, ".bench_out")
        os.makedirs(out_dir, exist_ok=True)
        stem = os.path.join(out_dir, f"{wl.name}-seed{args.seed}")
        if tracer:
            notes += tracing_overhead(metrics, stem + "-e2e.json")
            metrics = per_layer(runner, wall, cpu, span_cost())
            tracer.write(stem + "-spans.json")
            notes.append(f"spans: {len(tracer.spans)} written to "
                         f"{os.path.relpath(stem, ROOT)}-spans.json")
        else:
            with open(stem + "-e2e.json", "w") as fh:
                json.dump({k: v for k, (v, _u) in metrics.items()}, fh)
    finally:
        sampler.stop()
        oracle.close()
        if spark is not None:
            stop_session(spark)
        reap_children()
        shutil.rmtree(run_dir, ignore_errors=True)
        _rmdir_if_empty(os.path.dirname(run_dir))

    print("# settings: " + " ".join(f"{k}={v}" for k, v in settings.items()))
    print(f"# workload={wl.name} seed={args.seed} clients={wl.clients} "
          f"seconds={args.seconds} rounds={rounds} trace={args.trace}")
    for line in notes:
        print("# " + line)
    for name, (value, unit) in metrics.items():
        print(f"# {name} = {value} {unit}")
    failed = len(runner.records) - runner.ok()
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(runner.records),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
