"""Steady-state benchmark of the ELT engine.

    python3 perfbench/run.py --workload elt_reload --seed 1 --seconds 20 --trace 0

Runs one closed-loop, single-client workload (see ``workloads.py``) from
the root of a checkout: pins the engine, prepares the seeded inputs, warms
up until op latency is steady (the info line reports the warm-up ops and
whether the workload's cap on them cut warm-up short), then runs checked
ops for ``--seconds``. The
last line of standard output is one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
every other timed op runs under spans and Spark's event log is on, and the
metrics are the per-layer ones (``metrics.py``); the spans are written to
``.perfbench_out/spans-<workload>-<seed>.jsonl``. The settings line printed
before the result echoes how the engine was pinned. The exit code is 0 only
if every output check passed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "fortune_500_financial_insights_pipeline_spark"
PREP_REPEATS = 3
# Warm-up ends when the last STEADY_OPS ops' latencies are within
# STEADY_FACTOR of each other (or at the workload's ``warmup_max_ops``,
# reported as capped).
STEADY_OPS = 2
STEADY_FACTOR = 1.15


def _steady(lat: list[float]) -> bool:
    last = lat[-STEADY_OPS:]
    return len(last) == STEADY_OPS and max(last) <= STEADY_FACTOR * min(last)


class Run:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool):
        self.name, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.work = os.path.join(ROOT, ".perfbench_work", f"{workload}-{os.getpid()}")
        self.spark = None
        self.i = 0
        self.warmup: list = []
        self.warmup_capped = False
        self.cycles: list = []
        self.probes: dict[str, float] = {}

    def start(self) -> None:
        import engine
        import workloads
        from spans import Tracer

        self.engine = engine
        os.makedirs(self.work)
        cores, env, conf = engine.settings(ROOT, self.work, self.trace)
        print("settings " + json.dumps({"cores": cores, "env": env, "conf": conf}), flush=True)
        t0 = time.perf_counter()
        self.spark = engine.start(cores, env, conf)
        self.session_s = time.perf_counter() - t0
        self.tracer = Tracer(self.spark.sparkContext if self.trace else None)
        self.ctx = workloads.Ctx(
            self.spark, self.work, self.seed, self.tracer, env["SPARK_LOCAL_DIRS"]
        )
        self.wl = workloads.WORKLOADS[self.name](self.ctx)

    def stop(self) -> None:
        """End Spark and every process it started; the event log is complete
        after this."""
        if self.spark is not None:
            spark, self.spark = self.spark, None
            try:
                if hasattr(self, "wl"):
                    self.wl.close()
            finally:
                self.engine.stop(spark)

    def cleanup(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)
        parent = os.path.dirname(self.work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)

    def _cycle(self, traced: bool, check: bool):
        import workloads

        self.ctx.settle()
        self.tracer.active = traced
        self.tracer.op = self.i if traced else None
        t0 = time.perf_counter()
        try:
            c = self.wl.cycle(self.i, check)
        except Exception as exc:  # noqa: BLE001 -- a failed op is counted, not fatal
            c = workloads.Cycle(op_s=time.perf_counter() - t0, problems=[f"{type(exc).__name__}: {exc}"])
        finally:
            self.tracer.active = False
        c.traced = traced
        self.i += 1
        return c

    def execute(self) -> None:
        if not self.trace:
            return self._execute()
        import probes

        with self.tracer.patched(probes.targets()):
            self._execute()
            self.tracer.active = True
            try:
                self.probes = probes.run(self.wl, self.ctx)
            finally:
                self.tracer.active = False

    def _execute(self) -> None:
        prep = []
        for rep in range(PREP_REPEATS):
            t0 = time.perf_counter()
            self.wl.prepare(rep)
            prep.append(time.perf_counter() - t0)
        self.prep_s = sorted(prep)[len(prep) // 2]
        t0 = time.perf_counter()
        while True:
            self.warmup.append(self._cycle(False, check=False))
            if _steady([c.op_s for c in self.warmup]):
                break
            if len(self.warmup) >= self.wl.warmup_max_ops:
                self.warmup_capped = True
                break
        self.warmup_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        while not (time.perf_counter() - t0 >= self.seconds and self.wl.enough(self.cycles)):
            self.cycles.append(self._cycle(self.trace and len(self.cycles) % 2 == 0, check=True))
        self.timed_s = time.perf_counter() - t0

    def result(self) -> dict:
        import metrics as M

        failed = [c for c in self.warmup + self.cycles if not c.ok]
        for c in failed[:5]:
            print("check failed: " + "; ".join(c.problems[:3]), file=sys.stderr)
        if self.trace:
            values, units = self.per_layer(), M.PER_LAYER
        else:
            values, units = self.end_to_end(), M.END_TO_END
        reconciled = values.pop("_reconciled", True)
        return {
            "correct": not failed and reconciled,
            "attempted": len(self.warmup) + len(self.cycles),
            "failed": len(failed),
            "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
        }

    def end_to_end(self) -> dict:
        import metrics as M

        cs = self.cycles
        reads = [r for c in cs for r in c.reads]
        lat = [c.op_s for c in cs]
        print("info " + json.dumps({
            "ops": len(cs), "reads": len(reads), "warmup_ops": len(self.warmup),
            "warmup_capped": self.warmup_capped,
            "warmup_op_s": [round(c.op_s, 4) for c in self.warmup],
            "op_s": [round(x, 4) for x in lat], "drift_ratio": M.drift_ratio(lat),
            "cpu_s_per_op": M.median([c.cpu_s for c in cs]),
            "drift_cpu_ratio": M.drift_ratio([c.cpu_s for c in cs]),
            "session_s": self.session_s, "prep_s": self.prep_s, "warmup_s": self.warmup_s,
            "timed_s": self.timed_s,
            "settle_s_p50": M.median([s for s, _ in self.ctx.settles]),
            "settle_s_max": max(s for s, _ in self.ctx.settles),
            "shuffle_files_left_max": max(n for _, n in self.ctx.settles),
        }), flush=True)
        return {
            "setup_s": self.session_s + self.prep_s + self.warmup_s,
            "ok_ops_ratio": sum(c.ok for c in cs) / len(cs),
            "op_p50_s": M.median(lat),
            "serve_geomean_s": M.geomean(reads),
        }

    def per_layer(self) -> dict:
        import metrics as M
        from spans import parse_event_log, self_times

        spans = self.tracer.spans
        self_s = self_times(spans)
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        self.tracer.dump(os.path.join(out_dir, f"spans-{self.name}-{self.seed}.jsonl"), self_s)
        logs = [os.path.join(d, f) for d, _, fs in os.walk(os.path.join(self.work, "eventlog")) for f in fs]
        tasks = {}
        for path in logs:
            with open(path) as f:
                tasks.update(parse_event_log(f))

        traced = [c for c in self.cycles if c.traced]
        untraced = [c for c in self.cycles if not c.traced]
        by_op: dict[int, list] = defaultdict(list)
        for s in spans:
            if s.op is not None:
                by_op[s.op].append(s)
        cycles = sorted(by_op)
        v: dict[str, float] = {k: 0.0 for k in M.PER_LAYER}

        def per_cycle(pred, value=lambda s: s.duration) -> float:
            return M.median([sum(value(s) for s in by_op[op] if pred(s)) for op in cycles])

        def per_span(pred, value=lambda s: s.duration) -> float:
            return M.median([value(s) for s in spans if s.op is not None and pred(s)])

        for layer in M.SPAN_LAYERS:
            mine = lambda s, layer=layer: s.layer == layer  # noqa: E731
            g = lambda s: tasks.get(s.group)  # noqa: E731
            v[f"{layer}.self_s"] = per_cycle(mine, lambda s: self_s[s.id])
            v[f"{layer}.jobs"] = per_cycle(mine, lambda s: s.jobs)
            v[f"{layer}.stages"] = per_cycle(mine, lambda s: s.stages)
            v[f"{layer}.tasks"] = per_cycle(mine, lambda s: s.tasks)
            for f in ("executor_run_s", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
                v[f"{layer}.{f}"] = per_cycle(mine, lambda s, f=f: getattr(g(s), f) if g(s) else 0)
            v[f"{layer}.task_skew"] = M.median([
                max((g(s).task_skew for s in by_op[op] if mine(s) and g(s)), default=0.0)
                for op in cycles
            ])

        named = lambda n: lambda s: s.name == n  # noqa: E731
        prefixed = lambda p: lambda s: s.name.startswith(p)  # noqa: E731
        v["pipelines.open_close_build_s"] = per_cycle(named("pipelines.open_close"))
        v["warehouse.write_table_s"] = per_cycle(named("warehouse.write_table"))
        v["warehouse.register_s"] = per_cycle(named("warehouse.register"))
        v["warehouse.serve_analyze_s"] = per_span(named("warehouse.serve_analyze"))
        v["warehouse.serve_collect_s"] = per_span(named("warehouse.serve_collect"))
        v["warehouse.serve_jobs"] = per_span(named("warehouse.serve_collect"), lambda s: s.jobs)
        v["warehouse.serve_tasks"] = per_span(named("warehouse.serve_collect"), lambda s: s.tasks)
        v["queries.build_s"] = per_cycle(prefixed("queries.build."))
        v["queries.build_jobs"] = per_cycle(prefixed("queries.build."), lambda s: s.jobs)
        v["operators.exec_s"] = per_cycle(prefixed("operators.exec."))
        v["operators.exec_tasks"] = per_cycle(prefixed("operators.exec."), lambda s: s.tasks)
        from querylib import KEYS

        for k in KEYS:
            v[f"queries.build_s.{k}"] = per_span(named(f"queries.build.{k}"))
            v[f"operators.exec_s.{k}"] = per_span(named(f"operators.exec.{k}"))

        dag_cycles = [c for c in self.cycles if c.tasks]
        if dag_cycles:
            for t in M.DAG_TASKS:
                v[f"plans.task.{t}_s"] = M.median([c.tasks[t].elapsed for c in dag_cycles if t in c.tasks])
            v["plans.dag_overhead_s"] = M.median(
                [c.dag_s - sum(r.elapsed for r in c.tasks.values()) for c in dag_cycles]
            )
            v["plans.retries"] = sum(r.attempts - 1 for c in dag_cycles for r in c.tasks.values())
        if any(c.files_written for c in self.cycles):
            v["warehouse.files_written"] = M.median([c.files_written for c in self.cycles])
        if self.name == "elt_reload":
            v["warehouse.bytes_written_per_input_byte"] = M.median(
                [c.bytes_written / self.wl.feed.input_bytes for c in self.cycles]
            )

        v["session.start_s"] = self.session_s
        v["session.warmup_s"] = self.warmup_s
        v["session.warmup_ops"] = len(self.warmup)
        v.update(self.probes)

        # Spans nest as a stack, so the self times under a root always add
        # up to its duration: reconcile_max_err only bounds the cost of the
        # root span itself. How much of an op no layer span covers is the
        # untraced remainder, untraced_share of the op's wall time.
        errs, untraced_s, untraced_share = [], [], []
        for root_id, wall in self.ctx.traced_ops:
            covered = [s for s in spans if s.id == root_id or _under(s, root_id, spans)]
            errs.append(abs(sum(self_s[s.id] for s in covered) - wall) / wall)
            untraced_s.append(wall - sum(self_s[s.id] for s in covered if s.id != root_id))
            untraced_share.append(untraced_s[-1] / wall)
        v["trace.reconcile_max_err"] = max(errs, default=0.0)
        v["trace.untraced_s"] = M.median(untraced_s)
        v["trace.untraced_share"] = M.median(untraced_share)
        if traced and untraced:
            v["trace.overhead_ratio"] = M.median([c.op_s for c in traced]) / M.median(
                [c.op_s for c in untraced]
            )
        v["cpu_s_per_op"] = M.median([c.cpu_s for c in self.cycles])
        v["drift_ratio"] = M.drift_ratio([c.op_s for c in self.cycles])
        v["drift_cpu_ratio"] = M.drift_ratio([c.cpu_s for c in self.cycles])
        v["_reconciled"] = v["trace.reconcile_max_err"] <= M.RECONCILE_TOLERANCE
        print("info " + json.dumps({
            "spans": len(spans), "traced_ops": len(self.ctx.traced_ops),
            "reconcile_tolerance": M.RECONCILE_TOLERANCE,
        }), flush=True)
        return v


def _under(s, root_id: int, spans) -> bool:
    while s.parent is not None:
        if s.parent == root_id:
            return True
        s = spans[s.parent]
    return False


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"{PACKAGE} not found under {ROOT}: run from a checkout of the repository",
              file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from {sorted(workloads.WORKLOADS)}",
              file=sys.stderr)
        return 2
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        try:
            run.start()
            run.execute()
        finally:
            run.stop()
        out = run.result()
    finally:
        run.cleanup()
    print(json.dumps(out), flush=True)
    return 0 if out["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
