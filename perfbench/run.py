"""Benchmark entry point: one workload, one seed, timed or traced.

    python3 perfbench/run.py --workload itemknn_pipeline --seed 1 --seconds 10 --trace 0

Run from the repository root.  Prints a human-readable summary, then as the
last line one JSON object: {"correct", "attempted", "failed", "metrics"}.
With ``--trace 0`` the metrics are the end-to-end metrics of BENCHMARK.json,
with ``--trace 1`` its per-layer metrics.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
#: Spark driver heap, pinned for every run: the session's 24g default lets
#: a large itemknn_pipeline grow the JVM past a 16 GB host's RAM.  The heap
#: starts at full size and pre-touched, so peak RSS does not depend on when
#: the collector chose to grow or touch it.
DRIVER_MEM = "2g"
#: input generation + oracle are repeated and their median counted in setup_s
SETUP_REPEATS = 3


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def pin_environment(work: Path) -> int:
    """One local[nproc] Spark process, a fixed heap, all scratch under ``work``."""
    cpus = len(os.sched_getaffinity(0))
    for sub in ("data", "out", "tmp", "spark-local", "eventlog"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ.update(
        TZ="UTC",  # collected timestamps compare with DuckDB's in one zone
        SPARK_DRIVER_MEM=DRIVER_MEM,
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_LOCAL_DIRS=str(work / "spark-local"),
        TMPDIR=str(work / "tmp"),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
    )
    time.tzset()
    return cpus


def session_conf(work: Path, event_log: bool) -> dict[str, str]:
    conf = {
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch -Djava.io.tmpdir={work / 'tmp'}"
        ),
    }
    if event_log:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": str(work / "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


class Runner:
    """Owns the session, the generated input and its oracle for one run."""

    def __init__(self, workload, seed: int, work: Path, cpus: int):
        self.wl, self.seed, self.work, self.cpus = workload, seed, work, cpus
        self.attempted = self.failed = 0  # checked operations
        self.spark = None
        self.oracle = None

    def build_session(self, event_log: bool = False) -> float:
        from contentwise_impressions_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(
            f"perfbench-{self.wl.name}", extra_conf=session_conf(self.work, event_log)
        )
        self.spark.range(1).count()  # the context is up and a job has run
        return time.perf_counter() - t0

    def prepare(self) -> float:
        """Generate the input and compute the expected outputs; seconds taken."""
        from gen import write_events
        from oracle import Oracle

        t0 = time.perf_counter()
        if self.oracle is not None:
            self.oracle.close()
        data = self.work / "data"
        path, self.n_events = write_events(self.seed, self.wl.shape, str(data))
        self.input_bytes = os.path.getsize(path)
        self.oracle = Oracle(path, str(self.work / "tmp"))
        self.expected = self.wl.expect(self.oracle)
        return time.perf_counter() - t0

    def ctx(self):
        from workloads import Ctx

        return Ctx(self.spark, str(self.work / "data"), str(self.work / "out"))

    def one_pass(self, tracer):
        """Run, check and release one pass; a pass that raises counts every
        one of its operations as failed."""
        from workloads import PassOut

        t0 = time.perf_counter()
        try:
            out = self.wl.run_pass(self.ctx(), tracer, self.expected, self.oracle)
        except Exception:
            traceback.print_exc()
            self.attempted += self.wl.ops
            self.failed += self.wl.ops
            return PassOut(wall_s=time.perf_counter() - t0)
        for op, check in out.checks.items():
            self.attempted += 1
            try:
                problem = check()
            except Exception as exc:  # a check that cannot run is a failed check
                problem = f"check raised {exc!r}"
            if problem:
                self.failed += 1
                print(f"MISMATCH {self.wl.name} {op}: {problem}", file=sys.stderr)
        for df in out.release:
            df.unpersist()
        return out

    def passes(self, tracer, n: int) -> list:
        outs = []
        for k in range(n):
            tracer.pass_no = k
            outs.append(self.one_pass(tracer))
        return outs

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def close(self) -> None:
        """Stop Spark, end the JVM and wait for every child process."""
        from pyspark import SparkContext

        self.stop_session()
        if self.oracle is not None:
            self.oracle.close()
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            proc = gateway.proc
            proc.stdin.close()  # the gateway JVM exits on EOF
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()
            SparkContext._gateway = SparkContext._jvm = None


def pass_count(workload, seconds: float) -> int:
    """Timed passes in ``seconds``: a fixed count per workload and duration,
    so every run measures passes at the same positions after warm-up."""
    return max(1, round(seconds / workload.pass_s))


def end_to_end(runner: Runner, outs: list, setup_s: float, peak_bytes: int) -> dict:
    walls = [o.wall_s for o in outs]
    cases = [c for o in outs for c in o.cases] or walls
    return {
        "setup_s": setup_s,
        "wall_s": statistics.median(walls),
        "peak_rss_mb": peak_bytes / 2**20,
        "users_per_s": statistics.median(o.users / o.wall_s for o in outs),
        "events_per_s": statistics.median(runner.n_events / o.wall_s for o in outs),
        "case_s_p50": statistics.median(cases),
    }


def run_timed(runner: Runner, seconds: float) -> tuple[dict, dict]:
    from spans import RssSampler, Tracer, cpu_probe_ms, cpu_share, cpu_ticks

    build_s = runner.build_session()
    prep_s = statistics.median(runner.prepare() for _ in range(SETUP_REPEATS))
    t0 = time.perf_counter()
    runner.passes(Tracer(), runner.wl.warm_passes)
    warm_s = time.perf_counter() - t0
    setup_s = build_s + prep_s + warm_s

    probe, ticks = cpu_probe_ms(), cpu_ticks()
    with RssSampler() as rss:
        outs = runner.passes(Tracer(), pass_count(runner.wl, seconds))
    host = {**cpu_share(ticks, cpu_ticks()), "probe_ms": [round(probe, 2), round(cpu_probe_ms(), 2)]}
    metrics = end_to_end(runner, outs, setup_s, rss.peak_bytes)
    info = {
        "passes": len(outs),
        "pass_wall_s": [round(o.wall_s, 4) for o in outs],
        "cases": sum(len(o.cases) for o in outs),
        "setup_parts_s": {
            "session_build": round(build_s, 3),
            "generate_and_oracle_median": round(prep_s, 3),
            "warm_passes": round(warm_s, 3),
        },
        "host_cpu": host,
    }
    return metrics, info


def run_traced(runner: Runner, seconds: float) -> tuple[dict, dict]:
    """Untraced passes, then as many passes in a fresh SparkContext (same
    JVM) with spans, job groups and the event log on; the difference of
    their median walls is the tracing overhead."""
    from spans import (
        Tracer,
        cpu_share,
        cpu_ticks,
        engine_counters,
        pass_totals,
        read_event_log,
        self_times,
    )
    from workloads import fan_out

    build_s = runner.build_session()
    runner.prepare()
    runner.passes(Tracer(), runner.wl.warm_passes)
    ticks = cpu_ticks()
    n = pass_count(runner.wl, seconds / 2)
    plain = runner.passes(Tracer(), n)
    runner.stop_session()

    runner.build_session(event_log=True)
    run_id = f"{runner.wl.name}-{runner.seed}-{os.getpid()}"
    tracer = Tracer(runner.spark.sparkContext, run_id)
    traced = runner.passes(tracer, n)
    host = cpu_share(ticks, cpu_ticks())
    runner.spark.sparkContext.setJobGroup(f"{run_id}/fan_out", "untimed fan-out counts")
    pairs, candidates = fan_out(runner.ctx(), traced[-1].fits)
    runner.stop_session()

    totals = pass_totals(tracer.spans, n)
    eval_s = totals["evaluation.metrics"]
    eval_rate = [o.users / t for o, t in zip(traced, eval_s) if t > 0]
    written = sum(f.stat().st_size for f in (runner.work / "out").rglob("*.parquet"))
    last = traced[-1]
    m = {
        "session.build_s": build_s,
        **{
            f"{name}_s": statistics.median(totals[name])
            for name in (
                "sources.read",
                "sources.write",
                "operators.splits.split",
                "operators.similarity.fit",
                "operators.scoring.recommend",
                "evaluation.metrics",
                "plans.stats_suite.paper",
                "plans.stats_suite.complex",
                "plans.stats_suite.timestamps",
                "tuning.objective",
            )
        },
        "tuning.driver_s": statistics.median(
            a - b for a, b in zip(totals["tuning.search"], totals["tuning.objective"])
        ),
        "sources.rows_in": runner.n_events,
        "sources.bytes_written_per_input_byte": written / runner.input_bytes,
        "operators.similarity.pairs": pairs,
        "operators.similarity.kept_ratio": last.w_rows / pairs if pairs else 0.0,
        "operators.scoring.candidates": candidates,
        "operators.scoring.kept_ratio": last.recs / candidates if candidates else 0.0,
        "evaluation.users_per_s": statistics.median(eval_rate) if eval_rate else 0.0,
        "trace.overhead_s": statistics.median(o.wall_s for o in traced)
        - statistics.median(o.wall_s for o in plain),
    }
    counters = engine_counters(
        read_event_log(str(runner.work / "eventlog")), tracer, runner.cpus
    )
    for layer, acc in counters.items():
        for key, value in acc.items():
            m[f"{layer}.{key}"] = value if key == "core_busy" else value / n

    layer_self: dict[str, float] = {}
    for sid, t in self_times(tracer.spans).items():
        name = tracer.spans[sid]["name"]
        layer_self[name] = layer_self.get(name, 0.0) + t / n
    info = {
        "run_id": run_id,
        "untraced_pass_wall_s": [round(o.wall_s, 4) for o in plain],
        "traced_pass_wall_s": [round(o.wall_s, 4) for o in traced],
        "span_self_s_per_pass": {k: round(v, 4) for k, v in sorted(layer_self.items())},
        "host_cpu": host,
    }
    trace_dir = ROOT / ".bench_work" / "traces"
    trace_dir.mkdir(parents=True, exist_ok=True)
    with open(trace_dir / f"{run_id}.json", "w") as fh:
        json.dump({"info": info, "metrics": m, "spans": tracer.spans}, fh, indent=1)
    return m, info


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    if not (ROOT / "contentwise_impressions_spark").is_dir():
        print(f"no contentwise_impressions_spark package under {ROOT}", file=sys.stderr)
        return 2
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    sys.path[:0] = [str(ROOT), str(HERE)]
    from workloads import WORKLOADS

    wl = WORKLOADS.get(args.workload)
    if wl is None:
        print(f"unknown workload {args.workload!r}; have {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    work = ROOT / ".bench_work" / f"{wl.name}-{args.seed}-{os.getpid()}"
    runner = Runner(wl, args.seed, work, pin_environment(work))
    # Only the summary and the result line go to stdout: the JVM and any
    # worker inherit descriptor 1, so point it at stderr while they live.
    out = os.fdopen(os.dup(1), "w")
    sys.stdout.flush()
    os.dup2(2, 1)
    try:
        if args.trace:
            values, info = run_traced(runner, args.seconds)
        else:
            values, info = run_timed(runner, args.seconds)
    finally:
        runner.close()
        shutil.rmtree(work, ignore_errors=True)

    wanted = spec["per_layer" if args.trace else "end_to_end"]
    missing = [s["name"] for s in wanted if s["name"] not in values]
    if missing:
        print(f"benchmark produced no value for {missing}", file=sys.stderr)
        return 2
    metrics = {
        s["name"]: {"value": float(values[s["name"]]), "unit": s["unit"]} for s in wanted
    }
    fail_ratio = runner.failed / runner.attempted if runner.attempted else 1.0
    print(f"workload {wl.name} seed {args.seed} trace {args.trace}: {json.dumps(info)}", file=out)
    print(f"  fail_ratio = {fail_ratio:g} ({runner.failed}/{runner.attempted} operations)", file=out)
    for name, v in metrics.items():
        print(f"  {name} = {v['value']:.6g} {v['unit']}", file=out)
    print(
        json.dumps(
            {
                "correct": runner.failed == 0 and runner.attempted > 0,
                "attempted": runner.attempted,
                "failed": runner.failed,
                "metrics": metrics,
            }
        ),
        file=out,
    )
    out.close()
    return 0


if __name__ == "__main__":
    sys.exit(main())
