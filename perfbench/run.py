"""perfbench: end-to-end and per-layer benchmark of trustfuse_spark.

    python3 perfbench/run.py --workload {kg_crh,curation} \
        --seed N --seconds S --trace {0,1} [--entities E]

Run from the repository root. One driver process runs ``local[N]`` with N
the usable cores. The seed picks block ``seed % 4`` of E entities from the
library's generators; ``--entities`` overrides the workload's E (the self
test uses it).

Untraced (``--trace 0``): set up (session start, input generation three
times, a warm-up pass), then time passes until ``--seconds`` have elapsed
and at least two have run, releasing every block a pass pinned before the
next. ``cpu_s`` is the median over the timed passes of the CPU seconds a
pass used in the driver, its JVM and the Python workers, JIT compilation
left out (see ``tracing.program_cpu_s``); ``retained_storage_mb`` is the
median of the RDD storage a pass left pinned. ``setup_s`` is session
start, the median generation time and the warm-up pass. Every pass must
produce the same output, and the last one is checked.

The figure is CPU time, not wall time, because wall time on a shared
4-core virtual machine follows the hypervisor: in one process a curation
pass at E=400 read 2.9 s with 0.05 s of its CPUs' time stolen by other
guests and 4.75 s with 4.3 s stolen, at the same 9-10 CPU seconds (JIT
included). Wall times per pass are printed on
the ``#`` line and, traced, as ``trace.wall_s``.

Traced (``--trace 1``): the same set-up with the Spark event log on, then a
plain pass, a pass with a span per library layer, and another plain pass;
reports the per-layer counters of every span (zero for spans the workload
does not run), the traced pass's wall time, and its overhead over the mean
of the two plain passes.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from typing import NamedTuple

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from tracing import (  # noqa: E402
    FULL_COUNTERS, ITER_COUNTERS, MB, SHORT_COUNTERS, StoragePoller, Tracer,
    program_cpu_s, rollup, steal_s,
)
from workloads import MODEL_BUDGETS, N_BLOCKS, WORKLOADS, row_digest  # noqa: E402

from trustfuse_spark.operators.fusion.base import persistent_rdd_ids, release_rdds  # noqa: E402
from trustfuse_spark.session import get_spark  # noqa: E402

SETUP_REPS = 3
WARMUP_PASSES = 1
MIN_PASSES = 2
# in place of get_spark's 16g: RDD blocks stay near 20 MB and storage,
# broadcasts included, peaked near 350 MB
DRIVER_MEM = "2g"

END_TO_END = {"setup_s": "s", "cpu_s": "s", "retained_storage_mb": "MB"}


def per_layer_metrics() -> list[tuple[str, str, str]]:
    """(name, unit, better) of every per-layer metric, in BENCHMARK.json order."""
    units = dict((n, (u, b)) for n, u, b in FULL_COUNTERS + ITER_COUNTERS)
    out = [("session.s", "s", "lower"), ("datagen.s", "s", "lower"), ("datagen.rows", "count", "higher")]
    for span in ("extract", "fusion.crh", "triples", "curate"):
        counters = FULL_COUNTERS + (ITER_COUNTERS if span == "fusion.crh" else [])
        out += [(f"{span}.{n}", u, b) for n, u, b in counters]
    for m in MODEL_BUDGETS:
        if m != "crh":
            out += [(f"fusion.{m}.{n}", *units[n]) for n in SHORT_COUNTERS]
    out += [
        ("evaluation.s", "s", "lower"),
        ("evaluation.precision", "ratio", "higher"),
        ("evaluation.recall", "ratio", "higher"),
        ("evaluation.numeric_accuracy", "ratio", "higher"),
        ("trace.wall_s", "s", "lower"),
        ("trace.overhead_s", "s", "lower"),
    ]
    return out


def _environment(work: str, trace: bool) -> dict[str, str]:
    """Point every writer at the work dir and let Python workers import the
    package; returns the Spark conf the session is created with."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "spark-local")
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    conf = {
        # see program_cpu_s
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UseDynamicNumberOfCompilerThreads",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        events = os.path.join(work, "events")
        os.makedirs(events)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + events,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


class Pass(NamedTuple):
    wall_s: float
    cpu_s: float
    steal_s: float
    retained_mb: float
    output: object


class Bench:
    """Times passes, counts operations and frees what each pass pinned."""

    def __init__(self, spark, poller) -> None:
        self.spark = spark
        self.poller = poller
        self.base_ids = persistent_rdd_ids(spark)
        self.attempted = 0
        self.failed = 0

    def release(self) -> None:
        """Free every block pinned since ``base_ids`` was taken, then wait for
        the asynchronous removal to settle."""
        self.spark.catalog.clearCache()
        release_rdds(self.spark, persistent_rdd_ids(self.spark) - self.base_ids)
        gc.collect()
        self.spark._jvm.System.gc()
        prev, deadline = None, time.time() + 3
        while time.time() < deadline:
            cur = self.poller.sample()
            if cur == prev:
                break
            prev = cur
            time.sleep(0.1)

    def measured(self, fn, ops: int) -> Pass:
        """Run one pass; its output is None if the pass raised.

        ``fn`` returns (output, live): ``live`` holds the pass's DataFrames
        until retained storage is sampled, so the ContextCleaner cannot free
        their blocks first."""
        self.attempted += ops
        base = self.poller.rdd_bytes()
        cpu0, steal0 = program_cpu_s(os.getpid()), steal_s()
        t0 = time.perf_counter()
        try:
            out, live = fn()
        except Exception:
            traceback.print_exc()
            self.failed += ops
            out = live = None
        wall = time.perf_counter() - t0
        cpu, steal = program_cpu_s(os.getpid()) - cpu0, steal_s() - steal0
        retained = max(0, self.poller.rdd_bytes() - base) / MB
        del live
        self.release()
        return Pass(wall, cpu, steal, retained, out)


def _digest(out) -> object:
    if isinstance(out, dict):
        return {k: row_digest(v) for k, v in out.items()}
    return row_digest(out)


def run(args) -> dict:
    conf = _environment(args.work, args.trace)
    wl = WORKLOADS[args.workload]
    if args.entities:
        wl.entities = args.entities
    block = args.seed % N_BLOCKS
    cores = int(os.environ["SPARK_GRAFT_CPUS"])

    t0 = time.perf_counter()
    spark = get_spark(app_name=f"perfbench_{wl.name}", extra_conf=conf)
    session_s = time.perf_counter() - t0
    gateway = spark.sparkContext._gateway
    poller = StoragePoller(spark)
    if args.trace:  # spans' peak storage; plain passes only sample at their ends
        poller.start()
    try:
        bench = Bench(spark, poller)
        tracer = Tracer(spark, poller, enabled=args.trace)
        gen_s = []
        for _ in range(SETUP_REPS):
            bench.release()
            t = time.perf_counter()
            inp = wl.setup(spark, block)
            gen_s.append(time.perf_counter() - t)
        bench.base_ids = persistent_rdd_ids(spark)
        ops = wl.ops
        t = time.perf_counter()
        outs = [bench.measured(lambda: wl.run(inp), ops).output for _ in range(WARMUP_PASSES)]
        warm_s = time.perf_counter() - t
        setup_s = session_s + statistics.median(gen_s) + warm_s

        passes = []
        if args.trace:
            # plain passes before and after the traced one; the overhead is
            # taken against their mean
            plain_a = bench.measured(lambda: wl.run(inp), ops)
            out = bench.measured(lambda: wl.traced(inp, tracer), wl.traced_ops).output
            plain_b = bench.measured(lambda: wl.run(inp), ops)
            # the traced pass also fits models the plain passes do not: its
            # output is compared on the plain passes' keys, and checked whole
            same = out
            if isinstance(out, dict) and isinstance(plain_b.output, dict):
                same = {k: out.get(k) for k in plain_b.output}
            outs += [plain_a.output, same, plain_b.output]
            plain = (plain_a.wall_s + plain_b.wall_s) / 2
            # the traced pass's wall time: its first span's start to its last
            # span's end, over the spans the plain pass also runs
            spans = [sp for sp in tracer.spans if sp.name in wl.pass_spans]
            traced = max(sp.t1 for sp in spans) - min(sp.t0 for sp in spans) if spans else 0.0
        else:
            t_end = time.perf_counter() + args.seconds
            while len(passes) < MIN_PASSES or time.perf_counter() < t_end:
                passes.append(bench.measured(lambda: wl.run(inp), ops))
                outs.append(passes[-1].output)
            out = outs[-1]

        # correctness: the last output is checked, and every pass must have
        # produced the same output
        outs = [_digest(o) if o is not None else None for o in outs]
        bench.attempted += len(outs)
        bench.failed += sum(d is None or d != outs[-1] for d in outs[:-1])
        ok, quality = False, {}
        if out is not None:
            try:
                ok, quality = wl.check(inp, out, tracer)
            except Exception:
                traceback.print_exc()
        bench.failed += not ok
        bench.release()
    finally:
        poller.stop()
        proc = getattr(gateway, "proc", None)
        spark.stop()
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)

    rows = inp["rows"]
    if args.trace:
        per_span = rollup(os.path.join(args.work, "events"), tracer.spans, cores)
        values = {
            "session.s": session_s,
            "datagen.s": statistics.median(gen_s),
            "datagen.rows": rows,
            "evaluation.precision": quality.get("p") or 0.0,
            "evaluation.recall": quality.get("r") or 0.0,
            "evaluation.numeric_accuracy": quality.get("num") or 0.0,
            "trace.wall_s": traced,
            "trace.overhead_s": traced - plain,
        }
        for span, counters in per_span.items():
            for k, v in counters.items():
                values[f"{span}.{k}"] = v
        metrics = {
            n: {"value": values.get(n, 0.0), "unit": u} for n, u, _ in per_layer_metrics()
        }
        _print_layers(metrics, wl.name)
    else:
        values = {
            "setup_s": setup_s,
            "cpu_s": statistics.median(p.cpu_s for p in passes),
            "retained_storage_mb": statistics.median(p.retained_mb for p in passes),
        }
        metrics = {n: {"value": values[n], "unit": u} for n, u in END_TO_END.items()}
        print(
            f"# {wl.name} block={block} E={wl.entities} rows={rows} passes={len(passes)}"
            f" cpu_s={[round(p.cpu_s, 2) for p in passes]}"
            f" wall_s={[round(p.wall_s, 3) for p in passes]}"
            f" steal_s={[round(p.steal_s, 2) for p in passes]}"
            f" docs/s={rows / statistics.median(p.wall_s for p in passes):.1f}"
            f" session_s={session_s:.3f} datagen_s={[round(g, 3) for g in gen_s]}"
            f" warm-up_s={warm_s:.3f}"
        )
    print(f"# quality {json.dumps(quality)}")
    return {
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": metrics,
    }


def _print_layers(metrics: dict, workload: str) -> None:
    """Human-readable per-span table (spans that ran in this workload)."""
    by_span: dict[str, dict[str, float]] = {}
    for name, m in metrics.items():
        span, _, counter = name.rpartition(".")
        by_span.setdefault(span, {})[counter] = m["value"]
    print(f"# per-layer table ({workload})")
    for span, counters in by_span.items():
        if any(counters.values()):
            cells = " ".join(f"{k}={v:.4g}" for k, v in counters.items())
            print(f"#   {span:22s} {cells}")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--entities", type=int, default=None)
    args = ap.parse_args()
    args.trace = bool(args.trace)
    args.work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    try:
        result = run(args)
    finally:
        shutil.rmtree(args.work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
