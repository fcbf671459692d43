"""One benchmark run, in the process that owns the Spark session.

Started by ``perfbench/run.py`` (which sets up the environment); prints
a human summary on stderr and the result as the last line of stdout::

    {"correct": true, "attempted": 3, "failed": 0, "metrics": {...}}

Protocol: session start, input landing, reference, the workload's
``warmup_ops`` untimed ops -- all inside ``setup_s`` -- then a closed loop
with one client: each op starts when the previous one (and its between-op
cleanup) is done, as long as the ops' walls still fit in ``--seconds``
(the workload's ``timed_ops`` at least).  Cleanup and the output check run
outside the timed region.  Timings are medians over the timed ops.

With ``--trace 1`` the session also writes Spark's event log; after the
same warm-ups and one untraced op the run makes one traced op (spans + job
groups), one more untraced op, and the per-layer replays of
:mod:`perfbench.layers`, stops the session, and reports the per-layer
metrics from spans, counts and the event log.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback

from perfbench import layers
from perfbench.procstat import PeakRss
from perfbench.tracing import Tracer, event_log_conf, summarize_event_log
from perfbench.workloads import WORKLOADS

from fuzzy_matching_spark.pipeline.session import build_session

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STREAM_FILES = {"full": 6, "tiny": 3}
SMALL_PERSONS = {"full": layers.SMALL_PERSONS, "tiny": 30}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def start_session(work: str, cores: int, trace: bool):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update(event_log_conf(log_dir))
    # one shuffle partition per core: the engine default (32) multiplies the
    # per-task fixed cost of every Python stage on a 4-core box
    spark = build_session(
        master=f"local[{cores}]",
        app_name="perfbench",
        shuffle_partitions=cores,
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


class Run:
    """Counts ops and keeps each timed op's wall and verdict."""

    def __init__(self, wl):
        self.wl = wl
        self.walls: list[float] = []
        self.verdicts = []
        self.attempted = 0
        self.failed = 0

    def one(self, op, timed: bool = True) -> float | None:
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            op()
        except Exception:  # a raising op is a failed op; keep the traceback
            log(traceback.format_exc())
            self.failed += 1
            return None
        wall = time.perf_counter() - t0
        verdict = self.wl.check()
        if not verdict.ok:
            self.failed += 1
            log(f"wrong output: {verdict.detail}")
        log(f"op {self.attempted}: {wall:.3f} s recall={verdict.recall:.4f} "
            f"precision={verdict.precision:.4f} ok={verdict.ok}")
        if timed:
            self.walls.append(wall)
            self.verdicts.append(verdict)
        self.wl.reset()
        return wall


def timed_loop(run: Run, seconds: float, min_ops: int) -> None:
    """``min_ops`` ops, then more only while the last wall says the next
    one ends within ``seconds``, so the op count does not flip with small
    speed changes."""
    while len(run.walls) < min_ops or sum(run.walls) + run.walls[-1] <= seconds:
        if run.one(run.wl.op) is None:
            break  # the session may be unusable after a raise


def end_to_end(run: Run, setup_s: float, peak_mb: float) -> dict:
    # items_per_s is items over the median wall of the ops whose output was
    # right: one op slowed by the host moves a median, not the figure
    good = [w for w, v in zip(run.walls, run.verdicts) if v.ok]
    return {
        "setup_s": setup_s,
        "items_per_s": run.wl.items / statistics.median(good) if good else 0.0,
        "op_p50_s": statistics.median(run.walls) if run.walls else 0.0,
        "recall": min((v.recall for v in run.verdicts), default=0.0),
        "precision": min((v.precision for v in run.verdicts), default=0.0),
        "peak_rss_mb": peak_mb,
    }


def traced(run: Run, args, work: str, cores: int) -> dict:
    wl = run.wl
    tracer = Tracer(wl.spark.sparkContext)
    # untraced, traced, untraced: op walls still drift down as the JVM warms,
    # so the traced op is compared with the mean of its two neighbours
    before = run.walls[-1] if run.walls else None
    traced_wall = run.one(lambda: wl.traced_op(tracer), timed=False)
    after = run.one(wl.op, timed=False)
    if wl.name == "dedup_corpus":
        direct = layers.dedup_layers(wl, tracer, STREAM_FILES[args.size])
    else:
        direct = layers.match_layers(wl, tracer, SMALL_PERSONS[args.size])
    wl.spark.stop()  # flushes and closes the event log
    groups = summarize_event_log(os.path.join(work, "eventlog"))
    assemble = layers.dedup_eventlog if wl.name == "dedup_corpus" else layers.match_eventlog
    metrics = dict(direct)
    metrics.update(assemble(wl, tracer, groups, cores))
    if traced_wall and before and after:
        metrics["trace.overhead_frac"] = traced_wall / ((before + after) / 2) - 1
    tracer.dump(os.path.join(work, "trace", f"spans-seed{args.seed}.json"))
    return metrics


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    ap.add_argument("--work", required=True)
    ap.add_argument("--t0", type=float, default=None, help="process start (epoch s)")
    args = ap.parse_args(argv)
    t0 = args.t0 if args.t0 is not None else time.time()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    cores = os.cpu_count() or 1

    rss = PeakRss(os.getpid()).start()
    spark = start_session(args.work, cores, bool(args.trace))
    log(f"session up at {time.time() - t0:.1f} s")
    wl = WORKLOADS[args.workload](spark, args.work, args.seed, args.size)
    wl.setup()
    log(f"{wl.name}: {wl.items} items, seed {args.seed}, local[{cores}], "
        f"inputs and reference ready at {time.time() - t0:.1f} s")
    run = Run(wl)
    for _ in range(wl.warmup_ops):
        run.one(wl.op, timed=False)
    setup_s = time.time() - t0
    # a traced run reports no end-to-end timing; one op is enough as the
    # untraced neighbour before its traced op
    timed_loop(run, args.seconds, 1 if args.trace else wl.timed_ops)
    log(f"plan path: {getattr(wl, 'strategy', None) or 'n/a'}")

    if args.trace:
        values = traced(run, args, args.work, cores)
        names = spec["per_layer"]
    else:
        spark.stop()
        values = end_to_end(run, setup_s, rss.stop())
        names = spec["end_to_end"]
    rss.stop()
    # a layer this workload does not run reports 0: it did no work here
    metrics = {
        m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in names
    }
    correct = run.failed == 0 and bool(run.walls)
    log(f"ops attempted {run.attempted}, failed {run.failed}, "
        f"failed_frac {run.failed / max(run.attempted, 1):.3f}")
    for name, m in metrics.items():
        log(f"  {name} = {m['value']:.6g} {m['unit']}")
    print(json.dumps({
        "correct": correct,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
