"""Benchmark for fuzzy_matching_spark: end-to-end workloads plus a traced run.

Entry point: ``python3 perfbench/run.py --workload NAME --seed N
--seconds S --trace 0|1`` from the repository root.  ``BENCHMARK.json``
lists the workloads and every metric with its unit; the modules here are

* ``run``       -- launcher: clean environment, one child process, cleanup;
* ``harness``   -- the child: session, warm-up, closed-loop timed ops, result;
* ``workloads`` -- inputs, references, the op and its correctness check;
* ``layers``    -- traced replays that give the per-layer metrics;
* ``tracing``   -- in-memory spans, Spark job groups, event-log summary;
* ``procstat``  -- peak RSS of the process tree, sampled from ``/proc``.
"""
