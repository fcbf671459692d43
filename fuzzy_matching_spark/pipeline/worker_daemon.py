"""Python worker daemon that pre-imports the heavy scientific stack and
keeps a reused worker's per-task set-up flat.

Spark forks every Python worker from the daemon process
(``spark.python.daemon.module``), so anything done HERE is shared with all
workers copy-on-write.

* **Imports.**  Without them, each of the N concurrent workers of the first
  Python stage re-imports numpy/pandas/pyarrow independently — ~100 MB of
  first-touch page faults per worker, which some hypervisors serialize
  box-wide, turning session warm-up into an O(N_workers) serial cost.
  Pre-importing in the daemon pays that cost once.
* **Zip directories.**  A reused worker calls ``importlib.invalidate_caches()``
  at the start of every task (``pyspark.worker_util.setup_spark_files``).
  ``zipimport.zipimporter.invalidate_caches`` re-reads the whole central
  directory of its archive each time, and a worker's path importer cache
  holds 16 zipimporters over ``pyspark.zip``, the py4j zip and the 14 MB
  ``spark-core`` jar: 120-350 ms per task with 4 busy workers on a 4-core
  host (one re-read alone: ~22-33 ms for the jar's 5,359 entries, ~5-7 ms
  for ``pyspark.zip``'s 1,328).  ``prepare_fork`` re-reads an archive only
  when its ``(st_mtime_ns, st_size)`` stamp changed since its last read, or
  when ``zipimport`` holds no directory for it; otherwise the importer
  reuses the cached directory.  The same step then took 0.1-0.2 ms.
* **Inherited heap.**  The daemon's child runs ``gc.collect()`` after every
  task, over every object it inherited from the daemon — and the collector
  writing to those objects also un-shares their copy-on-write pages.
  ``prepare_fork`` ends with ``gc.freeze()``, the pre-fork step the ``gc``
  docs recommend, so collections skip the inherited heap.

Together, on ``local[4]`` (4 cores): an identity ``mapInPandas`` over 20k
rows at 16 tasks went 0.76 -> 0.26 s (0.06 s for the same stage without
Python), and the seed-42 ``match_persons`` trace's Python-worker time went
2.19 -> 0.80 s.

This is a deployment-level optimization with zero semantic effect: workers
run the exact same ``pyspark.daemon.manager`` loop, a changed archive is
still re-read, and a new path (``sc.addPyFile``) still gets a new finder.
Only the daemon process (and the workers it forks) is patched; importing
this module patches nothing.  On a real cluster the same trick amortizes
executor-side worker spin-up for short queries.

Enabled by ``session.build_session`` via
``spark.python.daemon.module=fuzzy_matching_spark.pipeline.worker_daemon``.
"""

import gc
import importlib
import os
import zipimport

# Heavy third-party stack first — these dominate the fault cost.
import numpy  # noqa: F401
import pandas  # noqa: F401
import pyarrow  # noqa: F401

try:  # the Arrow<->pandas bridge pyspark's serializers touch on first batch
    import pyarrow.pandas_compat  # noqa: F401
except ImportError:  # pragma: no cover - optional internal module
    pass

# The worker entrypoint itself (pyspark.worker pulls in the SQL serializer
# stack); failure is non-fatal — the worker imports it itself on first use.
try:
    import pyspark.worker  # noqa: F401
except Exception:  # pragma: no cover
    pass

# Our own kernels (referenced by every scoring / shingling UDF).  Guarded:
# the daemon must still come up if the package isn't importable on some
# node's PYTHONPATH — workers then import it per-process as usual.
try:
    import fuzzy_matching_spark.kernel.batchfuzz  # noqa: F401
    import fuzzy_matching_spark.kernel.batchlcs  # noqa: F401
    import fuzzy_matching_spark.operators.minhash  # noqa: F401
except Exception:  # pragma: no cover
    pass

from pyspark.daemon import manager


def prepare_fork() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive only when
    it changed, stamp every archive now, then freeze the heap.  Runs in the
    daemon right before it starts forking workers."""
    read = zipimport.zipimporter.invalidate_caches
    stamps: dict[str, tuple[int, int]] = {}

    def invalidate_caches(self) -> None:
        try:
            st = os.stat(self.archive)
        except OSError:  # gone: let zipimport drop it as it always does
            read(self)
            stamps.pop(self.archive, None)
            return
        stamp = (st.st_mtime_ns, st.st_size)
        cached = zipimport._zip_directory_cache.get(self.archive)
        if cached is not None and stamps.get(self.archive) == stamp:
            self._files = cached
            return
        read(self)
        stamps[self.archive] = stamp

    zipimport.zipimporter.invalidate_caches = invalidate_caches
    importlib.invalidate_caches()
    gc.freeze()


if __name__ == "__main__":
    prepare_fork()
    manager()
