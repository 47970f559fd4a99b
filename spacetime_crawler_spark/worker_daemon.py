"""Python worker daemon that forks its workers warm.

Spark starts one daemon per executor (`spark.python.daemon.module`, set in
session.get_spark) and forks a worker from it for each Python task slot.
PySpark's stock daemon forks workers that still have to import pandas,
pyarrow and the engine's UDF modules on their first task — about 0.6 s per
worker, paid again by every worker the JVM starts.  This daemon does those
imports once, before it starts forking, so every forked worker inherits
them.

Two more per-task costs go before the first fork (see prepare()):

- PySpark calls importlib.invalidate_caches() at the start of every task,
  and on Python 3.11 each zipimporter then re-parses its archive's whole
  directory — 16 importers over pyspark.zip's 1,328 entries in a warm
  worker, 0.07–0.10 s of CPU per task.  The archives already on sys.path
  when the daemon starts are Spark's own zips, which Spark never rewrites
  while a worker lives, so their importers keep their directory; an
  archive added later (addPyFile) is re-read as before.
- gc.freeze() moves the daemon's heap to the permanent generation, so a
  forked worker's collections neither scan it nor copy its pages.

Spark runs it as ``python -m spacetime_crawler_spark.worker_daemon``; the
imports stay inside the functions so importing this module (session.py
does, for its name) costs nothing.
"""

from __future__ import annotations


def _keep_startup_archives_cached() -> None:
    """zipimporter.invalidate_caches() skips the archives on sys.path now."""
    import os
    import sys
    import zipimport

    startup = frozenset(p for p in sys.path if os.path.isfile(p))
    stock = zipimport.zipimporter.invalidate_caches

    def invalidate_caches(self) -> None:
        if self.archive not in startup:
            stock(self)

    zipimport.zipimporter.invalidate_caches = invalidate_caches


def prepare() -> None:
    """Everything the daemon does before it starts forking workers."""
    import gc

    import numpy  # noqa: F401
    import pandas  # noqa: F401
    import pyarrow  # noqa: F401
    import pyspark.worker  # noqa: F401

    from spacetime_crawler_spark.operators import bloom, politeness, udfs  # noqa: F401

    _keep_startup_archives_cached()
    gc.freeze()


def main() -> None:
    from pyspark import daemon

    prepare()
    daemon.manager()


if __name__ == "__main__":
    main()
