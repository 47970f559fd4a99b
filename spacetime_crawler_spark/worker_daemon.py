"""Python worker daemon that forks its workers warm.

Spark starts one daemon per executor (`spark.python.daemon.module`, set in
session.get_spark) and forks a worker from it for each Python task slot.
PySpark's stock daemon forks workers that still have to import pandas,
pyarrow and the engine's UDF modules on their first task — about 0.6 s per
worker, paid again by every worker the JVM starts.  This daemon does those
imports once, before it starts forking, so every forked worker inherits
them.

Spark runs it as ``python -m spacetime_crawler_spark.worker_daemon``; the
imports stay inside main() so importing this module (session.py does, for
its name) costs nothing.
"""

from __future__ import annotations


def main() -> None:
    import numpy  # noqa: F401
    import pandas  # noqa: F401
    import pyarrow  # noqa: F401
    import pyspark.worker  # noqa: F401
    from pyspark import daemon

    from spacetime_crawler_spark.operators import bloom, politeness, udfs  # noqa: F401

    daemon.manager()


if __name__ == "__main__":
    main()
