"""The engine's UDF worker daemon: ``pyspark.daemon`` with the modules
every engine worker imports already loaded.

Spark starts it as ``python -m mapreduce_rust_spark.pydaemon
<worker module>`` (``spark.python.daemon.module``, set by
``get_spark``) and forks UDF, Arrow/pandas UDF,
``applyInPandasWithState`` and Python datasource read and write tasks
from it. The datasource planner and writer runners (lookup, create,
plan read, write setup, commit) ignore that conf and start stock
``pyspark.daemon``. Both kinds of daemon, and every other Python
process Spark starts for a ``get_spark`` session, get the cheap
import-cache reset from ``workerboot/sitecustomize.py``, which also
makes them import pyspark and py4j from the installed, compiled copy
when it matches Spark's source-only archives; a bare session gets
neither the hook nor this daemon.

The daemon imports pyarrow, pandas and numpy before it forks anything,
then ``gc.freeze()``s the heap. Forked workers share those pages
instead of each importing its own copy, and the ``gc.collect()``
``pyspark.daemon`` runs between a reused worker's tasks no longer walks
them: 17-22 ms a task with pandas loaded, under 0.1 ms once frozen
(CPython 3.11.7, 4-core x86 host). On the ``stream_write`` benchmark
this cut the Python processes' peak PSS from 492 to 393 MB (median of
8 runs).
"""

from __future__ import annotations

import gc


def main() -> None:
    import numpy  # noqa: F401
    import pandas  # noqa: F401
    import pyarrow  # noqa: F401

    # keeps sys.argv[1] as the worker-module selector
    from pyspark import daemon

    gc.freeze()
    daemon.manager()


if __name__ == "__main__":
    main()
