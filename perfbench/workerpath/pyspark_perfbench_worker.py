"""Python worker entry for the benchmark's traced run.

Spark's daemon imports the module named by ``spark.python.worker.module``
(the name must start with ``pyspark``) once, before it forks workers, and
calls ``main`` once per task in the forked worker. The span wrappers are
installed in each worker on its first task, before the task's functions
are unpickled, so the daemon imports nothing an untraced daemon would not
and workers pay the same import cost as in an untraced run. After each
task ``main`` writes the worker's span aggregate.
"""

from pyspark.worker import main as _stock_main

from perfbench import tracing


def main(infile, outfile):
    tracing.install_worker_spans()
    try:
        _stock_main(infile, outfile)
    finally:
        tracing.flush_worker()
