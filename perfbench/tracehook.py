"""Spark Python daemon module for traced runs.

Set as ``spark.python.daemon.module``: installs the span wrappers from
``perfbench.trace``, logs the time of each worker the daemon forks, and
then runs PySpark's own daemon, whose forked workers inherit the
wrapped functions.
"""

if __name__ == "__main__":
    import os

    from pyspark import daemon

    from perfbench import trace

    trace.install()
    trace.log_forks(os.environ.get(trace.ENV_FORK_LOG))
    daemon.manager()
