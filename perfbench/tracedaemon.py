"""Spark Python worker daemon with layer tracing installed.

Selected with ``spark.python.daemon.module=perfbench.tracedaemon`` in
traced benchmark runs: the wrappers are installed once in the daemon,
and every worker it forks inherits them.
"""

from perfbench.trace import install

if __name__ == "__main__":
    install()
    from pyspark.daemon import manager
    manager()
