"""Python-worker daemon of ``get_spark`` sessions (``spark.python.daemon.module``)."""
from pyspark.daemon import manager

manager()
