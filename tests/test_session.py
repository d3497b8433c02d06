"""Session factory confs that the engine's Python workers depend on."""

from __future__ import annotations

import os

import example_kafkastreams_spark


def test_workers_find_the_package(spark):
    """Python workers unpickle UDFs by importing the package, so the
    session puts the package's parent directory on their path, ahead of
    the environment's own PYTHONPATH: a driver started from any working
    directory runs the Python-UDF slots."""
    pkg_parent = os.path.dirname(
        os.path.dirname(os.path.abspath(example_kafkastreams_spark.__file__))
    )
    want = os.pathsep.join(filter(None, [pkg_parent, os.environ.get("PYTHONPATH")]))
    assert spark.sparkContext.getConf().get("spark.executorEnv.PYTHONPATH") == want
