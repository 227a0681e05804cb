import os
import sys
import tempfile

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))


@pytest.fixture(scope="session")
def ctx(tmp_path_factory):
    """A small local session whose scratch space is a private temp dir."""
    import common
    import run

    run_dir = str(tmp_path_factory.mktemp("perfbench"))
    tempfile.tempdir = run_dir
    spark = run.start_spark(run_dir, 2)
    yield common.Ctx(spark, run_dir, seed=3)
    run.stop_spark(spark)
