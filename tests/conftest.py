import os
import shutil
import tempfile

import pytest


@pytest.fixture(scope="session")
def spark():
    from log2seq_spark.session import get_spark
    s = get_spark(app_name="log2seq-spark-tests", master="local[4]",
                  shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture()
def tmpdir_path():
    d = tempfile.mkdtemp(prefix="l2s_test_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture()
def path_forms():
    """``forms(root)`` → ``[(path, local dir), …]``: one plain path and
    one ``file://`` URI under ``root``. Driver-side state I/O goes
    through the Hadoop FileSystem API for both, so state tests run over
    each."""
    def forms(root):
        plain, uri = os.path.join(root, "plain"), os.path.join(root, "uri")
        return [(plain, plain), ("file://" + uri, uri)]
    return forms
