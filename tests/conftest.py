import os

import pytest

REFERENCE = "/root/reference"
TESTDATA = "/root/testdata"


def reference_path(*parts):
    return os.path.join(REFERENCE, *parts)


def session_env(tmp_path):
    """The environment for a child process that starts its own Spark
    session: no parent gateway, and an empty conf directory, so that the
    session neither reads nor trains a class archive."""
    conf = tmp_path / "spark-conf"
    conf.mkdir(exist_ok=True)
    env = dict(os.environ, XDG_CACHE_HOME=str(tmp_path / "xdg"),
               SPARK_CONF_DIR=str(conf))
    env.pop("PYSPARK_GATEWAY_PORT", None)
    env.pop("PYSPARK_GATEWAY_SECRET", None)
    return env


@pytest.fixture(scope="session")
def eval_blocks():
    """The reference's held-out extraction test set (142 statements)."""
    from scikg_spark.core.parsing import parse_stmt_blocks

    path = reference_path("data", "stmts-eval.tsv")
    if not os.path.exists(path):
        pytest.skip("reference gold data not available")
    with open(path) as f:
        return list(parse_stmt_blocks(f))


@pytest.fixture(scope="session")
def train_blocks():
    from scikg_spark.core.parsing import parse_stmt_blocks

    path = reference_path("data", "stmts-train.tsv")
    if not os.path.exists(path):
        pytest.skip("reference gold data not available")
    with open(path) as f:
        return list(parse_stmt_blocks(f))


@pytest.fixture(scope="session")
def spark():
    from scikg_spark.pipeline.session import get_spark

    spark = get_spark(app_name="scikg-tests", cores=4, shuffle_partitions=8)
    yield spark
    spark.stop()
