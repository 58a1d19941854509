import os

import pytest

from warc_metadata_sidecar_spark.session import build_session

# the reference implementation's own tests, checked out next to this repository
REFERENCE_TESTS = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "reference",
    "tests",
)


@pytest.fixture(scope="session")
def spark():
    spark = build_session(app_name="tests", cpus=4, shuffle_partitions=4)
    yield spark


@pytest.fixture(scope="session")
def docs100(spark):
    from warc_metadata_sidecar_spark import gen

    return gen.documents(spark, 100).cache()


@pytest.fixture(scope="session")
def media_tbl(spark):
    from warc_metadata_sidecar_spark import gen

    return gen.media(spark)


@pytest.fixture
def reference_tests():
    """The reference implementation's own test directory: its WARC/ARC
    fixtures, CDXJ inputs and byte goldens. They are not part of this repo
    and cannot be regenerated from it, so a test reading them skips when
    the directory is absent; the checks that do not need those exact bytes
    also run over generated inputs."""
    if not os.path.isdir(REFERENCE_TESTS):
        pytest.skip(
            f"{REFERENCE_TESTS} is absent: the reference's fixture files and "
            "byte goldens are not in this repo and are not faked"
        )
    return REFERENCE_TESTS
