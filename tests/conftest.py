from __future__ import annotations

import os

import pytest

from v2_ocr_spark.fixtures.oracle_expected import TESTDATA_SF

DATA_DIR = os.environ.get("V2OCR_DATA_DIR", "/root/repo/data")


@pytest.fixture(scope="session")
def spark():
    from v2_ocr_spark.session import get_spark

    # small core count for tests: startup speed over throughput
    s = get_spark(app_name="tests", master="local[8]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_small() -> str:
    return os.path.join(DATA_DIR, "sf0.001")


@pytest.fixture(scope="session")
def sf_mid() -> str:
    return os.path.join(DATA_DIR, "sf0.01")


# the shared sf0.001 fixture tables (documents, embeddings, events; the
# sibling of the sf0.01 set the oracle twins pin) and the generated
# sf0.001 transcripts/conversations, each read once per session:
# operators take DataFrames, so tests hand them these
TESTDATA_SMALL = os.path.join(os.path.dirname(TESTDATA_SF), "sf0.001")


@pytest.fixture(scope="session")
def testdata_small() -> str:
    return TESTDATA_SMALL


@pytest.fixture(scope="session")
def documents(spark):
    return spark.read.parquet(f"{TESTDATA_SMALL}/documents.parquet")


@pytest.fixture(scope="session")
def embeddings(spark):
    return spark.read.parquet(f"{TESTDATA_SMALL}/embeddings.parquet")


@pytest.fixture(scope="session")
def events(spark):
    return spark.read.parquet(f"{TESTDATA_SMALL}/events.parquet")


@pytest.fixture(scope="session")
def transcripts(spark, sf_small):
    return spark.read.parquet(f"{sf_small}/transcripts.parquet")


@pytest.fixture(scope="session")
def conversations(spark, sf_small):
    return spark.read.parquet(f"{sf_small}/conversations.parquet")
