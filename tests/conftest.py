from __future__ import annotations

import os
from pathlib import Path

import pytest

from schema_inference_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"
SF_DIR_ORACLE = "/root/testdata/sf0.01"
# the reference implementation's checkout, beside this repository unless
# REFERENCE_CHECKOUT names it; its fixtures are not vendored here
REFERENCE_DIR = Path(
    os.environ.get("REFERENCE_CHECKOUT")
    or Path(__file__).resolve().parents[2] / "reference"
)


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(app_name="tests", master="local[4]", shuffle_partitions=4)
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def reference():
    """``reference(rel)`` -> path of ``rel`` inside the reference checkout.

    The golden tests compare against the reference's own fixtures. Without
    the checkout they cannot run, and that is a failure with one message
    naming the path, not a skip: a skipped golden would read as parity."""

    def path(rel: str) -> str:
        if not REFERENCE_DIR.is_dir():
            pytest.fail(
                f"reference checkout not found at {REFERENCE_DIR} "
                "(set REFERENCE_CHECKOUT to its root)",
                pytrace=False,
            )
        return str(REFERENCE_DIR / rel)

    return path
