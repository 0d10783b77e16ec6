from __future__ import annotations

import os

import pytest

from dere_spark import refdata
from dere_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
FIXTURES = os.path.join(ROOT, "tests", "fixtures")
#: seeded BioNLP-ST-shaped BRAT corpus (scripts/make_bionlp_fixture.py)
MINI = os.path.join(FIXTURES, "bionlp_mini")
MINI_SPEC = os.path.join(MINI, "bionlpst.xml")
MINI_TRAIN = os.path.join(MINI, "train")
MINI_TEST = os.path.join(MINI, "test")
#: quote-attribution spec in the shape of the reference's task-specs/quote.xml
QUOTE_SPEC = os.path.join(FIXTURES, "quote.xml")

#: the reference checkout's data files, under ``refdata.REFERENCE_ROOT``
#: (relocatable via ``DERE_SPARK_REFERENCE_ROOT``); tests that read them
#: carry ``needs_reference`` on the same constants
REF_SPEC = refdata.BIONLP_SPEC
REF_GAZETTEER = refdata.REFERENCE_GAZETTEER
REF_QUOTE_SPEC = os.path.join(refdata.REFERENCE_ROOT, "task-specs", "quote.xml")
REF_MODEL_SPEC = os.path.join(
    refdata.REFERENCE_ROOT, "model-specs", "bionlpst-baseline.json"
)
REF_TRAIN = os.path.join(refdata.REFERENCE_ROOT, "tutorial", "data", "train")
REF_TEST = os.path.join(refdata.REFERENCE_ROOT, "tutorial", "data", "test")


def needs_reference(*paths: str):
    """Skip mark for a test that reads files of the reference checkout:
    the test runs only where every one of ``paths`` (``REF_*`` above)
    exists, and the skip reason names the first that does not."""
    missing = [p for p in paths if not os.path.exists(p)]
    return pytest.mark.skipif(
        bool(missing), reason=f"needs {missing[0]}" if missing else ""
    )


@pytest.fixture(scope="session")
def spark():
    s = get_spark("dere_spark_tests", cpus=8, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR
