from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from datapipelinedemo_spark.session import get_spark

    s = get_spark(app_name="tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def catalog_queries():
    """The driver catalog, for the tests that build every query.

    ``ner_full_dictionary`` is dropped only when
    ``ner.REFERENCE_PATTERNS`` does not exist: it reads that
    entity_ruler dictionary, which the repository does not hold. Its
    own checks live in ``tests/test_ner_full_dictionary.py``, which
    skips on the same condition. The query rejoins these sweeps on
    every machine once the dictionary is in the repository."""
    import __spark_entry__ as e
    from datapipelinedemo_spark.functions import ner

    qs = e.queries()
    if not os.path.exists(ner.REFERENCE_PATTERNS):
        assert "ner_full_dictionary" in qs, "catalog lost ner_full_dictionary"
        qs = {n: fn for n, fn in qs.items() if n != "ner_full_dictionary"}
    return qs
