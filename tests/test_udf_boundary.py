"""Structural guard for the UDF-output rule: every module a pipeline
job or its ingest crosses moves Python-stage data through Arrow only —
no pandas import, ``mapInPandas`` or ``toPandas``."""

import os
import re

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_PANDAS = re.compile(
    r"^\s*(?:import pandas|from pandas\b)|mapInPandas|toPandas", re.M
)


@pytest.mark.parametrize(
    "rel",
    [
        "serd_spark/operators/linking.py",
        "serd_spark/operators/extract.py",
        "serd_spark/plans/pipeline.py",
        "serd_spark/sources/pages.py",
        "serd_spark/sources/warc.py",
    ],
)
def test_pipeline_modules_cross_through_arrow_only(rel):
    with open(os.path.join(ROOT, rel)) as f:
        hits = _PANDAS.findall(f.read())
    assert not hits, f"{rel}: {hits}"
