from __future__ import annotations

import warnings

import pytest

from distributed_pagerank_spark.session import CODEGEN_CACHE, get_spark

from tests.conftest import SESSION_ARGS


def _get_spark_again(spark, codegen_entries: str):
    """get_spark on the shared session, asking for ``codegen_entries``."""
    extra = {**SESSION_ARGS["extra_conf"], CODEGEN_CACHE: codegen_entries}
    again = get_spark(**{**SESSION_ARGS, "extra_conf": extra})
    assert again is spark  # getOrCreate() returned the existing session


def test_ignored_static_codegen_cache_warns(spark):
    kept = spark.conf.get(CODEGEN_CACHE)
    with pytest.warns(RuntimeWarning, match=CODEGEN_CACHE):
        _get_spark_again(spark, str(int(kept) + 1))
    assert spark.conf.get(CODEGEN_CACHE) == kept


def test_matching_codegen_cache_does_not_warn(spark):
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        _get_spark_again(spark, spark.conf.get(CODEGEN_CACHE))
