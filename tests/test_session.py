"""Session factory defaults (session.py) and the tools that reuse them."""

from __future__ import annotations

import importlib.util
import os
import sys

import pytest

from weather_data_warehouse_aws_spark.session import CODEGEN_CACHE_ENTRIES, engine_conf


def test_get_spark_applies_codegen_cache_size(spark):
    # static conf: readable on the session, fixed at its first build
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        CODEGEN_CACHE_ENTRIES
    )
    assert engine_conf()["spark.sql.codegen.cache.maxEntries"] == str(
        CODEGEN_CACHE_ENTRIES
    )


def test_profile_jobs_rejects_zero_iters(monkeypatch):
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "tools", "profile_jobs.py",
    )
    spec = importlib.util.spec_from_file_location("profile_jobs", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    monkeypatch.setattr(sys, "argv", ["profile_jobs.py", "q1", "0"])
    with pytest.raises(SystemExit, match="iters must be >= 1"):
        mod.main()
