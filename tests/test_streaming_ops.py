"""Volume signals of the streaming lanes."""

from __future__ import annotations

import pytest

from mini_etl_project_spark.streaming.ops import input_bytes


def test_input_bytes_unknown_scheme_warns_and_returns_none(spark):
    # neither the local filesystem nor Hadoop knows this scheme: the
    # fallback is None, and it must say so instead of failing silently
    with pytest.warns(UserWarning, match="input_bytes"):
        assert input_bytes("nosuchscheme://bucket/table") is None
