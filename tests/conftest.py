"""Shared pytest fixtures.

Mirrors the reference's fixture-isolation discipline
(``/root/reference/tests/conftest.py:28-141``): one shared local
SparkSession, tmp-dir output roots per test, deterministic generator
configs so every assertion is reproducible.
"""

from __future__ import annotations

from contextlib import contextmanager

import pytest

from chronominer_spark.datagen import (
    ROLE_VOCAB,
    TOOL_VOCAB,
    TranscriptGenConfig,
    generate_reference_snapshot,
    generate_transcripts,
)
from chronominer_spark.session import build_session

TEST_CONF = {
    "spark.driver.memory": "8g",
    "spark.sql.shuffle.partitions": "8",
}


@pytest.fixture(scope="session")
def spark():
    s = build_session("chronominer-tests", master="local[4]", extra_conf=TEST_CONF)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def gen_cfg():
    # rates bumped from the FIXTURES defaults so every planted-violation
    # class has a solidly nonzero expected count at 20k rows
    return TranscriptGenConfig(
        n_turns=20_000, n_convs=500, seed=42, n_buckets=8,
        dup_key_rate=5e-4, null_role_rate=5e-4, bad_role_rate=5e-4,
        null_text_rate=5e-4, empty_text_rate=5e-4, bad_tool_rate=2e-3,
    )


@pytest.fixture(scope="session")
def transcripts(spark, gen_cfg):
    df = generate_transcripts(spark, gen_cfg).cache()
    df.count()
    return df


@pytest.fixture(scope="session")
def ref_snapshot(spark, gen_cfg):
    df = generate_reference_snapshot(spark, gen_cfg).cache()
    df.count()
    return df


@pytest.fixture(scope="session")
def vocabs():
    return list(ROLE_VOCAB), list(TOOL_VOCAB)


@pytest.fixture
def broadcast_joins_off(spark):
    """A context manager that sets both broadcast-join size thresholds
    to -1, so Spark plans every join as a shuffled one, as it does for
    a dim too large to broadcast; the settings are restored on exit."""
    keys = ("spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold")

    @contextmanager
    def off():
        saved = {k: spark.conf.get(k) for k in keys}
        try:
            for k in keys:
                spark.conf.set(k, "-1")
            yield
        finally:
            for k, v in saved.items():
                spark.conf.set(k, v)

    return off
