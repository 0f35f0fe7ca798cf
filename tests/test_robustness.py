"""Operational robustness: corrupt-record quarantine and session
settings."""

import json

import pytest

from relationalize_spark.plans.session import session_conf
from relationalize_spark.sources.readers import read_jsonl_quarantine


def test_quarantine_splits_good_and_bad_lines(spark, tmp_path):
    src = tmp_path / "in.jsonl"
    src.write_text(
        "\n".join(
            [
                json.dumps({"id": 1, "name": "ok"}),
                '{"id": 2, "name": "unterminated',       # bad JSON
                json.dumps({"id": 3, "name": "fine"}),
                "not json at all",
            ]
        )
    )
    good, bad = read_jsonl_quarantine(spark, str(src), "id bigint, name string")
    assert sorted(r["id"] for r in good.collect()) == [1, 3]
    raws = [r["raw_line"] for r in bad.collect()]
    assert len(raws) == 2 and any("unterminated" in r for r in raws)
    # quarantined lines are replayable raw text
    assert "not json at all" in raws


def test_session_has_no_call_site_capture(spark):
    """get_spark turns PySpark's per-Column call-site capture off (it
    more than doubles a micro-batch's py4j round trips)."""
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"


def test_session_conf_restored_after_exception(spark):
    """session_conf puts back what it found — a value, or no value at
    all — when the scope raises. Conf reads only; no Spark job."""
    key = "spark.relationalize.test.scoped"
    try:
        for before in (None, "outer"):
            if before is not None:
                spark.conf.set(key, before)
            with pytest.raises(RuntimeError, match="boom"):
                with session_conf(spark, key, "inner"):
                    assert spark.conf.get(key) == "inner"
                    raise RuntimeError("boom")
            assert spark.conf.get(key, None) == before
    finally:
        spark.conf.unset(key)
