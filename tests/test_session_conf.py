"""Every session the package builds carries session.SESSION_CONF, including
DataFrame call-site capture switched off: with it on, each
pyspark.sql.functions call costs extra py4j round trips to record where in
Python it was made."""

from __future__ import annotations

import importlib.util
import sys
from pathlib import Path

import pytest
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from kgraph_spark.session import SESSION_CONF

REPO = Path(__file__).resolve().parent.parent
DEBUGGING = "spark.python.sql.dataFrameDebugging.enabled"


def test_session_conf_turns_call_site_capture_off():
    assert SESSION_CONF[DEBUGGING] == "false"


def test_get_spark_session_carries_the_setting(spark):
    assert spark.conf.get(DEBUGGING) == "false"
    client = spark.sparkContext._gateway._gateway_client  # noqa: SLF001
    send = client.send_command
    calls = []

    def counting(*args, **kwargs):
        calls.append(args)
        return send(*args, **kwargs)

    client.send_command = counting
    try:
        F.col("x")
    finally:
        client.send_command = send
    # looking up and calling functions.col; capture would add about ten more
    assert len(calls) <= 4


class _Built(Exception):
    """Raised instead of starting a session; carries the builder's options."""


def _load_job(name: str):
    spec = importlib.util.spec_from_file_location(f"_job_{name}", REPO / "jobs" / f"{name}.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.fixture
def captured_builder(monkeypatch):
    def get_or_create(builder):
        raise _Built(dict(builder._options))  # noqa: SLF001

    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", get_or_create)


def _assert_session_conf(options: dict) -> None:
    assert {k: options.get(k) for k in SESSION_CONF} == SESSION_CONF
    assert options[DEBUGGING] == "false"


def test_run_pipeline_job_session_carries_session_conf(captured_builder):
    job = _load_job("run_pipeline")
    with pytest.raises(_Built) as built:
        job.build_session("kgraph-construct", None)
    _assert_session_conf(built.value.args[0])


def test_medlit_pass2_job_session_carries_session_conf(captured_builder, monkeypatch, tmp_path):
    job = _load_job("run_medlit_pass2")
    monkeypatch.setattr(
        sys, "argv",
        ["run_medlit_pass2.py", "--bundles", str(tmp_path), "--synonym-cache",
         str(tmp_path / "cache.json"), "--workdir", str(tmp_path)],
    )
    with pytest.raises(_Built) as built:
        job.main()
    _assert_session_conf(built.value.args[0])
