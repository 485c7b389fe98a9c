"""The stream drive loop retries exactly the transient Python-worker
spawn timeout and re-raises everything else unchanged (r12 hardening:
one opening-bench run died in PythonStreamingSourceRunner.init on the
JVM's hard-coded 10 s connect-back window under co-tenant load)."""

import pytest

from aws_datalake_framework_api_spark.streaming.drive import (
    run_stream_to_completion,
)

_TRANSIENT_MSG = (
    "[STREAM_FAILED] Query terminated with exception: "
    "Python worker failed to connect back. SQLSTATE: XXKST"
)


class _Query:
    def __init__(self, exc=None):
        self.exc = exc

    def awaitTermination(self):
        if self.exc is not None:
            raise self.exc


def _starter(outcomes, log):
    """start() callable yielding the scripted per-attempt outcomes."""
    it = iter(outcomes)

    def start():
        log.append("start")
        return _Query(next(it))

    return start


def test_transient_failure_is_retried_then_succeeds(monkeypatch):
    monkeypatch.setattr(
        "aws_datalake_framework_api_spark.streaming.drive.time.sleep",
        lambda _s: None,
    )
    log = []
    run_stream_to_completion(
        _starter([RuntimeError(_TRANSIENT_MSG), None], log)
    )
    assert log == ["start", "start"]  # restarted once, then completed


def test_non_transient_failure_raises_on_first_attempt():
    log = []
    with pytest.raises(ValueError, match="schema mismatch"):
        run_stream_to_completion(
            _starter([ValueError("schema mismatch"), None], log)
        )
    assert log == ["start"]  # a real bug never restarts


def test_persistent_transient_failure_raises_after_budget(monkeypatch):
    monkeypatch.setattr(
        "aws_datalake_framework_api_spark.streaming.drive.time.sleep",
        lambda _s: None,
    )
    log = []
    errs = [RuntimeError(_TRANSIENT_MSG)] * 3
    with pytest.raises(RuntimeError, match="failed to connect back"):
        run_stream_to_completion(_starter(errs, log))
    assert log == ["start"] * 3  # bounded: 1 original + 2 retries


def test_transient_failure_in_start_is_retried(monkeypatch, caplog):
    """The spawn timeout can surface while ``start()`` launches the
    query (PythonStreamingSourceRunner.init), not only while awaiting
    it: that throw gets the same bounded retry, with one warning line
    per restart."""
    monkeypatch.setattr(
        "aws_datalake_framework_api_spark.streaming.drive.time.sleep",
        lambda _s: None,
    )
    log = []

    def start():
        log.append("start")
        if len(log) == 1:
            raise RuntimeError(_TRANSIENT_MSG)
        return _Query()

    with caplog.at_level(
        "WARNING", logger="aws_datalake_framework_api_spark.streaming.drive"
    ):
        run_stream_to_completion(start)
    assert log == ["start", "start"]
    assert len(caplog.records) == 1 and "attempt 1/3" in caplog.messages[0]


def test_zero_attempts_is_rejected():
    log = []
    with pytest.raises(ValueError, match="attempts"):
        run_stream_to_completion(_starter([None], log), attempts=0)
    assert log == []  # never started
