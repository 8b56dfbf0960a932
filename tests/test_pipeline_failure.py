"""A failed ``run_pipeline`` call must surface every cause and leave no
background thread of its own behind."""

from __future__ import annotations

import threading
import time

import pytest

NO_INPUT = "(?i)path does not exist|PATH_NOT_FOUND"


class _SlowBound:
    """Stands in for LABEL_BROADCAST_MAX: the background label count's
    ``count() <= bound`` lands in ``__ge__``, which stalls (and optionally
    fails) so the count is still running when the corpus stage raises."""

    def __init__(self, delay_s: float, error: Exception | None = None):
        self.delay_s, self.error = delay_s, error

    def __ge__(self, n):
        time.sleep(self.delay_s)
        if self.error is not None:
            raise self.error
        return True


def _label_count_threads() -> list[str]:
    return [t.name for t in threading.enumerate()
            if t.name.startswith("label-count")]


def test_failed_run_leaves_no_label_count_thread(spark, tmp_path, monkeypatch):
    """No ``documents.parquet``: the corpus stage raises while the
    background label count still runs. The count is resolved on the way
    out, so its thread is gone when the call returns."""
    from wikidata_to_cidoc_crm_spark import pipeline

    monkeypatch.setattr(pipeline, "LABEL_BROADCAST_MAX", _SlowBound(2.0))
    with pytest.raises(Exception, match=NO_INPUT):
        pipeline.run_pipeline(spark, str(tmp_path))
    assert _label_count_threads() == []


def test_failed_run_surfaces_label_count_error(spark, tmp_path, monkeypatch):
    """When the label count fails too, its error surfaces, chained to the
    corpus stage's."""
    from wikidata_to_cidoc_crm_spark import pipeline

    monkeypatch.setattr(pipeline, "LABEL_BROADCAST_MAX",
                        _SlowBound(1.0, RuntimeError("label count failed")))
    with pytest.raises(RuntimeError, match="label count failed") as info:
        pipeline.run_pipeline(spark, str(tmp_path))
    assert info.value.__context__ is not None
    assert "PATH_NOT_FOUND" in str(info.value.__context__) \
        or "does not exist" in str(info.value.__context__).lower()
    assert _label_count_threads() == []
