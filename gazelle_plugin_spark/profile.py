"""Spark's own stage metrics, read from the UI's REST API: the one
reader that bench.py, tools/skew_bench.py and the tests share."""

from __future__ import annotations

import json
import urllib.request


class NoSparkUIError(RuntimeError):
    """The session runs without a UI (``spark.ui.enabled=false``)."""


def rest(spark, path: str):
    """GET ``/api/v1/applications/<app><path>`` once the listener bus has
    delivered every event posted so far (a just-finished stage included)."""
    sc = spark.sparkContext
    if sc.uiWebUrl is None:
        raise NoSparkUIError(f"application {sc.applicationId} has no Spark UI")
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}{path}"
    with urllib.request.urlopen(url, timeout=30) as resp:
        return json.load(resp)


def new_stages(spark, seen: set) -> list[dict]:
    """The completed stages whose ``(stageId, attemptId)`` is not in
    ``seen``; adds them to ``seen``."""
    stages = rest(spark, "/stages?status=complete")
    new = [s for s in stages if (s["stageId"], s["attemptId"]) not in seen]
    seen.update((s["stageId"], s["attemptId"]) for s in new)
    return new


def heaviest_read_summary(spark, stages: list[dict], quantiles: str) -> tuple[dict, dict]:
    """The stage of ``stages`` that read the most shuffle bytes, and its
    task-metric summary at ``quantiles`` (e.g. ``"0.5,1.0"``)."""
    top = max(stages, key=lambda s: s.get("shuffleReadBytes", 0))
    path = f"/stages/{top['stageId']}/{top['attemptId']}/taskSummary?quantiles={quantiles}"
    return top, rest(spark, path)
