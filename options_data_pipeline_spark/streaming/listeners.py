"""Alerting (reference AlertManager).

Reference: dual-channel alerts (app log + system_log sheet,
``modules/alerts/alert_manager.py:26-64``) with WARNING→CRITICAL
escalation on repeated trouble. The streaming pipeline's one listener,
:class:`~.metrics.MetricsListener`, fires its silence heartbeats and
stage failures through an :class:`AlertManager` whose third channel is
the ``pipeline_metrics`` table.
"""

from __future__ import annotations

import logging
from dataclasses import dataclass, field

log = logging.getLogger("options_data_pipeline_spark.alerts")


@dataclass
class AlertManager:
    """Dual-channel alert fan-out (log + in-memory event sink standing in
    for the system_log table). Escalates to CRITICAL at ``escalate_after``
    consecutive firings of the same event (reference
    ``reconnect_manager.py:80-100``)."""

    escalate_after: int = 3
    events: list[dict] = field(default_factory=list)
    # streaks are per (event, window): one stage's trouble never
    # escalates or resolves another's
    _streak: dict[tuple[str, str], int] = field(default_factory=dict)
    # optional channel 3: the pipeline_metrics table
    # (streaming/metrics.py MetricsListener.alert_row)
    on_fire: object = None

    def fire(self, level: str, event: str, window: str = "", details: str = "") -> dict:
        streak = self._streak.get((event, window), 0) + 1
        self._streak[(event, window)] = streak
        if streak >= self.escalate_after and level == "WARNING":
            level = "CRITICAL"
        record = {"level": level, "event": event, "window": window, "details": details}
        self.events.append(record)  # channel 1: system_log analogue
        getattr(log, "critical" if level == "CRITICAL" else "warning")(
            "%s %s %s", event, window, details
        )  # channel 2: app log
        if self.on_fire is not None:
            self.on_fire(record)
        return record

    def resolve(self, event: str, window: str = "") -> None:
        self._streak.pop((event, window), None)
