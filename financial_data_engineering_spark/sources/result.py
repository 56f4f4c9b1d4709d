"""Extraction result envelope (control-plane record, not data-plane).

API parity with the reference's ExtractionResult
(/root/reference/src/extractors/result.py:15-48), with ``data`` holding a
persisted :class:`pyspark.sql.DataFrame` instead of pandas. ``records`` is
populated by an explicit ``count()`` at build time — the one deliberate
eager action in the extraction path (SURVEY.md §7.3, eager→lazy friction),
which also materializes ``data``.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from datetime import datetime
from typing import Any

from pyspark.sql import DataFrame


@dataclass
class ExtractionResult:
    """Outcome of one extraction: telemetry counters plus the data.

    ``data`` is persisted and already materialized by the count behind
    ``records``, so every later action reads cached blocks rather than
    re-running the fetch and parse. The blocks stay until
    :func:`~financial_data_engineering_spark.llm.caching.release_intermediates`
    or ``spark.catalog.clearCache()`` frees them; an action after that
    recomputes the frame from its lineage.
    """

    success: bool
    source: str
    records: int = 0
    api_calls: int = 0
    cache_hits: int = 0
    started_at: datetime | None = None
    completed_at: datetime | None = None
    duration_seconds: float = 0.0
    error: str | None = None
    warnings: list[str] = field(default_factory=list)
    data: DataFrame | None = None

    def to_dict(self) -> dict[str, Any]:
        """JSON-safe dict (excludes the DataFrame), matching
        result.py:34-48 field-for-field."""
        return {
            "success": self.success,
            "source": self.source,
            "records": self.records,
            "api_calls": self.api_calls,
            "cache_hits": self.cache_hits,
            "started_at": self.started_at.isoformat() if self.started_at else None,
            "completed_at": (
                self.completed_at.isoformat() if self.completed_at else None
            ),
            "duration_seconds": self.duration_seconds,
            "error": self.error,
            "warnings": self.warnings,
        }
