"""Resilience utilities (SURVEY.md §2.11).

Reference: retry-with-exponential-backoff decorator and ErrorTracker at
/root/reference/src/logger.py:75-223. In the Spark engine these wrap
*connector/driver-side* actions only (fetches, sink commits) — task-level
retry inside jobs is Spark's own ``spark.task.maxFailures``.
"""

from __future__ import annotations

import functools
import logging
import time
from datetime import datetime, timezone
from typing import Any, Callable, TypeVar

log = logging.getLogger("msfdp")

T = TypeVar("T")


def retry_with_backoff(
    max_retries: int = 3,
    backoff_factor: float = 2.0,
) -> Callable[[Callable[..., T]], Callable[..., T]]:
    """3 retries, delay = backoff_factor ** attempt (1s, 2s, 4s with the
    default factor) — src/logger.py:75-132, delay formula :114."""

    def deco(fn: Callable[..., T]) -> Callable[..., T]:
        @functools.wraps(fn)
        def wrapper(*args: Any, **kwargs: Any) -> T:
            last: Exception | None = None
            for attempt in range(max_retries + 1):
                try:
                    return fn(*args, **kwargs)
                except Exception as exc:  # noqa: PERF203
                    last = exc
                    if attempt == max_retries:
                        break
                    delay = backoff_factor**attempt
                    log.warning(
                        "%s failed (attempt %d/%d): %s — retrying in %.1fs",
                        fn.__name__, attempt + 1, max_retries, exc, delay,
                    )
                    time.sleep(delay)
            assert last is not None
            raise last

        return wrapper

    return deco


class ErrorTracker:
    """Structured error/warning records with per-operation grouping
    (src/logger.py:135-223). Driver-side telemetry, not a data-path
    operator."""

    def __init__(self) -> None:
        self.errors: list[dict[str, Any]] = []
        self.warnings: list[dict[str, Any]] = []

    def _record(self, operation: str, message: str) -> dict[str, Any]:
        return {
            "timestamp": datetime.now(timezone.utc).isoformat(),
            "operation": operation,
            "message": message,
        }

    def add_error(self, operation: str, message: str) -> None:
        self.errors.append(self._record(operation, message))
        log.error("[%s] %s", operation, message)

    def add_warning(self, operation: str, message: str) -> None:
        self.warnings.append(self._record(operation, message))
        log.warning("[%s] %s", operation, message)

    def by_operation(self) -> dict[str, int]:
        """src/logger.py:206-214."""
        counts: dict[str, int] = {}
        for rec in self.errors:
            counts[rec["operation"]] = counts.get(rec["operation"], 0) + 1
        return counts

    def summary(self) -> dict[str, Any]:
        """Same JSON summary shape as src/logger.py:185-204."""
        return {
            "total_errors": len(self.errors),
            "total_warnings": len(self.warnings),
            "errors_by_operation": self.by_operation(),
            "errors": self.errors,
            "warnings": self.warnings,
        }
