"""T7 — bounded retry with exponential backoff for destination writes.

The reference quantifies its retry budgets: the BigQuery client retries
5 attempts within a 5-minute total timeout (ConsumerUtil.java:134-147),
stream appends back off 500 ms x1.1 for at most 5 retries
(StreamDataWriter.java:73-79), and the stream writer is recreated at most
3 times.  Spark already retries *task* failures inside a job; what it does
not cover is a transient failure of the whole driver-side write action
(filesystem hiccup between a data write and its log commit, a
flaky object-store list, ...).  ``with_retry`` wraps those actions with the
same budget shape; idempotency comes from the table commit log — a write
is invisible until its commit publishes, and a replayed epoch finds its
commit and no-ops, so retrying is always semantics-preserving.
"""

from __future__ import annotations

import logging
import time
from collections.abc import Callable
from dataclasses import dataclass

from py4j.protocol import Py4JError

log = logging.getLogger(__name__)


@dataclass(frozen=True)
class RetryPolicy:
    """Budget mirror of the reference's writer retry settings."""

    attempts: int = 5  # ConsumerUtil.java:138 (maxAttempts 5)
    initial_backoff_ms: float = 500.0  # StreamDataWriter.java:74
    multiplier: float = 1.1  # StreamDataWriter.java:75
    max_elapsed_s: float = 300.0  # ConsumerUtil.java:141 (5 min total)

    def backoff_ms(self, attempt: int) -> float:
        """Backoff before retry ``attempt`` (1-based)."""
        return self.initial_backoff_ms * (self.multiplier ** (attempt - 1))


DEFAULT_POLICY = RetryPolicy()

# Fast policy for unit tests / latency-sensitive callers.
NO_WAIT_POLICY = RetryPolicy(initial_backoff_ms=0.0)


def _cancelled(exc: Exception) -> bool:
    """Whether ``exc`` is a Spark job failure whose error condition is
    ``SPARK_JOB_CANCELLED`` (PySpark's own exceptions carry the condition;
    a py4j error carries it on its Java exception)."""
    source = getattr(exc, "java_exception", exc)
    try:
        condition = source.getCondition()
    except (AttributeError, Py4JError):  # not a Spark error: no condition
        return False
    return condition == "SPARK_JOB_CANCELLED"


def with_retry(
    action: Callable[[], object],
    *,
    policy: RetryPolicy = DEFAULT_POLICY,
    describe: str = "write",
    sleep: Callable[[float], None] = time.sleep,
    clock: Callable[[], float] = time.monotonic,
) -> object:
    """Run ``action`` with bounded exponential-backoff retries.

    Retries any exception — the reference treats all append/client errors
    as retryable within budget and surfaces the last error once the budget
    is spent (ConsumerUtil.java:134-147) — except a Spark job its job group
    cancelled (``_cancelled``): a timed-out batch's group refuses every
    later job, so that failure is re-raised at once.  The final failure
    re-raises the original exception so callers keep their error
    semantics; ``describe`` names the action in the retry WARN logs (the
    grep handle for "which table write was flapping").
    """
    start = clock()
    last: Exception | None = None
    for attempt in range(1, policy.attempts + 1):
        try:
            return action()
        except Exception as exc:  # KeyboardInterrupt/SystemExit propagate:
            last = exc  # an interactive abort must not re-run a 5-min write
            if _cancelled(exc) or attempt >= policy.attempts:
                break
            if clock() - start >= policy.max_elapsed_s:
                break
            log.warning(
                "%s failed (attempt %d/%d), retrying in %.0f ms: %s",
                describe,
                attempt,
                policy.attempts,
                policy.backoff_ms(attempt),
                exc,
            )
            sleep(policy.backoff_ms(attempt) / 1000.0)
    assert last is not None
    log.error("%s failed after %d attempt(s); raising", describe, attempt)
    raise last
