"""Merge-query retry policy (reference B9 retry config).

Mirrors the reference's sink retry contract
(crd-microsoft-synapse.yaml:181-209; example values dev.env.example:86-92;
serialized shape stream-context-serialized-example.json
``sink.mergeServiceClient.queryRetry*``): mode ``never`` / ``always`` /
``backfillOnly``, bounded attempts, exponential backoff scaled by
``scale_factor`` from ``base_duration_s``, and optional message-substring
matching so only known-transient errors retry (the reference matches
Trino/Iceberg commit-conflict strings; here any Spark/Delta-style
concurrent-write message works the same way).

Spark tasks already retry internally — this guards the job-level unit
(merge + snapshot commit), which is safe to replay because the CDC merge
is idempotent (dedup makes a re-merge a no-op). A :class:`FatalError`
is never retried, whatever the mode: replaying the same batch fails the
same way.
"""

from __future__ import annotations

import time
from collections.abc import Callable
from dataclasses import dataclass
from typing import TypeVar

T = TypeVar("T")


class FatalError(Exception):
    """A failure that a replay (or a process restart) cannot fix: the CLI
    exits 1 on it and ``with_retry`` re-raises it on the first attempt."""


@dataclass(frozen=True)
class RetryPolicy:
    mode: str = "never"  # never | always | backfillOnly
    max_attempts: int = 3
    base_duration_s: float = 1.0
    scale_factor: float = 3.0
    on_message_contents: tuple[str, ...] = ()  # empty → every error retryable

    def applies(self, is_backfill: bool) -> bool:
        return self.mode == "always" or (self.mode == "backfillOnly" and is_backfill)

    def matches(self, error: BaseException) -> bool:
        if not self.on_message_contents:
            return True
        msg = str(error)
        return any(s in msg for s in self.on_message_contents)

    def delay_s(self, attempt: int) -> float:
        """Backoff before retry number ``attempt`` (1-based)."""
        return self.base_duration_s * self.scale_factor ** (attempt - 1)


def with_retry(
    fn: Callable[[], T],
    policy: RetryPolicy,
    *,
    is_backfill: bool = False,
    sleep: Callable[[float], None] = time.sleep,
) -> T:
    """Run ``fn``, retrying per policy. Fatal and non-matching errors,
    exhausted attempts, and disabled modes re-raise the original exception."""
    attempt = 0
    while True:
        try:
            return fn()
        except Exception as e:  # noqa: BLE001 — policy decides
            attempt += 1
            if (
                isinstance(e, FatalError)
                or not policy.applies(is_backfill)
                or not policy.matches(e)
                or attempt >= policy.max_attempts
            ):
                raise
            sleep(policy.delay_s(attempt))
