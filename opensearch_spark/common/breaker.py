"""Hierarchical circuit breakers for driver-side memory.

Reference surface: ``libs/core/.../common/breaker/CircuitBreaker.java``
(+ ``CircuitBreakingException``) and the parent/child accounting of
``indices/breaker/HierarchyCircuitBreakerService.java`` — every tracked
allocation charges its own breaker AND the parent; either limit trips the
request with an HTTP-429-style error instead of an OOM.

Spark split: executor memory is Spark's problem (spills, AQE); what can
still kill the DRIVER at 100 TB are the deliberate driver-side
materializations — multi-term expansions, the tombstone liveDocs array,
percolator stored-query broadcasts. Those call sites charge the breakers
below before holding the data, so a pathological request degrades into a
clean ``CircuitBreakingException`` (the reference's exact posture) rather
than a driver OOM that takes every concurrent query down with it.

Charges are released when the holder frees the memory (or immediately for
transient estimates); breakers are process-global like the reference's
node-level service.
"""
from __future__ import annotations

import threading
from contextlib import contextmanager


class CircuitBreakingException(RuntimeError):
    """CircuitBreaker tripped (reference: CircuitBreakingException —
    maps to HTTP 429, the request is rejected, the node survives)."""

    def __init__(self, name: str, wanted: int, used: int, limit: int,
                 label: str):
        self.name, self.wanted, self.used, self.limit = \
            name, wanted, used, limit
        super().__init__(
            f"[{name}] data for [{label}] would be [{used + wanted}] bytes,"
            f" which is larger than the limit of [{limit}] bytes")


class CircuitBreaker:
    """One named breaker; optional parent charged alongside."""

    def __init__(self, name: str, limit_bytes: int,
                 parent: "CircuitBreaker | None" = None):
        self.name = name
        self.limit = int(limit_bytes)
        self.parent = parent
        self.used = 0
        self.trip_count = 0
        self._lock = threading.Lock()

    def add_estimate(self, n_bytes: int, label: str = "<unknown>") -> None:
        """Charge ``n_bytes``; raises (and charges nothing) when either
        this breaker or any ancestor would exceed its limit."""
        n = int(n_bytes)
        if n < 0:
            raise ValueError("negative breaker charge")
        with self._lock:
            if self.used + n > self.limit:
                self.trip_count += 1
                raise CircuitBreakingException(
                    self.name, n, self.used, self.limit, label)
            self.used += n
        if self.parent is not None:
            try:
                self.parent.add_estimate(n, label)
            except CircuitBreakingException:
                with self._lock:
                    self.used -= n  # roll back the child charge
                raise

    def release(self, n_bytes: int) -> None:
        n = int(n_bytes)
        with self._lock:
            # propagate only what was ACTUALLY deducted: a double-release
            # clamps at zero here, and passing the full amount up would
            # under-count the parent while sibling children still hold
            # their reservations — the hierarchy then fails to trip
            freed = min(n, self.used)
            self.used -= freed
        if self.parent is not None and freed > 0:
            self.parent.release(freed)

    @contextmanager
    def admit(self, n_bytes: int, label: str = "<unknown>"):
        """Context manager yielding True while ``n_bytes`` are held, or
        False — charging nothing — when a limit refuses them: for callers
        that route a refused request to a plan that needs no driver
        memory, instead of failing it."""
        try:
            self.add_estimate(n_bytes, label)
        except CircuitBreakingException:
            yield False
            return
        try:
            yield True
        finally:
            self.release(n_bytes)

    def reserve(self, n_bytes: int, label: str = "<unknown>"):
        """Context manager: charge on enter, release on exit — for
        transient materializations."""
        breaker = self

        class _Reservation:
            def __enter__(self):
                breaker.add_estimate(n_bytes, label)
                return breaker

            def __exit__(self, *exc):
                breaker.release(n_bytes)
                return False

        return _Reservation()


# -- node-level service (HierarchyCircuitBreakerService defaults, scaled
# to a driver: parent 70% of a nominal 1 GiB driver budget; children get
# the reference's relative shares) -----------------------------------------
PARENT_LIMIT = 700 * (1 << 20)

parent_breaker = CircuitBreaker("parent", PARENT_LIMIT)
#: multi-term expansions, percolator candidate sets and the postings or
#: positions a driver-scored request holds (reference `request`)
request_breaker = CircuitBreaker(
    "request", 400 * (1 << 20), parent=parent_breaker)
#: long-lived per-reader driver state: tombstone liveDocs arrays and doc
#: values (reference `fielddata` — the long-lived-per-reader analog)
fielddata_breaker = CircuitBreaker(
    "fielddata", 300 * (1 << 20), parent=parent_breaker)


def reset_all() -> None:
    """Test hook: zero all node-level accounting."""
    for b in (parent_breaker, request_breaker, fielddata_breaker):
        b.used = 0
        b.trip_count = 0
