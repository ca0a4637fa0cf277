"""Alert scheduling — rolling-window evaluation loop + notification
targets.

Parity with the reference's alert runtime: each alert has an
`EvalConfig::RollingWindow{eval_start: "10m", eval_frequency: 10min}`
(src/alerts/alert_structs.rs:266-278); the scheduler re-evaluates the
aggregate over `eval_start..now` every `eval_frequency` minutes
(src/alerts/alerts_utils.rs:58-131), drives the
Triggered/NotTriggered state machine, and fires notification targets
on state transitions (src/alerts/target.rs).

Spark shape: evaluation is one aggregate SQL through QueryEngine —
time-filter injection prunes the scan to the rolling window, so an
eval touches only the last few minutes of partitions regardless of
table size. The loop itself is driver-side scheduling (the reference
uses a tokio scheduler; any cron/Airflow slot works identically).
"""

from __future__ import annotations

import contextlib
import threading
import time as _time
from dataclasses import dataclass, field
from datetime import datetime, timezone
from typing import Any, Callable, Protocol

from .alerts import Alert, AlertState


class Target(Protocol):
    def notify(self, alert: Alert, state: AlertState, value: float) -> None: ...


@dataclass
class CallbackTarget:
    """In-process notification target (webhook/slack analog — the
    reference posts JSON to the target URL; wire `fn` to an HTTP POST
    in deployment)."""

    fn: Callable[[dict[str, Any]], None]

    def notify(self, alert: Alert, state: AlertState, value: float) -> None:
        self.fn(
            {
                "stream": alert.stream,
                "aggregate": alert.agg_sql(),
                "threshold": f"{alert.threshold_op} {alert.threshold}",
                "state": state.value,
                "value": value,
            }
        )


@dataclass
class ScheduledAlert:
    alert: Alert
    eval_start: str = "10m"  # humantime offset (reference default)
    eval_frequency_s: int = 600  # reference default 10 min
    targets: list[Target] = field(default_factory=list)
    repeat_notifications: bool = False
    enabled: bool = True  # disabled alerts skip scheduled evaluation
    # notification state (alerts.rs update_notification_state): "notify"
    # delivers normally; a mute suppresses DELIVERY (evaluation and the
    # state machine keep running) until `muted_until` (None = indefinite)
    notification_state: str = "notify"
    muted_until: datetime | None = None
    # None = never evaluated (immediately due). 0.0 would be compared
    # against time.monotonic() — seconds since boot on Linux — so a
    # fresh alert on a recently-booted host sat idle until uptime
    # reached eval_frequency_s (review finding).
    _last_eval: float | None = None
    # evaluate() mutates alert.state and fires on transitions; the
    # scheduler thread and the HTTP evaluate route both call it, and
    # unsynchronized they could each observe the same prev state and
    # double-fire (or lose) one transition's notifications (r7 review)
    _eval_mu: threading.Lock = field(
        default_factory=threading.Lock, repr=False, compare=False
    )

    def due(self, monotonic_now: float) -> bool:
        if self._last_eval is None:
            return True
        return monotonic_now - self._last_eval >= self.eval_frequency_s

    def notifications_muted(self, now: datetime | None = None) -> bool:
        if self.notification_state == "notify":
            return False
        if self.muted_until is None:
            return True  # indefinite
        now = now or datetime.now(timezone.utc)
        if now.tzinfo is None:
            now = now.replace(tzinfo=timezone.utc)
        until = self.muted_until
        if until.tzinfo is None:
            until = until.replace(tzinfo=timezone.utc)
        if now >= until:
            # mute expired: flip back to notify (reference resumes)
            self.notification_state = "notify"
            self.muted_until = None
            return False
        return True

    def evaluate(self, engine, now: datetime | None = None) -> AlertState:
        """One rolling-window evaluation `eval_start..now`; notify
        targets on state transition (or every trigger when
        repeat_notifications), unless notifications are muted.
        Serialized per alert (see _eval_mu) — the state machine's
        read-evaluate-transition must be atomic against the concurrent
        HTTP evaluate route."""
        with self._eval_mu:
            return self._evaluate_locked(engine, now)

    def _evaluate_locked(self, engine, now: datetime | None = None) -> AlertState:
        prev = self.alert.state
        # engine.execute, not query().collect(): the deadline + job-group
        # cancel means one hung Spark job (executor loss, shuffle fetch
        # stall) raises here and is retried next tick instead of blocking
        # the single scheduler thread — and thus every other alert —
        # forever (review finding)
        row = engine.execute(
            self.alert.to_sql(), self.eval_start, "now", now=now
        )[0]
        value = float(row["agg_value"] or 0.0)
        state = self.alert.update_state(value)
        transition = state != prev
        if (
            (transition or (self.repeat_notifications and state is AlertState.TRIGGERED))
            and not self.notifications_muted(now)
        ):
            import logging

            for t in self.targets:
                try:
                    t.notify(self.alert, state, value)
                except Exception:  # noqa: BLE001
                    # per-target isolation: alert.state already flipped
                    # above, so an exception here would permanently lose
                    # this transition for every REMAINING target (next
                    # eval sees prev == state). A dead webhook must not
                    # silence the SSE/other targets (the alert_targets
                    # invariant).
                    logging.getLogger(__name__).exception(
                        "alert target notify failed"
                    )
        return state


class AlertScheduler:
    """Driver-side evaluation loop over registered alerts."""

    def __init__(self, engine, lock=None) -> None:
        """``lock``: held around each evaluation — the server passes its
        API lock, because the engine's scan providers read live stores
        that ingest and sync mutate under it."""
        self.engine = engine
        self._lock = lock if lock is not None else contextlib.nullcontext()
        self._alerts: list[ScheduledAlert] = []
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def register(self, scheduled: ScheduledAlert) -> None:
        self._alerts.append(scheduled)

    def run_pending(self, now: datetime | None = None) -> int:
        """Evaluate every due alert once (test-friendly, also the body
        of the background loop). Returns number evaluated."""
        m = _time.monotonic()
        n = 0
        # snapshot: HTTP threads register/remove alerts concurrently
        # (list mutation mid-iteration skipped the alert after a
        # removed one, or evaluated a deleted alert)
        for sa in list(self._alerts):
            # disabled alerts are silenced, not removed (reference
            # alerts disable/enable routes, modal/server.rs:367-380)
            if sa.enabled and sa.due(m) and sa in self._alerts:
                try:
                    with self._lock:
                        sa.evaluate(self.engine, now=now)
                except Exception:  # noqa: BLE001
                    # a failing alert (e.g. referencing a dropped
                    # column) must not starve the alerts after it or
                    # kill the loop (review finding). Retry in ~60 s:
                    # the old unconditional _last_eval update delayed
                    # outage detection by a full eval_frequency per
                    # transient failure, while NO update would burn a
                    # Spark job every 10 s tick on a permanently broken
                    # alert.
                    import logging

                    logging.getLogger(__name__).exception(
                        "alert evaluation failed"
                    )
                    sa._last_eval = m - max(float(sa.eval_frequency_s) - 60.0, 0.0)
                else:
                    sa._last_eval = m
                n += 1
        return n

    def start(self, tick_seconds: float = 10.0) -> None:
        """Background loop (reference scheduler ticks every 10 s,
        src/storage/retention.rs:88-91 pattern)."""

        if self._thread is not None and self._thread.is_alive():
            return  # already running; a second start() must not leak a loop
        self._stop.clear()  # restartable: stop() leaves the event set

        def loop() -> None:
            while not self._stop.is_set():
                try:
                    self.run_pending()
                except Exception:  # noqa: BLE001 — one bad alert must
                    # not kill evaluation of every other alert forever
                    # (review finding); the next tick retries
                    import logging

                    logging.getLogger(__name__).exception(
                        "alert evaluation tick failed"
                    )
                self._stop.wait(tick_seconds)

        self._thread = threading.Thread(target=loop, daemon=True)
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread:
            self._thread.join(timeout=5)
