"""Custom stateful streaming operator via applyInPandasWithState.

``user_error_monitor`` keeps a per-user running error count with a
processing-time timeout — the canonical "custom stateful operator" shape
(SURVEY.md §2.9: the reference has no streaming; this is the engine
extension demonstrating arbitrary state beyond windows/sessions).

State is one small tuple per key, bounded; the group-state store scales
horizontally with key partitioning. The update closure is self-contained
(workers must not import csvtool_spark — see sources/parquet docstring).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupStateTimeout

OUTPUT_SCHEMA = "user_id long, n_events long, n_errors long, error_rate double"
STATE_SCHEMA = "n_events long, n_errors long"


def user_error_monitor(stream: DataFrame, idle_timeout_ms: int | None = None) -> DataFrame:
    """Per-user cumulative event/error counters over a micro-batch stream.

    Input columns: user_id, event_type. Emits one updated row per user per
    micro-batch. ``idle_timeout_ms`` enables ProcessingTimeTimeout state
    expiry for long-running production streams — leave None for bounded
    replays: a pending timeout keeps trigger=availableNow queries alive
    forever (the batch that would fire the timeout never becomes 'available').
    """
    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if idle_timeout_ms
        else GroupStateTimeout.NoTimeout
    )

    def update(key, pdfs, state):
        import pandas as _pd

        if state.hasTimedOut:
            state.remove()
            return
        # GroupState.get is a PROPERTY in PySpark (calling the returned
        # tuple raised TypeError) — latent until a key carried state into
        # a second micro-batch (test_error_monitor_state_carries_across_batches)
        n_events, n_errors = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n_events += len(pdf)
            n_errors += int((pdf["event_type"] == "error").sum())
        state.update((n_events, n_errors))
        if idle_timeout_ms:
            state.setTimeoutDuration(idle_timeout_ms)
        rate = (n_errors / n_events) if n_events else 0.0
        yield _pd.DataFrame(
            [(key[0], n_events, n_errors, round(rate, 6))],
            columns=["user_id", "n_events", "n_errors", "error_rate"],
        )

    return (
        stream.select("user_id", "event_type")
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=timeout,
        )
    )

