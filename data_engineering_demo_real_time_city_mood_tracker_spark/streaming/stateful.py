"""Custom stateful streaming operator: gap-based sessionization via
``applyInPandasWithState``.

Spark's built-in session window (``F.session_window``) covers windowed
aggs; this operator exists for the general pattern the reference's
foreachBatch jobs approximate imperatively — per-key state machines
that emit on state transition. State per user is O(1) (open-session
triple), batches arrive Arrow-vectorized, and session math inside a
batch is numpy, not a Python row loop.

Semantics match operators/sessions.py ``session_stats`` (the batch
twin, oracle-checked): a session closes when the next event for the
user arrives more than ``gap_sec`` after the previous one. Closed
sessions are emitted in the micro-batch that closes them; the open
session per user rides in state until a later event (or stream end)
closes it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

OUTPUT_SCHEMA = (
    "user_id long, session_start timestamp, session_end timestamp, "
    "n_events long, duration_sec double"
)
# open-session state: [start_us, end_us, n_events] (int64 micros keeps
# full timestamp precision — doubles would round below 1 µs)
STATE_SCHEMA = "start_us long, end_us long, n long"


def _advance_sessions(us, start_us, end_us, n, gap_us):
    """Core session math of :func:`sessionize_stream`: fold a
    sorted int64-µs timestamp array into the (start, end, n) open
    session, returning (closed_sessions, new_open_state). Vectorized —
    boundary detection is one np.diff, never a Python row loop."""
    import numpy as np

    new_flag = np.empty(len(us), dtype=bool)
    new_flag[0] = end_us is None or (us[0] - end_us) > gap_us
    if len(us) > 1:
        new_flag[1:] = np.diff(us) > gap_us
    sess = np.cumsum(new_flag)  # 0 = continues the open session

    closed: list[tuple[int, int, int]] = []
    if new_flag[0] and end_us is not None:
        closed.append((start_us, end_us, n))
        start_us = end_us = None
        n = 0
    for sid in range(0 if not new_flag[0] else 1, int(sess[-1]) + 1):
        grp = us[sess == sid]
        if sid == sess[-1]:  # open tail → state
            if start_us is None:
                start_us, end_us, n = int(grp[0]), int(grp[-1]), len(grp)
            else:
                end_us = int(grp[-1])
                n += len(grp)
        else:
            if start_us is not None:  # continuation closed in-batch
                closed.append((start_us, int(grp[-1]), n + len(grp)))
                start_us = end_us = None
                n = 0
            else:
                closed.append((int(grp[0]), int(grp[-1]), len(grp)))
    return closed, (int(start_us), int(end_us), int(n))


def _sessions_pdf(key, closed):
    import numpy as np
    import pandas as pd

    arr = np.asarray(closed, dtype="int64")
    return pd.DataFrame(
        {
            "user_id": np.full(len(arr), key, dtype="int64"),
            "session_start": pd.to_datetime(arr[:, 0], unit="us"),
            "session_end": pd.to_datetime(arr[:, 1], unit="us"),
            "n_events": arr[:, 2],
            "duration_sec": (arr[:, 1] - arr[:, 0]) / 1e6,
        }
    )


def sessionize_stream(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_sec: float = 1800.0,
) -> DataFrame:
    """events (streaming or batch grouped frame input) → closed
    sessions, one row per session, emitted when the closing event
    arrives.

    Caveat of this API: with NoTimeout, a user's LAST session can only
    be closed by a later event — at stream end it rides in state
    forever. Event-time timers (transformWithState) would close it at
    the watermark, but that runtime needs ``google.protobuf`` in the
    Python workers."""
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_us = int(gap_sec * 1_000_000)

    def close_sessions(key, pdf_iter, state: GroupState):
        ts_chunks = [pdf[ts_col] for pdf in pdf_iter]
        ts = pd.concat(ts_chunks).sort_values()
        us = (ts.astype("int64").to_numpy() // 1000).astype("int64")  # ns → µs
        if state.exists:
            start_us, end_us, n = state.get
        else:
            start_us, end_us, n = None, None, 0
        closed, new_state = _advance_sessions(us, start_us, end_us, n, gap_us)
        state.update(new_state)
        if closed:
            yield _sessions_pdf(key[0], closed)

    return events.groupBy(user_col).applyInPandasWithState(
        close_sessions,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
