"""Custom stateful streaming operators built on ``applyInPandasWithState``.

The built-in ``F.session_window`` (streaming/windows.py) covers gap sessions
declaratively; this module is the *custom* stateful path for per-key state
machines the built-ins cannot express. Each operator is the streaming twin of
a batch statistic, and replaying a stream through it reproduces the batch
result (pinned in tests/test_streaming.py).

Every twin folds its per-key rows under one of three ordering policies:

* **Watermark fold** — ``cusum_stateful``, ``rolling_zscore_stateful``,
  ``drawdown_stateful`` and ``gap_record_stateful``. The statistic is
  defined over event time and its fold is order-sensitive, so rows fold in
  final (ts, id) order. A row at or before the event-time watermark when it
  arrives is late and dropped (the late-data contract of every built-in
  stateful op). Newer rows wait in a per-key PENDING buffer; once the
  watermark passes them they are sorted and folded through exact integer
  registers. An event-time timeout at the newest pending row flushes keys
  whose batches stop. State per key is the registers plus the pending
  buffer, bounded by the watermark horizon. ``_watermark_fold`` holds this
  skeleton once; each twin supplies its input select and its fold step.
* **Arrival order** — ``lateness_monitor_stateful`` folds rows in
  micro-batch order, because the disorder IS its statistic.
  ``sessionize_stateful`` also folds as rows arrive: its interval merge
  absorbs disorder within the session gap, and the watermark only evicts
  sessions that can no longer grow.
* **Commutative** — ``active_days_monitor_stateful`` is a set union, so no
  arrival order can change its answer.

Every function shipped to executors is self-contained: it is built from
nested defs and closure variables only and imports inside its body, so
cloudpickle ships it by value and executors need not import this package.
State schemas are scalar-typed (longs, doubles, JSON strings) for the Arrow
round-trip; they are part of the checkpoint format and must not change.
Each operator is one hash shuffle on its grouping key; its docstring bounds
its per-key state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupStateTimeout

SESSION_OUTPUT_SCHEMA = (
    "user_id long, session_start timestamp, session_end timestamp, "
    "n_events long, total_value double"
)
# state carries epoch-micros (long) — pandas/arrow state round-trips longs
# losslessly, unlike tz-aware timestamps
SESSION_STATE_SCHEMA = (
    "session_start long, session_end long, n_events long, total_value double"
)


def sessionize_stateful(
    events: DataFrame,
    gap_seconds: int = 1800,
    watermark: str = "2 hours",
    ts_col: str = "ts",
    user_col: str = "user_id",
    value_col: str = "value",
) -> DataFrame:
    """events (streaming DF) → closed sessions, via per-user custom state.

    Per user, events extend an open session while the gap between
    consecutive events is ≤ ``gap_seconds``; a larger gap closes the
    session (emitted immediately) and opens a new one. An open session is
    closed and emitted when the event-time watermark passes its end + gap
    (event-time timeout), so state is bounded by the watermark. State is
    one small tuple per open session per user. The batch backfill form is
    operators.windows.sessionize (property-tested equivalent).
    """

    gap_us = gap_seconds * 1_000_000

    def track(key, pdfs, state):
        import datetime as _dt

        import pandas as pd

        def emit(start_us, end_us, n, total):
            return pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "session_start": [
                        _dt.datetime.fromtimestamp(start_us / 1e6, _dt.timezone.utc).replace(tzinfo=None)
                    ],
                    "session_end": [
                        _dt.datetime.fromtimestamp(end_us / 1e6, _dt.timezone.utc).replace(tzinfo=None)
                    ],
                    "n_events": [n],
                    "total_value": [total],
                }
            )

        if state.hasTimedOut:
            (start_us, end_us, n, total) = state.get
            state.remove()
            yield emit(start_us, end_us, n, total)
            return

        cur = state.get if state.exists else None
        out = []
        for pdf in pdfs:
            pdf = pdf.sort_values("ts")
            ts_us = (pdf["ts"].astype("int64")).tolist()  # ns → handled below
            # pandas datetime64[ns/us] → micros
            unit_div = 1000 if pdf["ts"].dtype.str.endswith("[ns]") else 1
            vals = pdf["value"].fillna(0.0).tolist()
            for t_raw, v in zip(ts_us, vals):
                t = t_raw // unit_div
                if cur is None:
                    cur = (t, t, 1, float(v))
                elif cur[0] - gap_us <= t <= cur[1] + gap_us:
                    # interval merge: in-order extension AND out-of-order
                    # events that land inside/adjacent to the open session
                    cur = (
                        min(cur[0], t),
                        max(cur[1], t),
                        cur[2] + 1,
                        cur[3] + float(v),
                    )
                elif t > cur[1] + gap_us:
                    out.append(cur)
                    cur = (t, t, 1, float(v))
                else:
                    # stray event far BEFORE the open session (out-of-order
                    # beyond merge reach): emit as its own fragment — an
                    # already-emitted earlier session can't be reopened
                    out.append((t, t, 1, float(v)))
        if cur is not None:
            close_at_ms = (cur[1] + gap_us) // 1000
            wm_ms = state.getCurrentWatermarkMs()
            if close_at_ms <= wm_ms:
                # watermark already passed end + gap: the session is final
                # (no on-time event can extend it) — emit now, keep no state
                if state.exists:
                    state.remove()
                out.append(cur)
            else:
                state.update(cur)
                # evict when the watermark passes session end + gap
                state.setTimeoutTimestamp(close_at_ms)
        for s in out:
            yield emit(*s)

    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(user_col)
        .applyInPandasWithState(
            track,
            SESSION_OUTPUT_SCHEMA,
            SESSION_STATE_SCHEMA,
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )


def _watermark_fold(
    pre: DataFrame,
    watermark: str,
    init: tuple,
    fold,
    out_col: str,
    output_schema: str,
    state_schema: str,
) -> DataFrame:
    """The watermark-fold policy (module docstring), per event type.

    ``pre`` has ``event_type``, ``ts`` and ``event_id`` followed by the
    integer payload columns the fold reads. Pending rows are
    ``[ts_us, event_id, *payload]``. ``init`` is the register tuple of a
    new key; list registers are stored as JSON strings. ``fold(regs,
    rows)`` takes rows in (ts, id) order and returns ``(regs, alerts)``,
    each alert an ``(event_id, value)`` pair emitted as ``out_col``. The
    state row is the registers followed by the pending buffer as JSON.
    """

    def track(key, pdfs, state):
        import json

        import pandas as pd

        if state.exists:
            *stored, pend_json = state.get
            regs = [
                json.loads(v) if isinstance(i, list) else int(v)
                for i, v in zip(init, stored)
            ]
            pending = json.loads(pend_json)
        else:
            regs = [list(i) if isinstance(i, list) else i for i in init]
            pending = []

        if state.hasTimedOut:
            # the watermark passed every pending row: finalize all
            ready, pending = pending, []
        else:
            wm_ms = state.getCurrentWatermarkMs()
            for pdf in pdfs:
                unit_div = 1000 if pdf["ts"].dtype.str.endswith("[ns]") else 1
                cols = ["event_id"] + [
                    c for c in pdf.columns
                    if c not in ("event_type", "ts", "event_id")
                ]
                for t_raw, *vals in zip(
                    pdf["ts"].astype("int64").tolist(),
                    *(pdf[c].tolist() for c in cols),
                ):
                    t_us = t_raw // unit_div
                    if t_us // 1000 > wm_ms:  # else late: dropped
                        pending.append([t_us, *(int(v) for v in vals)])
            ready = [r for r in pending if r[0] // 1000 <= wm_ms]
            pending = [r for r in pending if r[0] // 1000 > wm_ms]

        regs, alerts = fold(regs, sorted(ready))
        state.update(
            (
                *(json.dumps(r) if isinstance(r, list) else r for r in regs),
                json.dumps(pending),
            )
        )
        if pending:
            # flush via timeout once the watermark passes the newest row
            state.setTimeoutTimestamp(max(r[0] for r in pending) // 1000 + 1)
        if alerts:
            yield pd.DataFrame(
                {
                    "event_type": [key[0]] * len(alerts),
                    "event_id": [a[0] for a in alerts],
                    out_col: [a[1] for a in alerts],
                }
            )

    return (
        pre.withWatermark("ts", watermark)
        .groupBy("event_type")
        .applyInPandasWithState(
            track,
            output_schema,
            state_schema,
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )


CUSUM_OUTPUT_SCHEMA = "event_type string, event_id long, cusum_cents long"
# fold carries the clamp-identity registers (exact bigints); the pending
# buffer (rows newer than the watermark, not yet safe to fold) rides as a
# JSON string — arrays of (ts_us, event_id, delta) — so the state schema
# stays scalar-typed for the Arrow round-trip
CUSUM_STATE_SCHEMA = "psum long, minp long, pending string"


def cusum_stateful(
    events: DataFrame,
    k_cents: int = 6_000,
    h_cents: int = 50_000,
    watermark: str = "2 hours",
    ts_col: str = "ts",
    type_col: str = "event_type",
    order_col: str = "event_id",
    value_col: str = "value",
) -> DataFrame:
    """Streaming one-sided CUSUM change alerts per event type — the
    stateful twin of the batch ``cusum_alerts_by_type`` workload, with
    EXACT event-time semantics: S_t = max(0, S_{t-1} + (x_t − K)) folded
    strictly in (event time, id) order, alerts where S_t > H.

    Ordering follows the module's watermark-fold policy. The registers
    are the clamp identity's running sum and min-prefix, both exact
    bigints: S = psum − min(0, min prefix).
    """
    pre = events.select(
        F.col(type_col).alias("event_type"),
        F.col(ts_col).alias("ts"),
        F.col(order_col).alias("event_id"),
        (
            F.floor(F.col(value_col) * 100 + 0.5).cast("long")
            - F.lit(k_cents).cast("long")
        ).alias("delta"),
    )
    h = int(h_cents)

    def fold(regs, rows):
        psum, minp = regs
        alerts = []
        for _t, eid, d in rows:
            psum += d
            if psum < minp:
                minp = psum
            s = psum - minp
            if s > h:
                alerts.append((eid, s))
        return (psum, minp), alerts

    return _watermark_fold(
        pre, watermark, (0, 0), fold, "cusum_cents",
        CUSUM_OUTPUT_SCHEMA, CUSUM_STATE_SCHEMA,
    )


ZSCORE_OUTPUT_SCHEMA = "event_type string, event_id long, zscore double"
# exact integer moment registers for the trailing window, plus the
# current window contents and the pending (post-watermark) buffer as
# JSON strings — scalar-typed state for the Arrow round-trip (the CUSUM
# twin's representation)
ZSCORE_STATE_SCHEMA = "s long, s2 long, win string, pending string"


def rolling_zscore_stateful(
    events: DataFrame,
    win_rows: int = 100,
    z_thresh: int = 3,
    watermark: str = "2 hours",
    ts_col: str = "ts",
    type_col: str = "event_type",
    order_col: str = "event_id",
    value_col: str = "value",
) -> DataFrame:
    """Streaming trailing-window z-score anomaly alerts per event type —
    the stateful twin of the batch ``window_rolling_zscore`` workload,
    with EXACT event-time semantics: for each row, z is computed over
    the trailing ``win_rows`` rows (inclusive) in strict (event time,
    id) order via the identity z = (n·x − S) / √(n·S2 − S²) with the
    moments held as exact int64 registers (the batch probe's 6× lesson:
    int64 beats decimal for sliding-frame state), alerting |z| > thresh
    where the variance numerator is positive.

    Parity: Python ints convert to float correctly-rounded (same as the
    JVM's long→double), and /, √ are correctly rounded in both — so the
    emitted double is bit-identical to the batch window form.

    Ordering follows the module's watermark-fold policy. State per key:
    two int64 moments + ≤win_rows window values + the pending buffer.
    """
    pre = events.select(
        F.col(type_col).alias("event_type"),
        F.col(ts_col).alias("ts"),
        F.col(order_col).alias("event_id"),
        F.floor(F.col(value_col) * 100 + 0.5).cast("long").alias("x"),
    )
    w, thresh = int(win_rows), int(z_thresh)

    def fold(regs, rows):
        import math

        s, s2, win = regs
        alerts = []
        for _t, eid, x in rows:
            win.append(x)
            s += x
            s2 += x * x
            if len(win) > w:
                old = win.pop(0)
                s -= old
                s2 -= old * old
            n = len(win)
            var_num = n * s2 - s * s
            if var_num > 0:
                z = float(n * x - s) / math.sqrt(float(var_num))
                if z > thresh or z < -thresh:
                    alerts.append((eid, z))
        return (s, s2, win), alerts

    return _watermark_fold(
        pre, watermark, (0, 0, []), fold, "zscore",
        ZSCORE_OUTPUT_SCHEMA, ZSCORE_STATE_SCHEMA,
    )


DRAWDOWN_OUTPUT_SCHEMA = (
    "event_type string, event_id long, drawdown_cents long"
)
# three exact integer registers (cumulative cents, running peak, max
# drawdown so far) + the pending post-watermark buffer as JSON — the
# CUSUM twin's scalar-typed state representation
DRAWDOWN_STATE_SCHEMA = "cum long, peak long, maxdd long, pending string"


def drawdown_stateful(
    events: DataFrame,
    drift_cents: int = 0,
    watermark: str = "2 hours",
    ts_col: str = "ts",
    type_col: str = "event_type",
    order_col: str = "event_id",
    value_col: str = "value",
) -> DataFrame:
    """Streaming high-water-mark drawdown alerts per event type — the
    stateful twin of the batch max_drawdown shape, with EXACT
    event-time semantics: fold rows strictly in (event time, id)
    order, cum += cents, peak = max(peak, cum) (peak starts at 0), and
    emit a row whenever drawdown = peak − cum sets a NEW maximum — the
    "we are deeper under water than ever before" alert the batch
    argmax readout can only see after the fact. ``drift_cents`` is
    subtracted from every value before folding (drawdown of the
    cumulative NET of the expected run rate — an always-positive value
    stream never draws down raw, exactly as an always-up equity curve
    never does; the CUSUM K-drift discipline).

    Ordering follows the module's watermark-fold policy. State per key:
    three exact-bigint registers + the pending buffer.
    """
    pre = events.select(
        F.col(type_col).alias("event_type"),
        F.col(ts_col).alias("ts"),
        F.col(order_col).alias("event_id"),
        (
            F.floor(F.col(value_col) * 100 + 0.5).cast("long")
            - F.lit(int(drift_cents)).cast("long")
        ).alias("cents"),
    )

    def fold(regs, rows):
        cum, peak, maxdd = regs
        alerts = []
        for _t, eid, cents in rows:
            cum += cents
            if cum > peak:
                peak = cum
            dd = peak - cum
            if dd > maxdd:
                maxdd = dd
                alerts.append((eid, dd))
        return (cum, peak, maxdd), alerts

    return _watermark_fold(
        pre, watermark, (0, 0, 0), fold, "drawdown_cents",
        DRAWDOWN_OUTPUT_SCHEMA, DRAWDOWN_STATE_SCHEMA,
    )


GAP_RECORD_OUTPUT_SCHEMA = "event_type string, event_id long, gap_us long"
GAP_RECORD_STATE_SCHEMA = "last_us long, max_gap long, pending string"


def gap_record_stateful(
    events: DataFrame,
    watermark: str = "2 hours",
    ts_col: str = "ts",
    type_col: str = "event_type",
    order_col: str = "event_id",
    user_col: str = "user_id",
) -> DataFrame:
    """Streaming record-silence alerts per event type — the stateful
    twin of the batch ``silence_record_alerts`` workload: fold events
    strictly in (event time, id) order, track the last event time and
    the maximum interarrival gap seen, and emit a row whenever a gap
    sets a NEW per-type record (the first gap always alerts, matching
    the batch form's NULL prev-max) — the zero-configuration outage
    detector ("we have never been this quiet") a fixed staleness
    threshold approximates badly.

    Ordering follows the module's watermark-fold policy. State per key:
    two exact-bigint registers (-1 = none yet) + the pending buffer.
    """
    pre = events.where(F.col(user_col).isNotNull()).select(
        F.col(type_col).alias("event_type"),
        F.col(ts_col).alias("ts"),
        F.col(order_col).alias("event_id"),
    )

    def fold(regs, rows):
        last_us, max_gap = regs
        alerts = []
        for t_us, eid in rows:
            if last_us >= 0:
                gap = t_us - last_us
                if gap > max_gap:
                    alerts.append((eid, gap))
                    max_gap = gap
            last_us = t_us
        return (last_us, max_gap), alerts

    return _watermark_fold(
        pre, watermark, (-1, -1), fold, "gap_us",
        GAP_RECORD_OUTPUT_SCHEMA, GAP_RECORD_STATE_SCHEMA,
    )




LATENESS_OUTPUT_SCHEMA = (
    "event_type string, n_events long, n_late long, "
    "max_late_us long, total_late_us long"
)
LATENESS_STATE_SCHEMA = (
    "max_us long, n long, n_late long, max_late long, total_late long"
)


def lateness_monitor_stateful(
    events: DataFrame,
    ts_col: str = "ts",
    type_col: str = "event_type",
    order_col: str = "event_id",
) -> DataFrame:
    """Streaming out-of-order-arrival monitor per event type — the
    stateful twin of the batch ``out_of_order_arrival_stats`` workload:
    each arriving event is compared against the maximum EVENT TIME seen
    so far for its type; an earlier timestamp is a late arrival and its
    lateness (µs) accumulates into exact-bigint counters. Emits one
    cumulative snapshot row per key per micro-batch; the latest row IS
    the live watermark-sizing readout (max_late_us is the smallest
    no-data-loss watermark).

    Ordering contract — deliberately DIFFERENT from the CUSUM/z-score/
    drawdown/gap twins: those repair disorder (pending buffer + event-
    time watermark, folding in (ts, id) order) because their statistic
    is defined over event time. Here the disorder IS the statistic, so
    rows fold in ARRIVAL order (micro-batch order, ``order_col``-sorted
    within each batch — the per-batch ingestion tiebreak). Replaying a
    stream in ingestion order reproduces the batch workload's event_id
    fold bit-for-bit (tests/test_streaming.py); no pending buffer, no
    timeout — state per key is five longs, strictly bounded.

    Scale: one hash shuffle on the type key; per-key state O(1); the
    emitted stream is |keys| rows per micro-batch."""
    pre = events.select(
        F.col(type_col).alias("event_type"),
        F.col(ts_col).alias("ts"),
        F.col(order_col).alias("event_id"),
    )

    def track(key, pdfs, state):
        import pandas as pd

        if state.exists:
            max_us, n, n_late, max_late, total_late = (
                int(x) for x in state.get
            )
        else:
            max_us, n, n_late, max_late, total_late = -1, 0, 0, 0, 0

        rows = []
        for pdf in pdfs:
            ts_raw = pdf["ts"].astype("int64")
            unit_div = 1000 if pdf["ts"].dtype.str.endswith("[ns]") else 1
            rows.extend(
                (int(eid), int(t) // unit_div)
                for eid, t in zip(pdf["event_id"].tolist(), ts_raw.tolist())
            )
        rows.sort()  # per-batch ingestion tiebreak: event_id order
        for _eid, t_us in rows:
            # "no max yet" is n == 0, NOT a timestamp sentinel: a -1
            # sentinel would silently swallow pre-epoch (negative
            # unix-micro) timestamps and break stream≡batch bit-parity
            # with out_of_order_arrival_stats, whose window MAX starts
            # NULL (ADVICE r11). Once any event has folded, compare
            # unconditionally.
            if n > 0 and max_us > t_us:
                late = max_us - t_us
                n_late += 1
                total_late += late
                if late > max_late:
                    max_late = late
            n += 1
            if n == 1 or t_us > max_us:
                max_us = t_us
        state.update((max_us, n, n_late, max_late, total_late))
        yield pd.DataFrame(
            {
                "event_type": [key[0]],
                "n_events": [n],
                "n_late": [n_late],
                "max_late_us": [max_late],
                "total_late_us": [total_late],
            }
        )

    return pre.groupBy("event_type").applyInPandasWithState(
        track,
        LATENESS_OUTPUT_SCHEMA,
        LATENESS_STATE_SCHEMA,
        "append",
        GroupStateTimeout.NoTimeout,
    )


ACTIVE_DAYS_OUTPUT_SCHEMA = "user_id long, n_active_days long"
# the distinct-day set rides as a JSON int list: calendar-bounded
# (|days| ≤ a few thousand for any realistic observation window), and
# scalar-typed for the Arrow round-trip like every other twin's state
ACTIVE_DAYS_STATE_SCHEMA = "days string, n long"


def active_days_monitor_stateful(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Streaming distinct-active-days counter per user — the stateful
    twin of the batch ``active_days_histogram``'s per-user core, and a
    NEW point in the twin taxonomy: the statistic is a SET UNION, so it
    is COMMUTATIVE in arrival order.  The CUSUM/z-score/drawdown/gap
    twins must repair disorder (pending buffer + watermark) because
    their folds are order-sensitive; the lateness monitor deliberately
    folds in arrival order because disorder IS its statistic; here
    neither machinery exists because no ordering can change the
    answer — replaying the stream in ANY batch partition of the events
    reproduces the batch count bit-for-bit (tests prove an adversarial
    interleaving).

    State per user is the distinct-day set (days since epoch, exact
    integer floor division — pre-epoch timestamps land on negative
    indexes, no sentinel involved) as a JSON int list plus its size:
    bounded by the CALENDAR, not the event volume, the same
    value-domain bound the batch histogram rides.  Emits one cumulative
    (user, n_active_days) snapshot per key per micro-batch; the latest
    row per key is the live engagement-depth readout.

    Scale: one hash shuffle on the user key; per-key state O(|days|);
    emitted rows per batch = keys present in that batch only."""
    import json

    pre = events.select(
        F.col(user_col).alias("user_id"),
        F.unix_micros(F.col(ts_col).cast("timestamp")).alias("tus"),
    )

    def track(key, pdfs, state):
        import pandas as pd

        if state.exists:
            days_json, n = state.get
            days = set(json.loads(days_json))
        else:
            days = set()
        for pdf in pdfs:
            for t_us in pdf["tus"].astype("int64").tolist():
                days.add(int(t_us) // 86_400_000_000)
        n = len(days)
        state.update((json.dumps(sorted(days)), n))
        yield pd.DataFrame({"user_id": [key[0]], "n_active_days": [n]})

    return pre.groupBy("user_id").applyInPandasWithState(
        track,
        ACTIVE_DAYS_OUTPUT_SCHEMA,
        ACTIVE_DAYS_STATE_SCHEMA,
        "append",
        GroupStateTimeout.NoTimeout,
    )
