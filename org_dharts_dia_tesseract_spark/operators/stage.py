"""The one per-row Arrow stage every payload operator runs on.

`row_stage` owns what each operator used to hand-write: the
`mapInPandas` batch loop, output-column assembly, the per-row error
boundary and the per-row time budget, and it keeps each worker's
zip-import directories across tasks. An operator supplies only
`emit(r) -> iterable of tuples in schema order` for one input row `r`
(a namedtuple over the input columns).
"""

from __future__ import annotations

import contextlib
import functools
import signal
import time
import zipimport
from typing import Callable, Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T


def _deadline(timeout_ms: int | None):
    """Context-manager factory: a soft per-row time budget via SIGALRM —
    the analog of the reference's per-page timeout (TessAPI.java:464-481
    recognizeWithTimeout takes timeout_millisec). Fires TimeoutError
    inside the row's work, which the stage's error boundary turns into
    the row's error output, so one pathological page cannot stall a task
    until the Spark task reaper. Soft: a single long-running numpy kernel
    is only interrupted when Python regains control; signals are
    per-process-main-thread, so outside one (exotic worker setups) the
    budget degrades to no-op rather than crashing."""
    if not timeout_ms:
        return contextlib.nullcontext

    @contextlib.contextmanager
    def cm():
        armed = [True]

        def on_alarm(signum, frame):
            if armed[0]:              # a late fire (work already done,
                raise TimeoutError(   # cleanup underway) must not raise
                    f"page exceeded time budget of {timeout_ms} ms")
        try:
            old = signal.signal(signal.SIGALRM, on_alarm)
        except ValueError:            # not the main thread: no budget
            yield
            return
        # ITIMER_REAL is process-wide: remember any timer another owner
        # had running so exit RESTORES it (minus the time we consumed,
        # on the monotonic clock — wall time can step under NTP)
        # instead of silently cancelling it
        t0 = time.monotonic()
        prev_value, prev_interval = signal.setitimer(
            signal.ITIMER_REAL, timeout_ms / 1000.0)
        try:
            yield
            # the body completed: disarm BEFORE any cleanup so an alarm
            # landing between the last body statement and setitimer(0)
            # is ignored instead of misreporting a finished page as a
            # timeout (the raise window shrinks to ~one bytecode)
            armed[0] = False
        finally:
            armed[0] = False
            signal.setitimer(signal.ITIMER_REAL, 0)
            # foreign handler FIRST, only then re-arm the foreign timer:
            # an expired-or-nearly-expired foreign timer must fire into
            # ITS handler, not into on_alarm (which, disarmed, would
            # swallow the signal and lose the foreign alarm for good)
            signal.signal(signal.SIGALRM, old)
            if prev_value > 0:
                remaining = prev_value - (time.monotonic() - t0)
                signal.setitimer(signal.ITIMER_REAL,
                                 max(remaining, 1e-6), prev_interval)
    return cm


def _keep_directory(self) -> None:
    """Stands in for `zipimporter.invalidate_caches`: keep the archive
    directory this importer has already read."""


@functools.cache
def _keep_zip_directories() -> None:
    """Once per Python worker: keep `importlib.invalidate_caches()`,
    which pyspark calls before every task, from re-reading every zip
    archive on the worker's path. On CPython 3.11/3.12 each
    `zipimporter` re-reads its whole directory (pyspark.zip, the
    spark-core jar, py4j): 160-365 ms per task, more than a typical
    task's own work. Safe because Spark never rewrites a file it has
    already added under a live context: a later archive has a new path,
    so a new importer that reads its directory once. Called only inside
    tasks, so the driver is never patched."""
    zipimport.zipimporter.invalidate_caches = _keep_directory


def row_stage(rows: DataFrame, schema: T.StructType,
              emit: Callable[[tuple], Iterable[tuple]], *,
              error_row: Callable[[tuple, Exception], tuple] | None = None,
              timeout_ms: int | None = None) -> DataFrame:
    """rows -> the concatenation of `emit(r)` over every row r, typed by
    `schema`. One narrow `mapInPandas` stage over Arrow batches.

    error_row=None lets a row's exception fail the task (strict);
    otherwise that row's output is exactly `[error_row(r, exc)]` — the
    in-band policy boundary (dead-letter span, drop marker). timeout_ms
    is the per-row soft budget (see _deadline); it raises TimeoutError
    into the same boundary. emit's output is materialized inside the
    boundary, so a row that fails midway leaks no partial rows."""
    names = schema.fieldNames()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        _keep_zip_directories()
        deadline = _deadline(timeout_ms)
        for pdf in batches:
            out: list[tuple] = []
            for r in pdf.itertuples(index=False):
                try:
                    with deadline():
                        got = list(emit(r))
                except Exception as e:   # noqa: BLE001 — policy boundary
                    if error_row is None:
                        raise
                    got = [error_row(r, e)]
                out.extend(got)
            if out:
                yield pd.DataFrame.from_records(out, columns=names)

    return rows.mapInPandas(run, schema)
