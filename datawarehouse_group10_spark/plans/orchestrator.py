"""Orchestration contract: the process_log ledger and stage gating.

Reproduces the reference's control-DB handshake (SURVEY.md section 3.4):
linear DAG P1 -> P2 -> P3 -> P4, each stage writes RUNNING at start and
SUCCESS/FAILED at end, and a stage only starts when its predecessor's
latest row is SUCCESS (StagingDW/.../StagingController.java:41-67,
transform_staging/.../LotteryTransform.java:26-40, ETLMain.java:89-111).

The ledger is bookkeeping, kept on the driver: one single-row parquet file
per event (``ProcessLogger.java:10`` is a one-row insert), created and
listed through the ``MetaStore`` seam (``sources/layout.py``), so an
object-store ledger gates exactly like a POSIX one. Spark can still read
the directory as a table.
"""

from __future__ import annotations

import datetime as _dt
import os
import time

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql.pandas.types import to_arrow_schema

from ..schemas import PROCESS_LOG
from ..sources.layout import _meta_store

_STAGES = ("P1", "P2", "P3", "P4")
_ARROW_SCHEMA = to_arrow_schema(PROCESS_LOG)


def _latest(events: list[tuple[int, str, str]], process_code: str, skip: str | None = None) -> str | None:
    """Status of ``process_code``'s newest event, ignoring ``skip`` rows."""
    return next((s for _, c, s in reversed(events) if c == process_code and s != skip), None)


class ProcessLog:
    """Append-only run ledger with predecessor-SUCCESS / self-not-RUNNING
    gating."""

    def __init__(self, path: str):
        self.path = path

    # -- reads ------------------------------------------------------------
    def _events(self) -> list[tuple[int, str, str]]:
        """(process_id, process_code, status) of every event, oldest first."""
        store = _meta_store()
        events = []
        for name in store.list(self.path):
            raw = store.read(os.path.join(self.path, name)) if name.endswith(".parquet") else None
            if raw is not None:
                for r in pq.read_table(pa.py_buffer(raw)).to_pylist():
                    events.append((r["process_id"], r["process_code"], r["status"]))
        return sorted(events)

    def latest_status(self, process_code: str) -> str | None:
        return _latest(self._events(), process_code)

    def can_start(self, process_code: str) -> bool:
        """Predecessor-SUCCESS gate + self-not-RUNNING guard. GATED rows
        (a gated-out attempt) do not count as terminal state: the latest
        *non-GATED* row decides, so a rejected attempt can't flip a stage
        that is still RUNNING into apparently-FAILED."""
        events = self._events()
        idx = _STAGES.index(process_code)
        if _latest(events, process_code, skip="GATED") == "RUNNING":
            return False
        return idx == 0 or _latest(events, _STAGES[idx - 1], skip="GATED") == "SUCCESS"

    # -- writes -----------------------------------------------------------
    def log(
        self,
        process_code: str,
        status: str,
        source_id: int = 1,
        message: str | None = None,
        started_at: _dt.datetime | None = None,
    ) -> int:
        now = _dt.datetime.now(_dt.timezone.utc)
        row = dict(source_id=source_id, process_code=process_code, status=status,
                   started_at=started_at or now, ended_at=now, message=message)
        while True:
            # Wall-clock id: time-ordered, no read-max-then-append round
            # trip; a writer that draws a taken id retries with a new one.
            pid = time.time_ns()
            buf = pa.BufferOutputStream()
            pq.write_table(pa.Table.from_pylist([{"process_id": pid, **row}], _ARROW_SCHEMA), buf)
            key = os.path.join(self.path, f"part-{pid}.parquet")
            if _meta_store().put_if_absent(key, buf.getvalue().to_pybytes()):
                return pid

    # -- the reference's run shape ----------------------------------------
    def run_stage(self, process_code: str, fn, *args, **kwargs):
        """RUNNING -> fn() -> SUCCESS(+message) | FAILED(+error), with gating.
        Returns fn's result; raises RuntimeError when gated out. A gated-out
        attempt is recorded as GATED (not FAILED) so it never masks the
        in-flight run's real status. Two runs can both pass the gate (a
        ledger read) before either logs RUNNING, so the exclusive claim
        ``_<code>.running`` admits one; the underscore hides it from Spark
        and ``_events``. A crash leaves the claim, blocking the stage as the
        crashed run's RUNNING row already does."""
        store = _meta_store()
        claim = os.path.join(self.path, f"_{process_code}.running")
        if not (self.can_start(process_code) and store.put_if_absent(claim, b"")):
            self.log(process_code, "GATED", message="gate: predecessor not SUCCESS or self RUNNING")
            raise RuntimeError(f"{process_code} gated: predecessor not SUCCESS or already RUNNING")
        try:
            started = _dt.datetime.now(_dt.timezone.utc)
            self.log(process_code, "RUNNING", started_at=started)
            try:
                result = fn(*args, **kwargs)
            except Exception as e:  # noqa: BLE001 — ledger must record any failure
                self.log(process_code, "FAILED", message=str(e)[:500], started_at=started)
                raise
            msg = f"rows={result}" if isinstance(result, int) else "ok"
            self.log(process_code, "SUCCESS", message=msg, started_at=started)
            return result
        finally:
            store.delete(claim)
