"""Orchestration contract: the process_log ledger and stage gating.

Reproduces the reference's control-DB handshake (SURVEY.md section 3.4):
linear DAG P1 -> P2 -> P3 -> P4, each stage writes RUNNING at start and
SUCCESS/FAILED at end, and a stage only starts when its predecessor's
latest row is SUCCESS (StagingDW/.../StagingController.java:41-67,
transform_staging/.../LotteryTransform.java:26-40, ETLMain.java:89-111).

The ledger is bookkeeping, kept on the driver and written through the
``MetaStore`` seam (``sources/layout.py``), so an object-store ledger gates
exactly like a POSIX one. Each event is one single-row parquet file
(``ProcessLogger.java:10`` is a one-row insert): the audit history, which
Spark still reads as a table. Each stage's newest non-GATED status is also
kept in one small object, ``_<code>.status`` (the underscore hides it from
Spark and pyarrow), and the gate reads only those: two reads per gate
whatever the history's length.
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


class ProcessLog:
    """Append-only run ledger with predecessor-SUCCESS / self-not-RUNNING
    gating."""

    def __init__(self, path: str):
        self.path = path

    # -- reads ------------------------------------------------------------
    def _status_key(self, process_code: str) -> str:
        return os.path.join(self.path, f"_{process_code}.status")

    def latest_status(self, process_code: str) -> str | None:
        """Status of ``process_code``'s newest non-GATED event (None before
        its first run), read from its status object alone."""
        raw = _meta_store().read(self._status_key(process_code))
        return None if raw is None else raw.decode()

    def can_start(self, process_code: str) -> bool:
        """Predecessor-SUCCESS gate + self-not-RUNNING guard, two status
        reads whatever the ledger's length. GATED rows (a gated-out
        attempt) never touch a status object, so a rejected attempt can't
        flip a stage that is still RUNNING into apparently-FAILED."""
        idx = _STAGES.index(process_code)
        if self.latest_status(process_code) == "RUNNING":
            return False
        return idx == 0 or self.latest_status(_STAGES[idx - 1]) == "SUCCESS"

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
        row = dict(source_id=[source_id], process_code=[process_code], status=[status],
                   started_at=[started_at or now], ended_at=[now], message=[message])
        while True:
            # Wall-clock id: time-ordered, no read-max-then-append round
            # trip; a writer that draws a taken id retries with a new one.
            pid = time.time_ns()
            buf = pa.BufferOutputStream()
            pq.write_table(pa.Table.from_pydict({"process_id": [pid], **row}, _ARROW_SCHEMA), buf)
            key = os.path.join(self.path, f"part-{pid}.parquet")
            if _meta_store().put_if_absent(key, buf.getvalue().to_pybytes()):
                break
        # Event first, status second: run_stage's claim has already written
        # RUNNING, so a crash between the two leaves the stage blocked,
        # never open.
        if status != "GATED":
            _meta_store().put_atomic(self._status_key(process_code), status.encode())
        return pid

    # -- the reference's run shape ----------------------------------------
    def run_stage(self, process_code: str, fn, *args, **kwargs):
        """RUNNING -> fn() -> SUCCESS(+message) | FAILED(+error), with gating.
        Returns fn's result; raises RuntimeError when gated out. A gated-out
        attempt is recorded as GATED (not FAILED) so it never masks the
        in-flight run's real status. Two runs can both pass the gate (two
        status reads) before either logs RUNNING, so the claim, a
        conditional write of RUNNING over any other status, admits one. A
        crash leaves RUNNING and blocks the stage until someone logs
        FAILED for it."""
        claimed = self.can_start(process_code) and _meta_store().put_if(
            self._status_key(process_code), b"RUNNING", accept=lambda cur: cur != b"RUNNING")
        if not claimed:
            self.log(process_code, "GATED", message="gate: predecessor not SUCCESS or self RUNNING")
            raise RuntimeError(f"{process_code} gated: predecessor not SUCCESS or already RUNNING")
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
