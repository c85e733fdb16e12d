"""Incremental change-feed consumer over a KeyedParquetTable — the
streaming face of the manifest-powered CDC (``KeyedParquetTable.
changes``), re-expressing the reference's timer-driven incremental
sync loop (I1/I2, otrrentetl/runetl.py:39-66 + the skip-if-present
gate in otrrentetl/server/etl.py:29,71) as a version-checkpointed
micro-batch pump.

Why not a Python DataSource stream: a SimpleDataSourceStreamReader
yields rows ON THE DRIVER, which caps a batch at driver memory; here
every batch IS the distributed ``changes(a, b)`` DataFrame, planned
over only the two manifests' symmetric difference, so a poll that saw
one touched partition scans one partition — the 100 TB incremental-
consumer posture. Delivery contract matches ``foreachBatch``:
at-least-once (the version checkpoint advances only after ``process``
returns), exactly-once when the sink is idempotent on
(from_version, to_version).
"""

from __future__ import annotations

import json
import time
from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from otrrentetl_spark.table.store import LocalStore


class ChangeFeed:
    """Poll-based consumer of a keyed table's committed versions.

    ``initial``:
      - ``"latest"`` (default): the first poll pins the current
        version and emits nothing — only future changes flow.
      - ``"snapshot"``: the first poll emits the current version's
        FULL content as ``insert`` rows (the Delta
        ``startingVersion=0`` analog), then diffs from there.

    ``include_preimage=True`` makes every batch carry an
    ``update_preimage`` row per update (old values) alongside the
    ``update`` postimage — the Delta CDF pair; see
    ``KeyedParquetTable.changes``. Consumers that must undo old state
    (the ANN index refresh) need it to stay batch-proportional.
    """

    def __init__(
        self,
        table,
        checkpoint_path: str,
        initial: str = "latest",
        include_preimage: bool = False,
    ):
        if initial not in ("latest", "snapshot"):
            raise ValueError(f"initial must be latest|snapshot: {initial}")
        # ADVICE r7: changes(last, cur) reads version ``last``'s
        # superseded files, but the table's default retain_stale_s of
        # 0.0 reaps them at the very commit that creates ``cur`` — a
        # feed over a default-configured table would fail on its first
        # real batch with a delayed _version_doc error. Enforce the
        # retention prerequisite at construction, where it's fixable.
        retain = getattr(table, "retain_stale_s", None)
        if retain is not None and retain <= 0:
            raise ValueError(
                "ChangeFeed requires the table to retain superseded"
                " files so version diffs stay readable: set"
                " table.retain_stale_s > 0 (longer than the poll"
                f" interval) before attaching a feed; got {retain!r}"
            )
        self.table = table
        self.checkpoint_path = checkpoint_path
        self.initial = initial
        self.include_preimage = include_preimage

    # ------------------------------------------------------ checkpoint
    def _read_checkpoint(self) -> int | None:
        try:
            with open(self.checkpoint_path, "rb") as f:
                return int(json.loads(f.read().decode())["version"])
        except FileNotFoundError:
            return None

    def _write_checkpoint(self, version: int) -> None:
        # a local file, as _read_checkpoint reads it
        LocalStore().write_atomic(
            self.checkpoint_path, json.dumps({"version": int(version)}).encode()
        )

    # ------------------------------------------------------------ poll
    def poll(
        self, process: Callable[[DataFrame, int, int], None]
    ) -> tuple[int, int] | None:
        """One micro-batch: if the table advanced past the checkpoint,
        hand ``process(df, from_version, to_version)`` the change rows
        and advance the checkpoint AFTER it returns. Returns the
        processed (from, to) pair, or None when caught up.

        A crash between ``process`` and the checkpoint flip re-emits
        the same (from, to) batch on the next poll — at-least-once;
        idempotent sinks keyed on the pair get exactly-once."""
        snap = self.table._read_snapshot()
        if snap is None:
            return None  # table not yet created
        cur = int(snap["version"])
        last = self._read_checkpoint()
        if last is None:
            if self.initial == "snapshot":
                df = self.table.read(version=cur).withColumn(
                    "change_type", F.lit("insert")
                )
                process(df, 0, cur)
            self._write_checkpoint(cur)
            return (0, cur) if self.initial == "snapshot" else None
        if cur <= last:
            return None  # caught up
        process(
            self.table.changes(
                last, cur, include_preimage=self.include_preimage
            ),
            last,
            cur,
        )
        self._write_checkpoint(cur)
        return (last, cur)

    def run(
        self,
        process: Callable[[DataFrame, int, int], None],
        poll_interval_s: float = 1.0,
        max_polls: int | None = None,
        stop_when_caught_up: bool = False,
        should_stop: Callable[[], bool] | None = None,
    ) -> int:
        """Timer loop around :meth:`poll` (the reference's scheduler
        tick). Returns the number of non-empty batches processed.

        ``should_stop`` is the I5 graceful-shutdown hook: checked
        BETWEEN polls (never mid-batch), so a stop always leaves the
        checkpoint aligned with fully-processed batches — the next
        run resumes exactly where this one stopped."""
        n = 0
        polls = 0
        while max_polls is None or polls < max_polls:
            if should_stop is not None and should_stop():
                break
            polls += 1
            got = self.poll(process)
            if got is not None:
                n += 1
            elif stop_when_caught_up:
                break
            if max_polls is None or polls < max_polls:
                time.sleep(poll_interval_s)
        return n
