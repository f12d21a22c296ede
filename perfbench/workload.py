"""Base class of the benchmark's workloads."""

from __future__ import annotations

import os

from tracing import dir_bytes


class Workload:
    """One closed-loop workload.

    Operations run in the fixed order of ``cycle``, repeated; the seed
    chooses their inputs, never their order, so every run has the same
    composition. ``make(label)`` returns ``(kind, fn, check)``: ``kind`` is
    ``"write"`` or ``"read"``, ``fn()`` is the timed operation and
    ``check(result)`` says, untimed, whether its output was right.
    ``setup`` makes the inputs and primes every code path once (both timed
    as ``setup_s``); ``final_checks`` returns a description of every wrong
    output found at the end of the run.
    """

    cycle: list[str] = []
    #: nominal wall seconds of one pass over ``cycle`` on a 4-core box
    cycle_s: float = 1.0

    #: number of checks ``final_checks`` makes (counted in ``attempted``)
    n_final_checks = 1

    def __init__(self, spark, rundir: str, seed: int):
        self.spark = spark
        self.rundir = rundir
        self.seed = seed
        #: the snapshot table the workload commits to and reads
        self.table = ""
        #: DataFrame of the last read of ``table``, for :meth:`sample_scan`
        self.last_read = None
        #: (planned files, live files, files with deletion vectors) per traced read
        self.scan_samples: list[tuple[int, int, int]] = []

    def path(self, *parts: str) -> str:
        return os.path.join(self.rundir, *parts)

    def setup(self) -> None:
        raise NotImplementedError

    def prime(self) -> None:
        """Every distinct operation of the cycle once, untimed, so cold code
        paths and JIT compilation land in setup, not in the timed ops."""
        for label in dict.fromkeys(self.cycle):
            _kind, fn, check = self.make(label)
            check(fn())

    def make(self, label: str):
        raise NotImplementedError

    def _manifest(self) -> dict:
        from ev_charging_sessions_orchestrated_lakehouse_pipeline_spark.sources import snaptable

        return snaptable._read_manifest(self.table, snaptable.current_version(self.table))

    def sample_scan(self) -> None:
        """Traced runs only: the files the last read planned, against the
        live and deletion-vector files of the table's head."""
        df, self.last_read = self.last_read, None
        if df is None:
            return
        manifest = self._manifest()
        self.scan_samples.append(
            (len(df.inputFiles()), len(manifest["files"]), len(manifest.get("deletion_vectors") or {}))
        )

    def final_checks(self) -> list[str]:
        return []

    def live_rows(self) -> int:
        raise NotImplementedError

    def lake_dirs(self) -> list[str]:
        raise NotImplementedError

    def lake_metrics(self) -> dict:
        """On-disk bytes of everything the workload wrote, per live row."""
        size = sum(dir_bytes(d) for d in self.lake_dirs())
        return {"bytes_per_row": size / max(self.live_rows(), 1)}

    def table_summary(self) -> dict:
        """Snapshot-table state at the end of the run, for the layer report."""
        manifest = self._manifest()
        return {
            "bytes_per_row": dir_bytes(self.table) / max(self.live_rows(), 1),
            "versions": manifest["version"],
            "live_files": len(manifest["files"]),
        }

    def extra_metrics(self, timed: float) -> dict:
        return {}
