"""Checkpointed, resumable sketch aggregation with per-unit lineage+metrics.

North rule: jobs must be "resumable from checkpoint with per-partition
lineage and metrics". Design:

* Work is split into **units** — values of a partition column (e.g. ``day``)
  — so each unit's scan is partition-pruned at the source.
* Per unit, stage-1 partial sketches are written to
  ``<dir>/partials/unit=<v>/`` as Parquet, then a lineage record is appended
  to ``<dir>/manifest.jsonl``: unit, input row count, partial count, total
  ``count_additions``, wall time, writer id. The manifest is the commit log:
  a unit is done iff its record exists (partials without a record are
  overwritten on retry — write-then-commit, idempotent).
* Resume: completed units are skipped; only missing units are scanned.
  The manifest's recorded (element_cols, group_cols, sketch) identity is
  VALIDATED against the current config first — a relaunched job pointing a
  differently-configured aggregation at an existing checkpoint would
  otherwise silently merge semantically mixed partials.
* The final merge reads *all* partial Parquet and fold-merges per group —
  bit-identical to an uninterrupted run because merge order is immaterial
  (canonical bytes, register-max associativity).

The checkpoint doubles as a rollup store: partials keyed by (unit, group)
can be re-merged at any coarser granularity later without rescanning input
(see ``merge_partials`` reuse in tests).
"""

from __future__ import annotations

import json
import os
import threading
import time
import uuid
from concurrent.futures import ThreadPoolExecutor
from typing import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .aggregate import build_partials, merge_partials
from .skew import tree_merge_partials


class CheckpointRunError(RuntimeError):
    """``SketchCheckpoint.run(parallelism>1)`` raises this once every unit
    job has finished.  ``failures`` maps each failed unit to its exception;
    the other units are committed, so a resume re-runs only the failed
    ones."""

    def __init__(self, failures: dict[str, BaseException]) -> None:
        self.failures = failures
        detail = "; ".join(
            f"{u}: {type(e).__name__}: {(str(e).splitlines() or [''])[0]}"
            for u, e in failures.items())
        super().__init__(f"{len(failures)} checkpoint unit(s) failed "
                         f"[{', '.join(failures)}]: {detail}")


class SketchCheckpoint:
    """Manages one checkpointed aggregation: (element_cols, group_cols, spec)
    over a unit-partitioned source."""

    def __init__(self, checkpoint_dir: str, spec, element_cols,
                 group_cols: Sequence[str] = (), unit_col: str = "day") -> None:
        self.dir = checkpoint_dir
        self.spec = spec
        self.element_cols = [element_cols] if isinstance(element_cols, str) else list(element_cols)
        self.group_cols = list(group_cols)
        self.unit_col = unit_col
        self._commit_lock = threading.Lock()
        os.makedirs(self.partials_dir, exist_ok=True)

    @property
    def manifest_path(self) -> str:
        return os.path.join(self.dir, "manifest.jsonl")

    @property
    def partials_dir(self) -> str:
        return os.path.join(self.dir, "partials")

    def _unit_path(self, unit: str) -> str:
        return os.path.join(self.partials_dir, f"unit={unit}")

    # -- lineage ----------------------------------------------------------------

    def lineage(self) -> list[dict]:
        if not os.path.exists(self.manifest_path):
            return []
        with open(self.manifest_path) as f:
            return [json.loads(line) for line in f if line.strip()]

    def completed_units(self) -> set[str]:
        return {rec["unit"] for rec in self.lineage()}

    def _commit(self, record: dict) -> None:
        # serialize in-process concurrent unit commits (run(parallelism=N));
        # each record is one line, appended and fsynced atomically
        with self._commit_lock, open(self.manifest_path, "a") as f:
            f.write(json.dumps(record) + "\n")
            f.flush()
            os.fsync(f.fileno())

    def _sketch_label(self) -> str:
        return getattr(self.spec, "name", "sketch")

    def _config_record(self) -> dict:
        """The aggregation identity stamped into every lineage record and
        validated on resume."""
        return {"element_cols": self.element_cols,
                "group_cols": self.group_cols,
                "sketch": self._sketch_label()}

    def _check_resume_config(self) -> None:
        """Refuse to mix partials built under a different aggregation
        config: a url-distinct checkpoint resumed by a host-distinct job
        would fold incompatible sketches into one nonsense estimate.  The
        lineage records carry the identity — check it."""
        want = self._config_record()
        for rec in self.lineage():
            for key, cur in want.items():
                if rec.get(key) != cur:
                    raise ValueError(
                        f"checkpoint config mismatch on unit "
                        f"{rec.get('unit')!r}: {key} recorded "
                        f"{rec.get(key)!r} but the current job uses "
                        f"{cur!r} — use a fresh checkpoint_dir (or the "
                        f"original config) instead of mixing")

    # -- build ------------------------------------------------------------------

    def _observed_write(self, partials: DataFrame, path: str,
                        blob_col: str = "sketch") -> tuple[int, int]:
        """Write the unit's partials and return (n_partials, n_input_rows)
        observed *during the write job* — every sketch blob carries
        ``count_additions`` (exactly the rows it ingested), so lineage
        metrics cost zero extra jobs and zero extra input scans.
        ``n_partials`` counts BLOB rows (``count(blob_col)`` skips NULLs),
        so mixed stage-1 outputs that interleave non-blob rows (heavy
        hitters' candidates) don't inflate the metric."""
        from pyspark.sql import Observation

        spec = self.spec

        @F.pandas_udf("long")
        def _adds(blobs):
            return blobs.map(
                lambda b: 0 if b is None
                else int(spec.from_bytes(bytes(b)).count_additions))

        obs = Observation()
        observed = partials.observe(
            obs, F.count(F.col(blob_col)).alias("n_partials"),
            F.sum(_adds(F.col(blob_col))).alias("n_rows"))
        observed.write.mode("overwrite").parquet(path)
        got = obs.get
        return int(got["n_partials"]), int(got["n_rows"] or 0)

    def _build_unit_partials(self, df_unit: DataFrame) -> tuple[DataFrame, str]:
        """(stage-1 partials frame, blob column name) — the one piece that
        differs between checkpoint flavors."""
        return (build_partials(df_unit, self.element_cols, self.group_cols,
                               self.spec), "sketch")

    def run_unit(self, df_unit: DataFrame, unit: str) -> dict:
        """Build + persist stage-1 partials for one unit, then commit its
        lineage record. Safe to re-run a crashed unit (overwrite-then-commit)."""
        t0 = time.time()
        partials, blob_col = self._build_unit_partials(df_unit)
        n_partials, n_rows = self._observed_write(partials,
                                                  self._unit_path(unit),
                                                  blob_col=blob_col)
        record = {
            "unit": unit,
            "n_partials": n_partials,
            "n_input_rows": n_rows,
            **self._config_record(),
            "wall_sec": round(time.time() - t0, 3),
            "writer": uuid.uuid4().hex[:12],
            "finished_at": time.time(),
        }
        self._commit(record)
        return record

    def run(self, spark: SparkSession, source: Callable[[str], DataFrame],
            units: Sequence[str], parallelism: int = 1) -> dict:
        """Process all not-yet-completed units. ``source(unit)`` returns the
        unit's (partition-pruned) DataFrame.

        ``parallelism > 1`` submits that many unit jobs concurrently from
        driver threads — units are independent (separate scans, separate
        partials directories, write-then-commit manifest records), so a
        later unit's scan back-fills executors freed by an earlier unit's
        write tail.  2-3 in flight is plenty; the returned ``records`` list
        stays in ``units`` order, and manifest-line order (which may
        interleave) carries no semantics — completion is set-based.  A
        failed unit does not stop the others: once all have finished, one
        :class:`CheckpointRunError` names every failed unit."""
        self._check_resume_config()
        done = self.completed_units()
        todo = [u for u in units if str(u) not in done]
        if parallelism > 1 and len(todo) > 1:
            with ThreadPoolExecutor(max_workers=parallelism) as pool:
                futs = [(str(u), pool.submit(
                    lambda u=u: self.run_unit(source(u), str(u))))
                    for u in todo]
            failures = {u: f.exception() for u, f in futs
                        if f.exception() is not None}
            if failures:
                raise CheckpointRunError(failures) from next(
                    iter(failures.values()))
            records = [f.result() for _, f in futs]
        else:
            records = [self.run_unit(source(u), str(u)) for u in todo]
        return {"resumed": bool(done), "skipped": len(units) - len(todo),
                "ran": len(todo), "records": records}

    # -- finalize ----------------------------------------------------------------

    def result(self, spark: SparkSession, tree_fanout: int | None = None) -> DataFrame:
        """Final per-group merge over every committed unit's partials."""
        self._check_resume_config()
        done = sorted(self.completed_units())
        if not done:
            raise ValueError(f"no completed units in checkpoint {self.dir}")
        paths = [self._unit_path(u) for u in done]
        partials = spark.read.parquet(*paths)
        if tree_fanout:
            return tree_merge_partials(partials, self.group_cols, self.spec,
                                       fanout=tree_fanout, levels=1)
        return merge_partials(partials, self.group_cols, self.spec)


class HeavyHittersCheckpoint(SketchCheckpoint):
    """Checkpointed heavy hitters: each unit persists the one-pass mixed
    stage-1 output (per-partition candidate counts + partial CMS blobs), so
    the final top-k is computable from the checkpoint alone — no input rescan
    on resume. Lineage/commit/resume-validation semantics inherited from
    SketchCheckpoint; ``n_partials`` counts CMS blob rows only (candidate
    rows carry a NULL blob)."""

    def __init__(self, checkpoint_dir: str, spec, value_col: str,
                 group_cols: Sequence[str] = (), k: int = 20,
                 unit_col: str = "day") -> None:
        super().__init__(checkpoint_dir, spec, [value_col], group_cols, unit_col)
        self.value_col = value_col
        self.k = k

    def _sketch_label(self) -> str:
        return getattr(self.spec, "name", "sketch") + "+candidates"

    def _build_unit_partials(self, df_unit: DataFrame) -> tuple[DataFrame, str]:
        from .heavy_hitters import heavy_hitters_partials

        return (heavy_hitters_partials(df_unit, self.value_col,
                                       self.group_cols, self.spec,
                                       n_cand=max(4 * self.k, 64)), "cms")

    def result(self, spark: SparkSession, tree_fanout: int | None = None) -> DataFrame:
        from .heavy_hitters import heavy_hitters_from_partials

        self._check_resume_config()
        done = sorted(self.completed_units())
        if not done:
            raise ValueError(f"no completed units in checkpoint {self.dir}")
        partials = spark.read.parquet(*(self._unit_path(u) for u in done))
        return heavy_hitters_from_partials(partials, self.k, self.group_cols,
                                           self.spec)
