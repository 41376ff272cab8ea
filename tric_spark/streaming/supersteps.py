"""Checkpointed, resumable superstep driver. [north-rule]

The reference's buffered variants keep explicit resume cursors
(``prev_m_/prev_k_``, EdgeStat.active_ — hbufastric.hpp:420–502) so a scan
can continue mid-stream. Spark tasks are restartable, so our resumability
lives at the coarser *superstep* granularity instead: after every k
supersteps the state DataFrame is written to parquet together with a meta
JSON (superstep number, row count, counters, lineage: parent checkpoint +
per-file row counts + run config). A superstep checkpoint is COMMITTED only
by the atomic rename of its meta file — a killed run leaves either a
complete checkpoint or garbage that resume ignores (write-then-rename,
SURVEY §7 hard-point (d)).

One materializing action per superstep. The step's own eager
``localCheckpoint`` is the only job that computes the new state, and
everything else the driver needs rides on it or on the commit's one write:

- convergence: the step emits a ``_delta`` column (PageRank |rank − prev|,
  CC "label changed"); the driver attaches ``observe(max(_delta))`` under
  the checkpoint and tests that scalar — no second join or aggregate over
  old and new state;
- commit: the already-checkpointed frame is written once; the meta's row
  count and per-file lineage come from the parquet footers (read on the
  driver, no Spark job) and its schema from ``df.schema`` — no re-read.

Resume = read the latest committed checkpoint and continue the loop from
there; the kill/resume test asserts bit-identical final state vs an
uninterrupted run.

Checkpointing to parquet (not RDD ``.checkpoint()``) survives across
applications — at production scale the parquet dir is an Iceberg table and
``lineage.parent`` is a snapshot id.
"""

from __future__ import annotations

import json
import os
import tempfile
from collections.abc import Callable
from dataclasses import dataclass, field

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

META_NAME = "_META.json"
DELTA = "_delta"


def _committed_steps(checkpoint_dir: str) -> list[int]:
    if not os.path.isdir(checkpoint_dir):
        return []
    steps = []
    for name in os.listdir(checkpoint_dir):
        meta = os.path.join(checkpoint_dir, name, META_NAME)
        if name.startswith("step_") and os.path.exists(meta):
            steps.append(int(name.split("_")[1]))
    return sorted(steps)


def _file_rows(data_path: str) -> dict[str, int]:
    """Rows per parquet file of a written dataset, from the footers. Names
    starting with ``_`` or ``.`` are skipped, as Spark's reader skips them
    (``_SUCCESS``, ``.crc`` sidecars)."""
    return {
        name: pq.read_metadata(os.path.join(data_path, name)).num_rows
        for name in sorted(os.listdir(data_path))
        if not name.startswith(("_", "."))
    }


@dataclass
class SuperstepDriver:
    """Runs ``state ← step(state)`` loops with periodic committed checkpoints.

    ``every``: checkpoint every N supersteps (1 = every superstep).
    ``counters`` accumulates per-superstep metrics and is persisted in each
    checkpoint's meta (the reference's print_dist_stats analog, made
    machine-readable).
    """

    spark: SparkSession
    checkpoint_dir: str
    every: int = 1
    counters: dict = field(default_factory=dict)
    # test hook: raise after committing this many NEW supersteps (simulated
    # mid-run crash for the kill/resume test)
    kill_after: int | None = None

    def _step_path(self, i: int) -> str:
        return os.path.join(self.checkpoint_dir, f"step_{i:05d}")

    def _write_checkpoint(self, df: DataFrame, i: int, extra: dict) -> None:
        """Commit the materialized state ``df`` as superstep ``i``: one
        Spark job (the parquet write)."""
        path = self._step_path(i)
        data_path = os.path.join(path, "data")
        df.write.mode("overwrite").parquet(data_path)
        # per-partition lineage + metrics [north-rule]: row count per parquet
        # file of the committed state — the resume point's physical layout is
        # part of the checkpoint's identity (print_dist_stats made durable)
        per_part = _file_rows(data_path)
        parent = self._step_path(self.last_committed) if self.last_committed >= 0 else None
        meta = {
            "superstep": i,
            "rows": sum(per_part.values()),
            "schema": df.schema.simpleString(),
            "lineage": {
                "parent": parent,
                "checkpoint_dir": self.checkpoint_dir,
                "partitions": per_part,
            },
            "counters": dict(self.counters),
            **extra,
        }
        # commit protocol: meta written to a temp file then atomically renamed
        fd, tmp = tempfile.mkstemp(dir=path, suffix=".tmp")
        with os.fdopen(fd, "w") as f:
            json.dump(meta, f, indent=2)
        os.rename(tmp, os.path.join(path, META_NAME))
        self.last_committed = i

    def run(
        self,
        init: DataFrame,
        step: Callable[[DataFrame], DataFrame],
        max_iter: int,
        converged: Callable[[float], bool] | None = None,
    ) -> DataFrame:
        """Run to convergence (or ``max_iter``), resuming from the latest
        committed checkpoint if one exists.

        With ``converged``, ``step`` must also emit a numeric or boolean
        ``_delta`` column; the run stops after the first superstep whose
        ``max(_delta)`` (0 on an empty state) satisfies it. Without it the
        run is fixed-length and ``step`` emits the state alone."""
        kill_after = self.kill_after
        os.makedirs(self.checkpoint_dir, exist_ok=True)
        committed = _committed_steps(self.checkpoint_dir)
        self.last_committed = -1
        if committed:
            start = committed[-1]
            data_path = os.path.join(self._step_path(start), "data")
            with open(os.path.join(self._step_path(start), META_NAME)) as f:
                meta = json.load(f)
            if meta.get("done"):
                return self.spark.read.parquet(data_path)
            self.counters.update(meta.get("counters", {}))
            self.last_committed = start
            cur = self.spark.read.parquet(data_path).localCheckpoint(eager=True)
            first = start + 1
        else:
            cur = init.localCheckpoint(eager=True)
            self._write_checkpoint(cur, 0, {"done": False})
            first = 1

        new_commits = 0
        for i in range(first, max_iter + 1):
            nxt = step(cur)
            if converged is not None:
                obs = Observation()
                nxt = nxt.observe(
                    obs,
                    F.coalesce(F.max(DELTA).cast("double"), F.lit(0.0)).alias(DELTA),
                ).drop(DELTA)
            # the superstep's one materializing action: bounds lineage
            # between durable checkpoints and fills the observation
            nxt = nxt.localCheckpoint(eager=True)
            done = converged is not None and bool(converged(obs.get[DELTA]))
            self.counters[f"superstep_{i}"] = {"superstep": i}
            if done or i == max_iter or (i - first) % self.every == 0:
                self._write_checkpoint(nxt, i, {"done": done})
                new_commits += 1
                if kill_after is not None and new_commits >= kill_after and not done:
                    raise RuntimeError(f"killed after superstep {i} (test hook)")
            cur = nxt
            if done:
                return cur
        return cur
