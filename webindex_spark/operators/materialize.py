"""The one owner of the frames a job cuts or pins.

Iterative DataFrame jobs must cut their logical-plan lineage or the plan
grows exponentially (each round's plan embeds the previous round's); the
incremental index step (operators/delta.index_step) cuts each delta
frame that feeds more than one consumer so it is computed once.  HOW to
cut is a deployment decision, not an algorithm decision:

* ``local_lazy`` (default) — lazy ``localCheckpoint``: executor storage
  only, materialized by the first job that consumes it (no dedicated
  barrier job).  Its analyzed plan is already the ``LogicalRDD`` scan,
  so lineage is truncated at the cut whether or not it has run.  NOT
  durable: an executor loss kills the job (Spark cannot recompute a
  truncated lineage).
* ``parquet`` — write/read round-trip under a caller-supplied
  directory: the durable seam for preemptible / multi-tenant clusters,
  mirroring the reference's resume contract (IndexIT.java:107-135 —
  a killed run must resume from its last committed snapshot, never
  refetch).  Equivalent to ``sparkContext.setCheckpointDir`` +
  ``checkpoint()`` but with an inspectable, versioned layout.

There is no eager cut and no persist-every-k cadence: both lost the
N→4N sweep to ``local_lazy`` (BENCH/mat_sweep_r06.json).

Release rule: whoever creates a ``Materializer`` owns every frame it
cut or pinned, and ``release()`` (also the context-manager exit) frees
them once their last consumer has run::

    with Materializer() as mat:
        d = mat.cut(step(df))
        commit(d)                       # last consumer
    # every cut/pinned block is unpersisted here, also on error

Iterative graph operators return lazily consumed results built on their
cuts, so they do not release (their blocks go with the result's
garbage collection).  ``Materializer.of`` accepts ``"local_lazy"`` /
``"parquet:/some/dir"`` / an existing instance, so operators expose a
single ``materialize=`` keyword and tests parametrize over backends.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel


class Materializer:
    """Lineage cutter and owner of what it cuts and pins.  ``mode``:

    * ``local_lazy`` — lazy ``localCheckpoint`` (default)
    * ``parquet``    — durable write/read round-trip under ``path``
    """

    def __init__(self, mode: str = "local_lazy", path: str | None = None):
        if mode not in ("local_lazy", "parquet"):
            raise ValueError(f"unknown materialize mode: {mode!r}")
        if mode == "parquet" and not path:
            raise ValueError("parquet materializer needs a directory path")
        self.mode = mode
        self.path = path.rstrip("/") if path else None
        self._snaps = 0
        self._cuts: list = []  # JVM RDDs under this owner's local checkpoints
        self._pins: list[DataFrame] = []

    @classmethod
    def of(cls, spec) -> "Materializer":
        """Coerce an operator's ``materialize=`` argument: an existing
        instance passes through; ``"parquet:<dir>"`` selects the durable
        backend; any other string is a mode name."""
        if isinstance(spec, cls):
            return spec
        if spec is None:
            return cls()
        if isinstance(spec, str):
            if spec.startswith("parquet:"):
                return cls("parquet", path=spec.split(":", 1)[1])
            return cls(spec)
        raise TypeError(f"materialize must be a str or Materializer, got {spec!r}")

    def cut(self, df: DataFrame) -> DataFrame:
        """Truncate ``df``'s lineage; the result is computed at most once."""
        if self.mode == "parquet":
            self._snaps += 1
            snap = f"{self.path}/snap_{self._snaps:04d}_{uuid.uuid4().hex[:8]}"
            df.write.mode("overwrite").parquet(snap)
            return df.sparkSession.read.parquet(snap)
        df = df.localCheckpoint(eager=False)
        # DataFrame.unpersist() does not reach a local checkpoint: its
        # only handle is the RDD under the LogicalRDD the cut's plan is
        self._cuts.append(df._jdf.queryExecution().analyzed().rdd())
        return df

    def pin(self, df: DataFrame) -> DataFrame:
        """Cache a frame while PRESERVING its physical layout.

        ``localCheckpoint`` replaces the plan with an ``ExistingRDD``
        scan that reports ``UnknownPartitioning``, so a checkpointed
        adjacency that was ``repartition()``-ed on the join key is
        re-shuffled by EVERY iteration's join anyway (measured: the scan
        node's ``UnknownPartitioning(0)`` in the plan, one edge-list
        exchange per iteration).  ``persist()`` keeps the logical plan —
        and with it the repartition's output partitioning — while still
        computing the frame once, so per-iteration joins against it
        shuffle only the evolving side.  The parquet backend keeps its
        durable round-trip (scan partitioning is lost there; durability
        is that mode's contract)."""
        if self.mode == "parquet":
            return self.cut(df)
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        self._pins.append(df)
        return df

    def release(self) -> None:
        """Free every frame this owner cut or pinned.  Only call it once
        no job will consume them again: a released local checkpoint
        cannot be recomputed.  Parquet snapshots stay on disk under
        ``path`` (that mode's inspectable resume surface)."""
        for rdd in self._cuts:
            rdd.unpersist(False)
        for df in self._pins:
            df.unpersist(blocking=False)
        self._cuts.clear()
        self._pins.clear()

    def __enter__(self) -> "Materializer":
        return self

    def __exit__(self, *exc) -> None:
        self.release()
