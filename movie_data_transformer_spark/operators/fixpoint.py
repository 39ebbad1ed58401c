"""One driver for the iterative operators whose state is a DataFrame:
pagerank, connected components, k-core, BFS and BPE merge learning.

Each such fixpoint makes three decisions, and this module makes each
one once:

- **Width.** Every shuffle of the iteration is sized by its input, not
  by the session default: `spark.sql.shuffle.partitions` is
  `max(1, min(defaultParallelism, rows // ROWS_PER_PARTITION + 1))`
  while the scope is open and restored when it closes. AQE coalesces a
  too-wide exchange's reads but not its per-stage task bookkeeping,
  which on a small graph cost pagerank ~2x (3.6 s -> 2.1 s measured at
  one partition); ~100k rows per partition keeps the layout wide at
  cluster scale.
- **Checkpoints.** The input is materialised once (`localCheckpoint`),
  so the upstream lineage never replays inside the loop. The loop state
  is checkpointed on a cadence to cut its growing lineage; a checkpoint
  is released as soon as a newer one supersedes it, and when the scope
  closes every checkpoint the returned DataFrame does not read is
  released too. `clearCache()` does not free `localCheckpoint` blocks —
  without this they wait for the JVM's ContextCleaner. On a cluster,
  swap `localCheckpoint` for a reliable checkpoint dir.
- **The bounded loop.** One convergence probe per checkpoint, a hard
  bound on the rounds, and the caller's policy when the bound is hit:
  stop there, or raise.

A loop with no probe checkpoints every CHECKPOINT_EVERY rounds: a
checkpoint job is scheduling overhead on a small graph, so a few
supersteps planned lazily as one job win until plan-optimisation time
catches up. A probed loop checkpoints every round, because its probe
reads the materialised state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

SHUFFLE_PARTITIONS = "spark.sql.shuffle.partitions"

#: input rows per shuffle partition of the iteration
ROWS_PER_PARTITION = 100_000

#: rounds between checkpoints of an unprobed loop; swept on
#: graph_pagerank at sf0.1: 3 -> 3.11 s, 5 -> 2.22 s, 10 -> 2.64 s
#: (OPTIMIZATION_r12.md)
CHECKPOINT_EVERY = 5


def _rdd(checkpoint: DataFrame):
    """The JVM RDD that holds a localCheckpoint'd DataFrame's blocks."""
    return checkpoint._jdf.queryExecution().analyzed().rdd()


def rows(checkpoint: DataFrame) -> int:
    """Row count of a localCheckpoint'd DataFrame in one job over its
    blocks. `count()` plans a global aggregate, which AQE runs as two
    jobs (the map stage, then the result)."""
    return _rdd(checkpoint).count()


def _rdds_read(df: DataFrame) -> set[int]:
    """Ids of the checkpointed RDDs `df`'s plan scans."""
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    leaves = [leaves.apply(i) for i in range(leaves.size())]
    return {x.rdd().id() for x in leaves if x.getClass().getSimpleName() == "LogicalRDD"}


class Fixpoint:
    """The scope of one DataFrame-state iteration.

    `Fixpoint(source)` materialises `source` once (`self.source`) and
    sizes `self.width` by its row count; `with` sets that width on the
    session. Inside, `checkpoint` materialises a loop-invariant frame,
    `converge` runs the loop and `result` names the DataFrame the caller
    returns. On exit the session width is restored and every checkpoint
    the result does not read is released (all of them without a result).
    """

    def __init__(self, source: DataFrame) -> None:
        self._spark, self._held, self._result = source.sparkSession, [], None
        self.source = self.checkpoint(source)
        parallelism = self._spark.sparkContext.defaultParallelism
        self.width = max(1, min(parallelism, rows(self.source) // ROWS_PER_PARTITION + 1))

    def __enter__(self) -> Fixpoint:
        self._restore = self._spark.conf.get(SHUFFLE_PARTITIONS)
        self._spark.conf.set(SHUFFLE_PARTITIONS, str(self.width))
        return self

    def __exit__(self, *exc) -> None:
        self._spark.conf.set(SHUFFLE_PARTITIONS, self._restore)
        for held in list(self._held):
            self._release(held, keep=self._result)

    def checkpoint(self, df: DataFrame) -> DataFrame:
        """`df`, materialised now and held until the scope closes."""
        self._held.append(df.localCheckpoint())
        return self._held[-1]

    def _release(self, held: DataFrame, keep: DataFrame | None = None) -> None:
        """Free `held`'s blocks now unless `keep`'s plan reads them. A
        truncated-lineage RDD whose blocks are gone cannot be recomputed,
        so only a checkpoint no other live plan reads is released. Best
        effort: on internal-API drift the blocks are left to the JVM's
        ContextCleaner."""
        self._held.remove(held)
        try:
            rdd = _rdd(held)
            if keep is None or rdd.id() not in _rdds_read(keep):
                rdd.unpersist(False)
        except Exception:
            pass

    def result(self, df: DataFrame) -> DataFrame:
        """Name `df` as what the caller returns, and return it."""
        self._result = df
        return df

    def converge(self, state, step, rounds, measure=None, must_converge=False) -> DataFrame:
        """Run `step(state, r)` for r = 1..`rounds` and return the last
        state. `step` reads only its state and frames made before the
        loop, so a superseded state's checkpoint is never read again.

        With a `measure`, each round's state is checkpointed and probed
        once; the fixpoint has converged when the measure returns the
        same value twice in a row (the measure of a monotone fixpoint
        stops moving exactly when a round changes nothing; a None first
        value is an empty state, already converged), and that state is
        returned. Reaching `rounds` unconverged returns the bounded
        state, or raises if `must_converge`. Without a measure the state
        is checkpointed every CHECKPOINT_EVERY rounds and after the last.
        A step that returns None has nothing left to do: the state
        before it is returned."""
        every = 1 if measure else CHECKPOINT_EVERY
        held = last = None
        for r in range(1, rounds + 1):
            nxt = step(state, r)
            if nxt is None:
                return state
            state = nxt
            if r % every and r < rounds:
                continue
            state = self.checkpoint(state)
            if held is not None:
                self._release(held)
            held = state
            if measure:
                value = measure(state)
                if value == last:
                    return state
                last = value
        if must_converge:
            raise RuntimeError(f"fixpoint did not converge in {rounds} rounds")
        return state
