"""User-defined vertex-centric programs — the engine's `@pie`/`@pregel`
surface.

Reference: GraphScope lets users ship whole algorithms as PIE
(Init/PEval/IncEval) or Pregel (Init/Compute/Combine) classes, compiled
server-side (/root/reference/python/graphscope/analytical/udf/
decorators.py:51-155, engine frames analytical_engine/frame/
cython_pie_app_frame.cc). The Spark rebuild needs no compilation: a
program is three small callbacks over DataFrames and Columns, and the
shared :class:`SuperstepRunner` provides the loop, lineage truncation,
checkpoint/resume and metrics exactly as it does for the builtins.

``PregelProgram``:
  init_value      : Column expression (over the vertex table) for the
                    initial per-vertex state
  message(edges, state) -> DataFrame(dst, msg)
                  : generate messages along edges (the send phase);
                    ``edges`` is pre-joined with the source vertex state
                    as columns (src, dst, value)
  combine         : an aggregate function (F.min / F.sum / ...) merging
                    messages per destination — the Combine() of the
                    reference, executed as Catalyst partial+final agg
  update(old, msg) -> Column: new value from old value and combined
                    message (null msg when no messages arrived)
  halt_when_unchanged : stop when no vertex changed (compared with <=>)

Example — WCC in four lines (tests/test_pregel.py proves parity with the
builtin)::

    prog = PregelProgram(
        init_value=F.col("vid"),
        message=lambda e: e.select(e["dst"], e["value"].alias("msg")),
        combine=F.min,
        update=lambda old, msg: F.least(old, F.coalesce(msg, old)),
    )
    result = run_pregel(graph, prog)
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from graphscope_spark.graph import LinkGraph
from graphscope_spark.runtime.superstep import FixpointJob, SuperstepRunner


@dataclass
class PregelProgram:
    init_value: Column
    message: Callable[[DataFrame], DataFrame]
    combine: Callable
    update: Callable[[Column, Column], Column]
    max_rounds: int = 100
    undirected_messages: bool = True  # send along both directions


class PregelJob(FixpointJob):
    """A ``PregelProgram`` as a changed-count fixpoint: a vertex changes
    when its value is not null-safe equal to the old one."""

    def __init__(self, graph: LinkGraph, program: PregelProgram):
        self.p = program
        self.msg_edges = (
            graph.sym_edges() if (program.undirected_messages and graph.directed)
            else graph.edges.select("src", "dst")
        )
        super().__init__(
            "pregel_udf",
            graph.vertices.select("vid", program.init_value.alias("value")),
            self._compute)

    def _compute(self, state: DataFrame, step_no: int) -> DataFrame:
        src_state = state.select(F.col("vid").alias("src"),
                                 F.col("value")).hint("shuffle_hash")
        enriched = self.msg_edges.join(src_state, "src")
        msgs = self.p.message(enriched)  # (dst, msg)
        agg = msgs.groupBy("dst").agg(self.p.combine("msg").alias("msg"))
        new_value = self.p.update(state["value"], F.col("msg"))
        return (
            state.join(agg.hint("shuffle_hash"), state["vid"] == agg["dst"], "left")
            .select(state["vid"], new_value.alias("value"),
                    (~new_value.eqNullSafe(state["value"])).alias("chg"))
        )


def run_pregel(graph: LinkGraph, program: PregelProgram,
               runner: SuperstepRunner | None = None,
               resume: bool = False) -> DataFrame:
    """Run a user vertex program to fixpoint → (vid, value)."""
    runner = runner or SuperstepRunner(graph.spark)
    state, _ = runner.run(PregelJob(graph, program),
                          max_steps=program.max_rounds, resume=resume)
    return state.select("vid", "value")
