"""``analytics_batch``: the driver contract, one registry query per op.

One op is ``QUERIES[id](spark, sf_dir)`` (construct) followed by
``.count()`` (execute), over ``IDS`` in a fixed order.  The tables are
seeded (``tablegen``) and each count is checked against the DuckDB oracle
count of the same id over the same files.
"""

from __future__ import annotations

import os

from perfbench import tablegen
from perfbench.common import run_closed_loop

#: Registry ids in op order: three construction-heavy ids, then an
#: execution-heavy one (``ann_ivf_kmeans_topk`` is both).  None reads a
#: committed index artifact.
IDS = (
    "dedup_jaccard_prefix_clusters",
    "dedup_semantic_clusters",
    "ann_ivf_kmeans_topk",
    "knn_graph_multiprobe",
)
#: One pass over ``IDS`` per this many ``--seconds``.
SECONDS_PER_PASS = 15


def make_ops(seconds: int) -> list[str]:
    return list(IDS) * max(1, round(seconds / SECONDS_PER_PASS))


class Workload:
    """Seeded tables, their oracle counts and the op list.  Construction
    is the whole set-up, warm-up pass included."""

    def __init__(self, spark, ctx):
        from mycenae_spark.registry import QUERIES

        self.spark, self.queries = spark, QUERIES
        self.sf_dir = os.path.join(ctx.run_dir, "tables")
        self.want = ctx.oracle_counts
        warm = run_closed_loop(enumerate(IDS), self.do_op)
        if warm.failed:
            raise RuntimeError(f"warm-up failed: {warm.errors}")
        self.ops = make_ops(ctx.seconds)

    @staticmethod
    def prepare(ctx) -> None:
        """Tables and oracle counts; needs no Spark, so it runs while the
        JVM starts."""
        sf_dir = os.path.join(ctx.run_dir, "tables")
        tablegen.write_tables(ctx.seed, sf_dir)
        ctx.oracle_counts = tablegen.oracle_counts(sf_dir, list(IDS))

    def construct_and_count(self, qid: str, tracer=None) -> int:
        if tracer is None:
            return self.queries[qid](self.spark, self.sf_dir).count()
        tracer.job_group("construct")
        with tracer.span(f"construct:{qid}", "registry"):
            df = self.queries[qid](self.spark, self.sf_dir)
        tracer.job_group("execute")
        with tracer.span(f"execute:{qid}", "spark"):
            return df.count()

    def do_op(self, item, tracer=None):
        i, qid = item
        if tracer is None:
            n = self.construct_and_count(qid)
        else:
            with tracer.op(i, qid):
                n = self.construct_and_count(qid, tracer)
        if n != self.want[qid]:
            return False, f"{qid}: {n} rows, oracle {self.want[qid]}"
        return True, None

    def reset(self) -> None:
        """No state carries over from one pass to the next."""

    def instrument(self, tracer) -> None:
        """The spans are opened by ``construct_and_count`` itself."""

    def close(self) -> None:
        """Nothing to release; the tables go with the run's sandbox."""
