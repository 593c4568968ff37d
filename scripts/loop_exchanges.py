"""Print the shuffle exchanges of one round of each iterative operator:
the label-propagation round of ``dedup.neardup_clusters`` (over the
``minhash_clusters`` pairs) and the power-iteration round of
``graph.pagerank`` (over the ``supplier_pagerank`` edges).

    python scripts/loop_exchanges.py SF_DIR   # a fixture scale-factor directory

Each round is executed, then its final (AQE) executed plan is walked
without descending into cached relations, whose own plan ran when they
were cached. An ``Exchange`` above an ``InMemoryTableScan`` is a cached
loop invariant being re-shuffled in that round.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from hhek2sqlite_spark.operators import dedup, graph  # noqa: E402
from hhek2sqlite_spark.plans import extensions as ext  # noqa: E402
from hhek2sqlite_spark.session import get_spark  # noqa: E402
from hhek2sqlite_spark.sources.parquet import load_table  # noqa: E402


def _walk(node, depth: int, out: list[str]) -> None:
    name = node.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        _walk(node.executedPlan(), depth, out)
        return
    if name.endswith("QueryStageExec"):
        _walk(node.plan(), depth, out)
        return
    out.append("  " * depth + node.simpleString(200))
    if name == "InMemoryTableScanExec":
        return
    children = node.children()
    for i in range(children.size()):
        _walk(children.apply(i), depth + 1, out)


def _report(tag: str, df) -> None:
    df.collect()
    lines: list[str] = []
    _walk(df._jdf.queryExecution().executedPlan(), 0, lines)
    exchanges = [ln for ln in lines if ln.lstrip().startswith("Exchange")]
    print(f"== {tag}: {len(exchanges)} shuffle exchanges")
    print("\n".join(lines))


def main(sf_dir: str) -> None:
    spark = get_spark("loop-exchanges")
    spark.sparkContext.setLogLevel("ERROR")
    conf = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"
    print(
        f"Spark {spark.version}, {spark.sparkContext.master}, "
        f"AQE {spark.conf.get('spark.sql.adaptive.enabled')}, "
        f"{conf}={spark.conf.get(conf)}"
    )

    pairs = dedup.minhash_lsh_pairs(load_table(spark, sf_dir, "documents"))
    edges, symp, labels = dedup._closed_neighborhood(pairs)
    _report("label-propagation round", dedup._lp_round(symp, labels))
    for df in (edges, symp, labels):
        df.unpersist()

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    ed = graph._degree_edges(
        graph.cooccurrence_edges(li, group_col="l_orderkey", item_col="l_suppkey"),
        "src",
        "dst",
    ).persist()
    base = ((ext._PR_DAMP_DEN - ext._PR_DAMP_NUM) * graph.RANK_SCALE) // ext._PR_DAMP_DEN
    # round 1 as pagerank() folds it: its ranks come out of a groupBy on node
    ranks = graph._rank_agg(
        ed.select(
            F.col("e_dst").alias("node"),
            F.expr(f"{graph.RANK_SCALE}L div out_deg").alias("c"),
        ),
        base,
        ext._PR_DAMP_NUM,
        ext._PR_DAMP_DEN,
    )
    _report(
        "pagerank rounds 1+2",
        graph._rank_round(ed, ranks, base, ext._PR_DAMP_NUM, ext._PR_DAMP_DEN),
    )
    ed.unpersist()


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    main(sys.argv[1])
