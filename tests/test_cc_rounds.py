"""min_label_cc: pointer jumping must converge in O(log L) rounds on a
chain — the worst case for plain min-label propagation (L rounds) — and
the rounds must read the edges from their one checkpoint."""

from pyspark.sql import functions as F

from tzspark.queries_text import min_label_cc

CHAIN = 40  # plain propagation needs CHAIN-1 = 39 rounds on this fixture


def _chain_edges(spark, n):
    fwd = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "src long, dst long"
    )
    return fwd.unionAll(fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst")))


def test_chain_converges_logarithmically(spark):
    labels, rounds = min_label_cc(_chain_edges(spark, CHAIN))
    got = {r["doc_id"]: r["canon_id"] for r in labels.collect()}
    assert got == {i: 0 for i in range(CHAIN)}
    # log-ish, not linear: 39 rounds for plain propagation; jumping halves
    # the label-to-min distance per round (+1 neighbor hop)
    assert rounds <= 10, f"chain of {CHAIN} took {rounds} rounds"


def test_two_components_and_fixpoint_detection(spark):
    fwd = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (11, 12), (12, 10)], "src long, dst long"
    )
    edges = fwd.unionAll(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    labels, rounds = min_label_cc(edges)
    got = {r["doc_id"]: r["canon_id"] for r in labels.collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10}
    assert rounds <= 4  # tiny graph: converge + 1 fixpoint-confirm round


def test_rounds_read_edges_from_the_checkpoint(spark):
    """The edge table is materialized once (repartition + localCheckpoint)
    and every round reads that checkpoint: the upstream edge plan — here a
    Python UDF counting its calls — runs once per edge row, however many
    rounds the loop takes."""
    calls = spark.sparkContext.accumulator(0)

    def _counted(x):
        calls.add(1)
        return x

    counted = F.udf(_counted, "long")
    edges = _chain_edges(spark, CHAIN).select(counted("src").alias("src"), "dst")
    labels, rounds = min_label_cc(edges)
    assert labels.count() == CHAIN
    assert rounds >= 3  # several rounds joined the edges
    assert calls.value == 2 * (CHAIN - 1)
