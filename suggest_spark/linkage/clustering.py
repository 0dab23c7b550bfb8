"""Transitive clustering: connected components via alternating
large-star / small-star DataFrame rounds (Kiveris et al., "Connected
Components in MapReduce and Beyond", SOCC'14 — converges in O(log² n)
rounds; record-linkage graphs converge in a handful).

Small match graphs (the common case after linkage scoring — the edge count
is known from the matches manifest) skip the rounds and run a driver
union-find instead.  Its edges come in through ``toArrow()`` and its
``(rid, cluster_id)`` result goes back as an Arrow table, which Spark turns
into a JVM-side local relation: a row ``collect()`` plus
``createDataFrame(list)`` would build a Python RDD and start Python workers
for two jobs, seconds of task time for a few thousand rows.

Catalyst has no fixpoint operator (SURVEY.md §4), so the loop runs on the
driver with ``localCheckpoint()`` per round to truncate lineage.  Node ids
are orderable strings (md5 of url — deterministic across runs and
parallelism levels), so cluster ids — the component-minimum id — are stable,
satisfying the north rule's determinism/resumability requirement.

Scale notes: both stars are expressed as a window-min plus a projection — no
``collect_set`` (hub nodes mid-convergence can have huge degree; an array
per node would blow executor memory where a running MIN cannot).  Each round
is one shuffle per star on the same key; AQE coalesces the small tail
rounds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _symmetrize(edges: DataFrame) -> DataFrame:
    fwd = edges.select(F.col("src"), F.col("dst"))
    rev = edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    return fwd.unionByName(rev).where(F.col("src") != F.col("dst")).distinct()


def _large_star(edges: DataFrame) -> DataFrame:
    """For each node u over the symmetric graph: connect every strictly
    larger neighbor v to m = min(Γ(u) ∪ {u}).

    Output may contain duplicates — the round-final symmetrize dedups once,
    instead of one distinct-shuffle per star (3 shuffles/round → 2)."""
    w = Window.partitionBy("src")
    with_min = edges.withColumn("m", F.least(F.min("dst").over(w), F.col("src")))
    return (
        with_min.where(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .where(F.col("src") != F.col("dst"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Input edges oriented big→small (large-star output).  For each node u:
    connect its smaller neighbors and u itself to m = min(neighbors).
    Duplicates tolerated (deduped by the round-final symmetrize)."""
    w = Window.partitionBy("src")
    with_min = edges.withColumn("m", F.min("dst").over(w))
    moved = (
        with_min.where(F.col("dst") != F.col("m"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
    )
    self_edge = with_min.select(F.col("src"), F.col("m").alias("dst"))
    return moved.unionByName(self_edge).where(F.col("src") != F.col("dst"))


def _fingerprint(edges: DataFrame) -> tuple[int, int]:
    # decimal(38,0) accumulation: overflow-proof under ANSI mode
    row = edges.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(
            F.sum(F.xxhash64("src", "dst").cast("decimal(38,0)")), F.lit(0)
        ).alias("h"),
    ).first()
    return int(row["n"]), int(row["h"])


def _cc_driver_unionfind(edges: DataFrame) -> DataFrame:
    """Driver-side union-find over a SMALL edge set (caller-gated by a known
    row count — never probed here).  Union-by-min keeps every root the
    component minimum, so output semantics are identical to the distributed
    star rounds; id ordering carries over because binary rids arrive as
    bytes whose lexicographic order equals Spark's BINARY order.  Edges in
    and clusters out both go through Arrow (see the module docstring)."""
    import pyarrow as pa
    from pyspark.sql.types import StructField, StructType

    spark = edges.sparkSession
    id_type = edges.schema["src"].dataType
    arrow = edges.select("src", "dst").toArrow()

    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    nodes = set()
    for a, b in zip(arrow["src"].to_pylist(), arrow["dst"].to_pylist()):
        nodes.add(a)
        nodes.add(b)
        ra, rb = find(a), find(b)
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra  # smaller root wins → root == component min

    schema = StructType(
        [StructField("rid", id_type), StructField("cluster_id", id_type)]
    )
    rids = list(nodes)
    # an Arrow table, not a pandas frame: createDataFrame sends an EMPTY
    # pandas frame down the row path (a Python RDD) instead of Arrow
    out = pa.table({"rid": rids, "cluster_id": [find(n) for n in rids]})
    return spark.createDataFrame(out, schema)


#: edge count below which the driver union-find path is used when the caller
#: supplies ``n_edges``; 2M edges ≈ 64 MB of binary(16) pairs — trivially
#: driver-resident, while the distributed path would pay O(rounds) of
#: driver-paced job latency on a near-empty cluster
DRIVER_CC_THRESHOLD = 2_000_000


def connected_components(
    edges: DataFrame,
    max_iterations: int = 30,
    on_round=None,
    rounds_per_check: int = 2,
    n_edges: int | None = None,
    driver_threshold: int = DRIVER_CC_THRESHOLD,
) -> DataFrame:
    """``edges (src, dst)`` → ``(rid, cluster_id)`` for every node appearing
    in an edge; ``cluster_id`` = minimum node id of the component.

    ``n_edges`` — pass the edge count when it is ALREADY KNOWN (the linkage
    pipeline has it in the matches-stage manifest; the bench counts matches
    anyway).  When known and ≤ ``driver_threshold``, the components are
    solved by driver union-find in one collect instead of O(log n)
    driver-paced star rounds — the match graph of a linkage run is orders of
    magnitude smaller than its input (3.4k edges from 115M candidates at
    bench scale), so this is the common post-matching regime even at 100 TB
    unless the corpus is one giant near-dup family.  No count is ever run
    here: unknown size → distributed path (no hidden driver jobs).

    ``on_round(i, n_edges)`` is an optional metrics callback fired once per
    CONVERGENCE CHECK (i.e. every ``rounds_per_check`` star rounds, with
    ``i`` the index of the last completed round) — used by the checkpointing
    pipeline for lineage/metrics manifests.  ``max_iterations`` bounds the
    number of checks, so up to ``max_iterations × rounds_per_check`` star
    rounds may run.

    The loop is driver-paced, so per-round Spark-job latency is pure SERIAL
    time that caps scaling efficiency (the star shuffles themselves are tiny
    once the graph is near-converged).  Two mitigations: eager=False
    checkpoints materialize inside the fingerprint action that follows (one
    job per check instead of two), and ``rounds_per_check`` star rounds run
    between convergence checks.

    Convergence detection is sound in BOTH directions:

    * converged ⇒ detected: a star forest is a fixpoint of large-star and
      small-star, so its fingerprint repeats on the next check;
    * detected ⇒ converged: a repeated fingerprint is VERIFIED by running
      one more star round and requiring the fingerprint to stay unchanged —
      a period-2 oscillation (equal state two checks apart without being a
      fixpoint) would change under the extra round and the loop continues.
      (Alternating large/small star is in fact monotone in the sum of
      per-node minimum labels, which already rules out true cycles — the
      verification round makes the claim independent of that argument,
      at the cost of one extra round pair at convergence.)
    """
    if n_edges is not None and n_edges <= driver_threshold:
        return _cc_driver_unionfind(edges)

    cur = _symmetrize(edges).localCheckpoint(eager=False)
    prev_fp = None
    i = 0

    def _advance(df: DataFrame) -> DataFrame:
        return _symmetrize(_small_star(_large_star(df))).localCheckpoint(eager=False)

    converged = False
    for _ in range(max_iterations):
        for _k in range(rounds_per_check):
            cur = _advance(cur)
            i += 1
        fp = _fingerprint(cur)
        if on_round is not None:
            on_round(i - 1, fp[0])
        if fp == prev_fp:
            # verification round: a genuine fixpoint is invariant under one
            # more large+small star; an oscillation is not
            nxt = _advance(cur)
            i += 1
            fp2 = _fingerprint(nxt)
            cur = nxt
            if fp2 == fp:
                converged = True
                break
            prev_fp = fp2
        else:
            prev_fp = fp
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge within {max_iterations} "
            f"convergence checks ({max_iterations * rounds_per_check} star rounds)"
        )

    # converged: the symmetric edge set is a star forest rooted at minima
    assignments = cur.where(F.col("src") > F.col("dst")).select(
        F.col("src").alias("rid"), F.col("dst").alias("cluster_id")
    )
    roots = (
        assignments.select(F.col("cluster_id").alias("rid"))
        .distinct()
        .withColumn("cluster_id", F.col("rid"))
    )
    return assignments.unionByName(roots).distinct()
