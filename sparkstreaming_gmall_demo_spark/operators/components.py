"""Connected components over near-duplicate pair graphs — the step a
dedup pipeline needs AFTER pair generation: transitively-linked
near-dups form one group, from which one canonical document is kept.

Algorithm: iterative min-label propagation. Every node starts labeled
with its own id; each round every node takes the minimum label among
itself and its neighbors; fixpoint = components labeled by their
minimum member id. Near-dup graphs are dense little clusters with tiny
diameters, so convergence takes a handful of rounds; each round is one
shuffle join + one aggregation, and ``localCheckpoint`` truncates the
growing lineage so round N's plan does not replay rounds 1..N-1.
For long-chain graphs (diameter past tens) the large-star/small-star
variant below (``connected_components_star``) converges in O(log n)
rounds instead of O(diameter) — same join/agg primitives, same output
contract, property-tested equivalent on random graphs.
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def connected_components(
    pairs: DataFrame, src: str = "i", dst: str = "j", max_iter: int = 50,
    unique_pairs: bool = False,
) -> DataFrame:
    """(node, component) for every node appearing in ``pairs``;
    ``component`` = the minimum node id of its connected component.
    Nodes with no edges don't appear (singletons are trivially their
    own component — callers union them in if needed).

    Each round is ONE job: the previous round's label rides the union
    as a tagged self-row, so the min-label aggregation also knows the
    old label, and the convergence signal (count of nodes whose label
    changed) is collected by an ``observe`` metric DURING the job that
    materializes the round's labels — no separate join + count action
    (that second action per round doubled driver latency, which is the
    term that multiplies at scale, not the per-row cost).

    Round 1 is FUSED into label initialization: from the identity
    labeling, one propagation round computes exactly
    min(node, min(neighbors)) — a plain aggregate over the edge list —
    so the loop starts from that frame and the first join+checkpoint
    round is dropped outright (guide §2.4; one fewer blocking job per
    call). ``unique_pairs=True`` lets callers whose pair frame is
    already distinct (any groupBy-produced pair kernel) skip the edge
    ``distinct`` — one fewer exchange inside the edge checkpoint; it
    is a pure cost toggle, duplicate edges never change the fixpoint.

    Each materialized job executes TWO propagation steps (r12, guide
    §1.2 "the distributed algorithm"): near-dup graphs converge in a
    handful of rounds, and the blocking localCheckpoint + observation
    read per job is the dominant per-round term, so pairing steps
    halves the job count. Both steps observe their changed-count in
    the same job; the loop stops when the SECOND step changed nothing
    (step 1's output was already the fixpoint, and one extra min-label
    step at a fixpoint is the identity, so the returned frame is that
    fixpoint). Checkpointing every second step keeps lineage depth
    bounded at two rounds — the standard iterate-k-then-materialize
    trade every Pregel-style engine makes.

    ``max_iter`` is an upper bound on TOTAL propagation steps
    including the fused init round (r13, ADVICE r12: the r12 loop
    bound over-ran odd caps by up to two steps); with step-pairing the
    executed count is the largest odd number <= max_iter, and because
    the init round is fused into labeling, max_iter < 1 still executes
    that one round (identity labels are never returned). Stopping at
    the cap before a step reports no change warns (``RuntimeWarning``):
    the labels returned are then not yet the components.
    """

    def _step(labels, edges, observe_change):
        nbr = edges.join(
            labels.select(F.col("node").alias("b"), "label"), "b"
        ).select(F.col("a").alias("node"), "label")
        folded = (
            labels.select("node", "label", F.lit(1).alias("is_self"))
            .union(nbr.select("node", "label", F.lit(0).alias("is_self")))
            .groupBy("node")
            .agg(
                F.min("label").alias("label"),
                # every node has exactly one self-row, so this is the
                # previous round's label for the change comparison
                F.max(F.when(F.col("is_self") == 1, F.col("label"))).alias("_old"),
            )
        )
        obs = None
        if observe_change:
            # only the job's LAST step observes: an intermediate
            # step's frame feeds two consumers (self-rows + nbr join),
            # and a duplicated observe node would fire twice
            obs = Observation()
            folded = folded.observe(
                obs,
                F.sum(
                    (F.col("label") != F.col("_old")).cast("long")
                ).alias("changed"),
            )
        return folded.select("node", "label"), obs

    e = pairs.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    edges = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    if not unique_pairs:
        edges = edges.distinct()
    edges = edges.localCheckpoint()
    labels = edges.groupBy(F.col("a").alias("node")).agg(
        F.least(F.col("node"), F.min("b")).alias("label")
    )
    for _ in range(max(0, (max_iter - 1) // 2)):
        stepped, _ = _step(labels, edges, observe_change=False)
        stepped2, obs2 = _step(stepped, edges, observe_change=True)
        # eager localCheckpoint runs the paired steps as one job; both
        # observations are then available without another action
        labels = stepped2.localCheckpoint()
        if (obs2.get["changed"] or 0) == 0:
            break
    else:
        warnings.warn(
            f"connected_components stopped at max_iter={max_iter} "
            "before converging; labels may be incomplete",
            RuntimeWarning,
            stacklevel=2,
        )
    return labels.select("node", F.col("label").alias("component"))


def _star_phase(sym_edges: DataFrame, large: bool) -> DataFrame:
    """One large-star or small-star round over a SYMMETRIC edge list
    (a, b). m(a) = min(N(a) ∪ {a}); large-star re-points every
    strictly-larger neighbor at m, small-star re-points the smaller
    neighbors (and a itself) at m. Each phase is one groupBy + one
    join + one distinct — the same shuffle primitives as a min-label
    round."""
    mins = sym_edges.groupBy("a").agg(F.min("b").alias("mb"))
    mins = mins.select("a", F.least("a", "mb").alias("m"))
    joined = sym_edges.join(mins, "a")
    if large:
        out = joined.filter(F.col("b") > F.col("a")).select(
            F.col("b").alias("x"), F.col("m").alias("y")
        )
    else:
        out = joined.filter(F.col("b") < F.col("a")).select(
            F.col("b").alias("x"), F.col("m").alias("y")
        ).union(mins.select(F.col("a").alias("x"), F.col("m").alias("y")))
    return out.filter(F.col("x") != F.col("y")).distinct()


def connected_components_star(
    pairs: DataFrame,
    src: str = "i",
    dst: str = "j",
    max_iter: int = 50,
    stats: dict | None = None,
) -> DataFrame:
    """Large-star/small-star alternation (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC 2014) — same contract as
    ``connected_components`` ((node, component = min member id) for
    every node in ``pairs``), different convergence behavior: each
    round roughly halves label-tree depth, so long chains converge in
    O(log n) rounds where min-label propagation needs O(diameter).
    Swap in when component diameters grow past tens; on the dense
    little clusters near-dup graphs produce, min-label's cheaper
    rounds win.

    Convergence = the edge set reaches the fixpoint of both phases
    (stars centered at component minima), detected by an ``observe``d
    (count, order-insensitive xxhash fold) signature on the round's
    single materializing job. Pass ``stats`` to receive
    ``{"rounds": n}`` (the long-chain depth tests pin the log bound).
    """
    e = pairs.select(F.col(src).alias("x"), F.col(dst).alias("y"))
    nodes = (
        e.select(F.col("x").alias("node"))
        .union(e.select(F.col("y").alias("node")))
        .distinct()
    )
    edges = e.filter(F.col("x") != F.col("y")).distinct().localCheckpoint()
    prev_sig = None
    rounds = 0
    for _ in range(max_iter):
        rounds += 1
        sym = edges.union(
            edges.select(F.col("y").alias("x"), F.col("x").alias("y"))
        ).selectExpr("x as a", "y as b")
        after_large = _star_phase(sym, large=True)
        sym2 = after_large.union(
            after_large.select(F.col("y").alias("x"), F.col("x").alias("y"))
        ).selectExpr("x as a", "y as b")
        obs = Observation()
        # bit_xor, not sum: order-insensitive over the distinct edge
        # set and cannot overflow under ANSI arithmetic
        small = _star_phase(sym2, large=False).observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(xxhash64(x, y))").alias("h"),
        )
        edges = small.localCheckpoint()
        sig = (obs.get["n"], obs.get["h"])
        if sig == prev_sig:
            break
        prev_sig = sig
    if stats is not None:
        stats["rounds"] = rounds
    star = edges.select(F.col("x").alias("node"), F.col("y").alias("label"))
    return nodes.join(star, "node", "left").select(
        "node", F.coalesce("label", "node").alias("component")
    )


def keep_canonical(
    docs: DataFrame, components: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Dedup by component: keep only each component's canonical member
    (minimum id) plus every un-clustered document. The 'collapse
    near-dup groups to one exemplar' step of a training-data pipeline.
    """
    drop = components.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias(id_col)
    )
    return docs.join(drop, id_col, "left_anti")


def keep_best(
    docs: DataFrame,
    components: DataFrame,
    score_col: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """Quality-aware canonical selection: keep per near-dup component
    the member with the HIGHEST ``score_col`` (ties -> minimum id),
    plus every un-clustered document — the practical upgrade of
    :func:`keep_canonical`, which keeps the minimum id regardless of
    quality (near-dup groups usually mix a clean original with
    truncated/boilerplate-wrapped copies; min-id picks arbitrarily
    among them, this picks the one worth training on).

    Scale shape: one left join against the (node, component) label
    frame — tiny relative to the corpus, broadcastable — and ONE
    window shuffle keyed on the component label; unclustered docs
    label as themselves, so their "component" is unique and the window
    partition is a singleton (no hot key). Text never shuffles twice:
    the window orders (score, id) pairs only.

    Precondition: component labels must live in the doc-id space with
    label = some MEMBER's id (connected_components emits the minimum
    member id, satisfying this) — then an unclustered doc's
    self-label can never collide with a real component's label, since
    that label's member is clustered."""
    from pyspark.sql.window import Window

    labeled = docs.join(
        components.withColumnRenamed("node", id_col), id_col, "left"
    ).withColumn("_comp", F.coalesce("component", F.col(id_col)))
    w = Window.partitionBy("_comp").orderBy(
        F.desc(score_col), F.asc(id_col)
    )
    return (
        labeled.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_comp", "component")
    )


def cluster_size_histogram(
    docs: DataFrame, components: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Dedup audit: the duplicate-cluster size distribution —
    (size, n_clusters) with un-clustered documents counted as size-1
    clusters. The one-page summary a curation run reports ("the corpus
    holds N pairs, M triples, one 40k-copy boilerplate cluster") and
    the input to dedup-rate estimates: removable rows =
    sum((size-1) * n_clusters).

    Two tiny aggs over the label frame (component cardinality <<
    corpus) plus ONE anti-join to count singletons; the histogram
    itself is at most max-cluster-size rows. The corpus text is
    touched only by the pair generation upstream. The singleton count
    stays IN the plan as a 1-row aggregate branch (r12) — the old
    ``.count()`` action forced a separate blocking job plus a
    driver-built literal frame before the real query even started.
    """
    sizes = components.groupBy("component").agg(F.count("*").alias("size"))
    hist = sizes.groupBy("size").agg(F.count("*").alias("n_clusters"))
    singles = (
        docs.select(F.col(id_col))
        .join(components.select(F.col("node").alias(id_col)), id_col, "left_anti")
        .agg(F.count("*").alias("n_clusters"))
        .select(
            F.lit(1).cast("long").alias("size"),
            F.col("n_clusters").cast("long").alias("n_clusters"),
        )
    )
    return (
        hist.select(F.col("size").cast("long"), F.col("n_clusters").cast("long"))
        .unionByName(singles)
        .groupBy("size")
        .agg(F.sum("n_clusters").alias("n_clusters"))
        .filter(F.col("n_clusters") > 0)
        .orderBy("size")
    )
