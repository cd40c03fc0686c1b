"""Mutual-best bipartite matching + canonicalization of the match graph.

- bipartite_match: reference __ent_bipartite_matching (objects/KGs.py:222-241)
  re-expressed as one groupBy-argmax + one join-filter (no loops).
- canonical_entity_ids: collapses accepted (L, R) entity matches into
  canonical ids. The match state is keyed by ent_id (the reference's
  ``sub_ent_match[l_id] -> r_id``; PARIS argmax, seed max/force merge and
  the embedding reset all keep one row per L entity), so every L node has
  at most one edge and the match graph is a set of stars, one per matched
  R node. Each star is labelled in one aggregate — no iteration.
- connected_components: NEW capability (SURVEY.md §4) — transitive closure
  over general equivalence graphs (dedup, similarity search, incremental
  sameAs batches), where chains and cycles need iterative label rounds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def bipartite_match(
    matches_sub: DataFrame, matches_sup: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """Enforce mutual-best 1:1 alignment (objects/KGs.py:222-241).

    Pass 1: each right entity adopts the best left claimant if that beats its
    current prob (strict >, existing wins ties — ``counterpart_prob < prob``
    at :229). Pass 2: left matches not reciprocated by the updated right
    state are dropped (:232-241). Only entity rows participate; literal seed
    rows pass through untouched (the reference iterates ``entity_set``).

    Documented deviation: when two NEW claimants tie on prob exactly, we
    keep the larger ent_id (max_by struct order) whereas the reference's
    sequential id-order loop keeps the FIRST (smallest) claimant. Exact
    float ties between distinct claimants are vanishing-rare post-iteration
    1; the P/R≥0.95 parity band absorbs them, and the SQL oracle mirrors
    THIS rule so the value gate is internally exact.
    """
    sub_ent = matches_sub.filter(~F.col("is_lit"))
    claims = (
        sub_ent.groupBy("counterpart_id")
        .agg(F.max_by(F.struct("ent_id", "prob"), F.struct("prob", "ent_id")).alias("c"))
        .select(
            F.col("counterpart_id").alias("ent_id"),
            F.col("c.ent_id").alias("new_cp"),
            F.col("c.prob").alias("new_prob"),
        )
    )
    sup = matches_sup.alias("s").join(claims.alias("c"), "ent_id", "full_outer")
    # strict >: an unset right slot has prob 0.0 in the reference, and a
    # 0.0-prob claim does NOT take it (objects/KGs.py:229).
    take_new = F.col("new_prob").isNotNull() & (
        F.col("new_prob") > F.coalesce(F.col("s.prob"), F.lit(0.0))
    )
    new_sup = sup.select(
        "ent_id",
        F.when(take_new, F.col("new_cp")).otherwise(F.col("s.counterpart_id")).alias(
            "counterpart_id"
        ),
        F.when(take_new, F.col("new_prob")).otherwise(F.col("s.prob")).alias("prob"),
        F.coalesce(F.col("s.is_lit"), F.lit(False)).alias("is_lit"),
    ).filter(F.col("counterpart_id").isNotNull())
    # Pass 2 reads the *updated* sup state (reference mutates in place).
    # Literal sup rows participate in the reciprocity lookup too: the
    # reference indexes sup_ent_match[sub_counterpart_id] regardless of
    # literal-ness (objects/KGs.py:236-241), so an entity force-merged onto
    # a literal counterpart is cleared unless the literal points back.
    sup_ent = new_sup.select(
        F.col("ent_id").alias("counterpart_id"),
        F.col("counterpart_id").alias("reciprocal"),
    )
    kept = (
        sub_ent.join(sup_ent, "counterpart_id", "left")
        .filter(F.col("reciprocal").isNull() | (F.col("reciprocal") == F.col("ent_id")))
        .drop("reciprocal")
        .select("ent_id", "counterpart_id", "prob", "is_lit")
    )
    new_sub = kept.unionByName(matches_sub.filter(F.col("is_lit")))
    return new_sub, new_sup


def _star_round(edges: DataFrame) -> DataFrame:
    """One large-star + one small-star step (Kiveris et al., 'Connected
    Components in MapReduce and Beyond') over undirected edges (a, b).

    large-star: every node connects its STRICTLY LARGER neighbors to the
    min of its closed neighborhood — long chains halve toward the min.
    small-star: each edge, oriented large→small, connects the smaller
    endpoint and the center to the center's min neighbor — flattens the
    trees large-star built. Both are one groupBy + one join, all keyed on
    node ids (no growth: output edge count ≤ input edge count after the
    distinct)."""
    sym = edges.unionByName(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    mins = sym.groupBy("a").agg(F.min("b").alias("mn"))
    large = (
        sym.join(mins, "a")
        .filter(F.col("b") > F.col("a"))
        .select(
            F.col("b").alias("a"),
            F.least(F.col("mn"), F.col("a")).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    ori = large.select(
        F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b")
    )
    cmin = ori.groupBy("a").agg(F.min("b").alias("m"))
    withm = ori.join(cmin, "a")
    small = (
        withm.select(F.col("b").alias("a"), F.col("m").alias("b"))
        .unionByName(cmin.select("a", F.col("m").alias("b")))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    return small


def _star_components(
    sym: DataFrame, nodes: DataFrame, max_rounds: int, stats_out: dict | None = None
) -> DataFrame:
    """Large-star/small-star alternation to a star fixpoint: O(log n)
    rounds regardless of chain length (vs hash-min's O(diameter)). At the
    fixpoint every edge is (node, component-min), so labels fall out of
    the final edge list directly. Convergence is checked EXACTLY
    (exceptAll both ways is overkill: rounds never invent nodes, and the
    edge set at fixpoint is canonical, so same-count + empty one-sided
    difference suffices)."""
    edges = (
        sym.select(F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint()
    )
    rounds = 0
    for _ in range(max_rounds):
        new_edges = _star_round(edges).localCheckpoint()
        rounds += 1
        same = (
            new_edges.count() == edges.count()
            and new_edges.exceptAll(edges).limit(1).count() == 0
        )
        edges = new_edges
        if same:
            break
    else:
        raise RuntimeError(
            f"star-contraction components did not converge within {max_rounds} "
            "rounds — pathological id graph (expected O(log n) rounds)"
        )
    if stats_out is not None:
        stats_out["star_rounds"] = rounds
    return nodes.join(
        edges.select(F.col("a").alias("node"), F.col("b").alias("component")),
        "node",
        "left",
    ).select(
        "node", F.coalesce("component", F.col("node")).alias("component")
    )


def connected_components(
    edges: DataFrame,
    max_iter: int = 25,
    src: str = "src",
    dst: str = "dst",
    method: str = "auto",
    stats_out: dict | None = None,
) -> DataFrame:
    """Connected components over an undirected edge list.

    Returns (node, component) where component = min node id reachable.
    ``method='auto'`` (default) runs hash-min label propagation — cheapest
    constant factors for the tiny-diameter clusters dedup/alignment
    produce — and, if it has not converged after ``max_iter`` rounds
    (e.g. a crawl-scale redirect/template chain longer than max_iter
    hops), FALLS BACK to the large-star/small-star alternation, which
    converges in O(log n) rounds independent of diameter, instead of
    raising. ``method='star'`` goes straight to the alternation;
    ``method='hashmin'`` restores the old raise-on-non-convergence
    behavior. Iterative joins localCheckpoint every round to truncate
    lineage (mandatory — SURVEY.md §4). ``stats_out`` (dict) receives
    operator telemetry: ``method`` actually used, ``hashmin_rounds`` /
    ``star_rounds`` executed — the convergence-behavior numbers an
    operator watches at crawl scale.
    """
    if method not in ("auto", "hashmin", "star"):
        raise ValueError(f"unknown method {method!r}")
    star_rounds = 60  # O(log n) alternation: 60 covers any feasible n
    sym = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .unionByName(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct()
        .persist()
    )
    nodes = sym.select(F.col("a").alias("node")).distinct()
    if method == "star":
        if stats_out is not None:
            stats_out["method"] = "star"
        out = _star_components(sym, nodes, star_rounds, stats_out)
        sym.unpersist()
        return out
    labels = nodes.withColumn("component", F.col("node")).localCheckpoint()
    changed = 0
    hashmin_rounds = 0
    for _ in range(max_iter):
        hashmin_rounds += 1
        nbr_min = (
            sym.join(labels.withColumnRenamed("node", "b"), "b")
            .groupBy("a")
            .agg(F.min("component").alias("nbr_component"))
            .withColumnRenamed("a", "node")
        )
        # Carry the change flag INSIDE the checkpointed frame: the
        # convergence probe then scans the pinned blocks instead of
        # re-joining the new labels against the old ones (r6: one
        # shuffle-join job per round removed from the loop).
        flagged = (
            labels.join(nbr_min, "node", "left")
            .select(
                "node",
                F.least(
                    F.col("component"), F.coalesce("nbr_component", F.col("component"))
                ).alias("component"),
                (
                    F.coalesce("nbr_component", F.col("component")) < F.col("component")
                ).alias("__chg"),
            )
            .localCheckpoint()
        )
        changed = flagged.filter("__chg").limit(1).count()
        labels = flagged.drop("__chg")
        if changed == 0:
            break
    if stats_out is not None:
        stats_out["method"] = "hashmin"
        stats_out["hashmin_rounds"] = hashmin_rounds
    if changed != 0:
        if method == "auto":
            # chains longer than max_iter hops: degrade to the O(log n)
            # star alternation on the ORIGINAL edges (correct from any
            # start state; restarting avoids mixing the two labelings)
            if stats_out is not None:
                stats_out["method"] = "hashmin->star"
            out = _star_components(sym, nodes, star_rounds, stats_out)
            sym.unpersist()
            return out
        sym.unpersist()
        # returning partially-propagated labels would silently split real
        # clusters — fail loudly instead (hash-min needs O(longest chain)
        # rounds; raise max_iter, or use method='auto'/'star')
        raise RuntimeError(
            f"connected_components did not converge within max_iter={max_iter}; "
            "the component graph has chains longer than max_iter"
        )
    sym.unpersist()
    return labels


def canonical_entity_ids(
    matches_sub: DataFrame, threshold: float, l_offset: int = 0, r_offset: int = 1 << 40
) -> DataFrame:
    """Collapse accepted match pairs into canonical cluster ids.

    Takes the entity matches with prob ≥ threshold as edges between L and R
    nodes (ids offset apart: ``ent_id + l_offset`` / ``ent_id + r_offset``)
    and returns (side, ent_id, canonical_id) for every matched node, where
    canonical_id is the smallest offset node id of its cluster — the label
    :func:`connected_components` gives on the same edges.
    NEW functionality beyond the reference's 1:1 state (SURVEY.md §4 item 3).

    Precondition: the entity rows of ``matches_sub`` are unique by ent_id
    (one counterpart per L entity), as every engine producer of the match
    state guarantees. The graph is then a set of stars, one around each R
    node, and a star's label is ``least(min(L endpoint), R endpoint)`` —
    with the default offsets, the smallest L id matched to that R node.
    One groupBy over R labels the stars and one join hands each L row its
    star's label; the label table has at most one row per matched R node.
    The filtered edges are pinned first because both steps read them, and
    re-reading the lineage would recompute the whole upstream match state.
    """
    edges = (
        matches_sub.filter((~F.col("is_lit")) & (F.col("prob") >= threshold))
        .select(
            (F.col("ent_id") + F.lit(l_offset)).alias("l"),
            (F.col("counterpart_id") + F.lit(r_offset)).alias("r"),
        )
        .localCheckpoint()
    )
    stars = edges.groupBy("r").agg(
        F.least(F.min("l"), F.col("r")).alias("canonical_id")
    )
    r_rows = stars.select(
        F.lit("R").alias("side"),
        (F.col("r") - r_offset).alias("ent_id"),
        "canonical_id",
    )
    l_rows = edges.join(stars, "r").select(
        F.lit("L").alias("side"),
        (F.col("l") - l_offset).alias("ent_id"),
        "canonical_id",
    )
    return l_rows.unionByName(r_rows)


def incremental_components(
    mapping: DataFrame,
    new_edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    stats_out: dict | None = None,
    with_delta: bool = False,
):
    """Merge a batch of new sameAs edges into an existing canonical-ID
    mapping WITHOUT recomputing components over the full graph.

    ``mapping`` is a prior `connected_components` output (node,
    component), component = min reachable node id; ``new_edges`` is the
    day's/batch's new equivalence evidence (endpoints may be brand-new
    nodes). NEW capability beyond the reference (it realigns its two
    in-memory KGs from scratch each run — objects/KGs.py holds no
    persistent state); a continuously-updating 10^12-mention store
    cannot.

    Scale contract — the instance-scale mapping is NEVER shuffled:
    1. each batch endpoint resolves to its current component with one
       broadcast-the-batch join against the mapping scan;
    2. components are CONTRACTED: CC runs only on the (old-comp,
       old-comp) graph the batch touches — batch-sized, not
       corpus-sized (transitive cross-batch merges collapse here);
    3. the resulting (old_comp -> new_comp) relabel map is broadcast
       back over the mapping — one more scan, no exchange — and
       brand-new nodes are unioned in.
    Labels stay canonical (min node id) because a merged component's new
    label is the min of the merged old labels, each itself a min node id.

    ``with_delta=True`` additionally returns the CHANGED rows — relabelled
    old nodes plus brand-new nodes — as a second DataFrame: the
    O(touched)-sized record a snapshot+delta store persists per batch
    instead of rewriting the O(10^12) mapping (streaming.run_incremental_cc_stream).
    """
    e = (
        new_edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .where(F.col("a").isNotNull() & F.col("b").isNotNull())
        .distinct()
    )
    batch_nodes = (
        e.select(F.col("a").alias("node"))
        .unionByName(e.select(F.col("b").alias("node")))
        .distinct()
    )
    # (1) resolve endpoints: broadcast the batch side so the mapping only
    # streams (never shuffles); ``seen`` is batch-sized, so the anti-join
    # for unseen nodes broadcasts batch-sized data only — the full
    # mapping's node column is never collected or broadcast
    seen = (
        mapping.join(F.broadcast(batch_nodes), "node")
        .select("node", "component")
        .localCheckpoint()
    )
    unseen = batch_nodes.join(
        F.broadcast(seen.select("node")), "node", "left_anti"
    ).select("node", F.col("node").alias("component"))
    resolved = seen.unionByName(unseen)
    ra = resolved.select(F.col("node").alias("a"), F.col("component").alias("ca"))
    rb = resolved.select(F.col("node").alias("b"), F.col("component").alias("cb"))
    contracted = (
        e.join(F.broadcast(ra), "a")
        .join(F.broadcast(rb), "b")
        .select(F.col("ca").alias("src"), F.col("cb").alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    # (2) CC over the touched-component graph only
    relabel = (
        connected_components(contracted)
        .where(F.col("node") != F.col("component"))
        .select(F.col("node").alias("component"), F.col("component").alias("new_comp"))
    )
    if stats_out is not None:
        stats_out["touched_components"] = relabel.count()
    # (3) broadcast relabel over the mapping; brand-new nodes enter with
    # their own id as component, then relabel like everything else
    full = (
        mapping.unionByName(unseen)
        .join(F.broadcast(relabel), "component", "left")
        .select("node", F.coalesce("new_comp", "component").alias("component"))
    )
    if not with_delta:
        return full
    changed_old = (
        mapping.join(F.broadcast(relabel), "component")
        .select("node", F.col("new_comp").alias("component"))
    )
    delta = changed_old.unionByName(
        unseen.join(F.broadcast(relabel), "component", "left").select(
            "node", F.coalesce("new_comp", "component").alias("component")
        )
    )
    return full, delta


def components_min_label(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    hashed: bool = False,
    stats_out: dict | None = None,
) -> DataFrame:
    """(node, label) — connected components where the label is the MIN
    NODE VALUE of each component, with an optional hashed execution
    mode: ``hashed=True`` runs the CC iterations over ``xxhash64(node)``
    8-byte keys (the shuffle-payload win at 10^9+ string nodes — URL
    identity graphs, hreflang clusters) and recovers the min-value
    label afterwards with one node-table join + one per-component min.
    Output is identical to the direct mode unless two distinct node
    values collide in 64 bits (P ≈ n²·2⁻⁶⁴); ``stats_out['n_nodes']``
    is the audit denominator. Direct mode delegates straight to
    :func:`connected_components` (labels ARE min values there)."""
    if not hashed:
        comp = connected_components(edges, src=src, dst=dst, stats_out=stats_out)
        return comp.select("node", F.col("component").alias("label"))
    nodes = (
        edges.select(F.col(src).alias("u"))
        .unionByName(edges.select(F.col(dst).alias("u")))
        .distinct()
        .select("u", F.xxhash64("u").alias("h"))
    )
    if stats_out is not None:
        stats_out["n_nodes"] = nodes.count()
    h_edges = edges.select(
        F.xxhash64(src).alias("src"), F.xxhash64(dst).alias("dst")
    )
    comp = connected_components(h_edges, stats_out=stats_out)
    rep = (
        nodes.join(comp, nodes["h"] == comp["node"])
        .groupBy("component")
        .agg(F.min("u").alias("label"))
    )
    return (
        nodes.join(comp, nodes["h"] == comp["node"])
        .join(rep, "component")
        .select(F.col("u").alias("node"), "label")
    )


def compose_alignment(
    m_ab: DataFrame,
    m_bc: DataFrame,
    left_col: str = "name_l",
    right_col: str = "name_r",
    prob_col: str = "prob",
) -> DataFrame:
    """(name_a, name_c, prob): transitive alignment composition across a
    pivot KG — every a->b match in ``m_ab`` joined with every b->c match
    in ``m_bc`` on the shared middle, independence-multiplied probs.
    The multi-source fusion primitive the pairwise reference lacks:
    align(A,B) and align(B,C) compose to candidate A->C links without
    ever running A x C; composing an alignment with its own transpose
    yields within-KG coreference via the counterpart pivot (two A
    entities claiming one B entity). One equi-join on the pivot name;
    duplicate (a, c) pairs from multiple pivots are left to the caller
    (max_by / noisy-OR are both defensible merges and the caller knows
    which)."""
    a = m_ab.select(
        F.col(left_col).alias("name_a"),
        F.col(right_col).alias("__b"),
        F.col(prob_col).alias("__p1"),
    )
    b = m_bc.select(
        F.col(left_col).alias("__b"),
        F.col(right_col).alias("name_c"),
        F.col(prob_col).alias("__p2"),
    )
    return a.join(b, "__b").select(
        "name_a", "name_c", (F.col("__p1") * F.col("__p2")).alias("prob")
    )
