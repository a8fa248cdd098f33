"""Distributed connected components for the near-dup graph.

The dedup pipeline's final step labels each document with its cluster
(component) so one representative per cluster survives. The reference has
no graph machinery (its dedup is exact-key only, dags/data_cleaning_pipeline.py:40-60);
this operator exists for the near-dup (MinHash/SimHash) families, where
"duplicate-of" is a graph reachability question.

Two iteration schemes, both pure DataFrame ops (one shuffle family per
round, Pregel-style driver loop):

- ``min_label``: every vertex takes the minimum label in its closed
  neighborhood each round. Converges in O(diameter) rounds — fine for
  near-dup graphs (tiny, dense clusters; diameter 2-3), but a worst-case
  CHAIN of length L needs L rounds (measured: SCALE.md, connected
  components).
- ``pointer_jump`` (default): the same neighborhood-min step followed by
  one label-through-label join (label(v) <- label(label(v))). The label
  chain contracts exponentially, so rounds are O(log diameter) — the
  classic pointer-doubling trick (Shiloach-Vishkin lineage; same round
  complexity class as the large-star/small-star MapReduce scheme of
  Kiveris et al., "Connected Components in MapReduce and Beyond").

Scale notes: each round is two equi-join shuffles plus a count; lineage
is cut per round with localCheckpoint so plans stay O(1) deep. Both
per-round joins shuffle on keys a GIANT component makes hot (a
boilerplate-heavy crawl's near-dup megacluster): the neighbor lookup on
``dst`` (hub degree) and the jump join on the component id (after a few
rounds every member of a megacluster carries the same label). Pass
``skew_threshold`` to split each join into a hot tier and a cold tier:
the right side of both joins is UNIQUE per key, so the hot slice of the
right side has at most one row per hot key (≤ |keys|/threshold rows) —
it broadcasts, turning the hot tier into a map-side hash join that never
shuffles the hot rows at all, while cold keys keep the ordinary
shuffled join. Hot ``dst`` keys are detected once from the static edge
list; hot component ids are re-detected every round from the current
labels (the megacluster label only emerges as rounds coalesce), which
costs one extra localCheckpoint materialization per round — the price
of exact per-round hotness. Labels are bit-identical with the feature
on or off.
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class NonConvergedComponentsWarning(UserWarning):
    """Raised as a warning when a CC loop exhausts its round cap while
    labels are still changing: the returned labels may split one true
    component into several. Callers that need a hard guarantee pass
    ``strict=True`` instead."""


def symmetrize_edges(edges: DataFrame, src: str = "doc_a", dst: str = "doc_b") -> DataFrame:
    """(a,b) pair list -> both directions, as (src, dst)."""
    return edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).unionByName(
        edges.select(F.col(dst).alias("src"), F.col(src).alias("dst"))
    )


def _hot_keys(df: DataFrame, key: str, threshold: int) -> DataFrame:
    """Key values of ``df[key]`` with multiplicity > threshold, as a
    1-column frame ``hot_key``. The count is a map-side-combinable hash
    aggregate (skew-immune itself); the output is bounded by
    rows/threshold, small enough to broadcast by construction."""
    return (
        df.groupBy(F.col(key).alias("hot_key"))
        .agg(F.count(F.lit(1)).alias("_n"))
        .where(F.col("_n") > threshold)
        .select("hot_key")
    )


def _skew_split_join(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    hot: DataFrame,
    how: str = "inner",
) -> DataFrame:
    """Join ``left`` with ``right`` on ``left_key == right_key`` (column
    names must be disjoint across the two sides) where ``right`` is
    UNIQUE per key, split by the hot-key frame: hot left rows probe a
    BROADCAST of right's (one-row-per-hot-key, hence tiny) hot slice —
    no shuffle ever sees a hot key — cold rows take the ordinary join.
    Produces exactly the same rows as the plain join for any ``how``
    that partitions by left row (inner/left)."""
    cond = F.col(left_key) == F.col(right_key)
    on_hot = F.col(left_key) == F.col("hot_key")
    right_hot = right.join(
        F.broadcast(hot), F.col(right_key) == F.col("hot_key"), "left_semi"
    )
    left_hot = left.join(F.broadcast(hot), on_hot, "left_semi")
    left_cold = left.join(F.broadcast(hot), on_hot, "left_anti")
    return left_hot.join(F.broadcast(right_hot), cond, how).unionByName(
        left_cold.join(right, cond, how)
    )


def connected_components(
    vertices: DataFrame,
    sym_edges: DataFrame,
    *,
    vertex_col: str = "doc_id",
    max_rounds: int = 64,
    pointer_jump: bool = True,
    strict: bool = False,
    skew_threshold: int | None = None,
) -> tuple[DataFrame, int]:
    """Label every vertex with min(vertex id) of its component.

    ``vertices`` needs column ``vertex_col``; ``sym_edges`` needs
    (src, dst) BOTH directions (see :func:`symmetrize_edges`). Returns
    ``(labels, rounds_used)`` where labels has (vertex_col, component).

    NULL contract (r13 fuzz-defined, ADVICE-r13-extended): an edge with
    a NULL endpoint asserts no connection and is dropped; a NULL vertex
    row labels as a singleton with a NULL component, once per input row;
    and every NON-NULL id mentioned anywhere — in ``vertices`` or as
    either endpoint of any edge, including dropped NULL-endpoint edges —
    is emitted exactly once (ids only ever seen in dropped edges label
    as their own singleton rather than vanishing).

    If the loop exhausts ``max_rounds`` while labels are still changing
    (possible for the plain min-label scheme on chains longer than the
    cap), the labels are NOT a fixpoint: a
    :class:`NonConvergedComponentsWarning` is emitted, or with
    ``strict=True`` a ``RuntimeError`` is raised — never a silent wrong
    answer (ADVICE r3).

    Invariant: a vertex's label is always the id of some vertex in its
    own component and only ever decreases, so the fixpoint (no change
    across a round) is exactly the per-component minimum: at fixpoint
    every edge (u,v) has label(u) <= label(v) and vice versa.

    ``skew_threshold``: when set, keys hotter than the threshold (vertex
    degree for the neighbor lookup; component population for the jump
    join) are routed through a broadcast hot tier instead of the
    shuffled join (see module docstring) — the giant-component guard.
    Labels are bit-identical either way; pick a threshold above the
    per-task row count you can sort/join comfortably (e.g. 2**21).
    """
    # Checkpoint lifecycle (VERDICT r7 #2): every localCheckpoint here is
    # a handle-owning tracked checkpoint. The static ones (edge list and
    # its hot/cold split; the edge list is instead deferred to the
    # global registry when the NULL-edge rescue branch reads it from the
    # returned frame) are freed when the loop ends; each round's
    # checkpoint is freed as soon as the NEXT round's is materialized
    # (eager) and the convergence count has consumed the old labels — so
    # live per-round checkpoints never exceed 2 regardless of round
    # count (proven by tests/test_cache_lifecycle.py's storage probe).
    # The two that back the RETURNED lazy frame (the active set, which
    # the isolated-vertex anti-join reads, and the final labels) go to
    # the global registry for the harness's release_caches().
    from ..caches import local_checkpoint, track_checkpoint

    # NULL endpoints are dropped up front: an edge with a NULL id cannot
    # assert a connection between two IDENTIFIED documents, and letting a
    # NULL into the active set double-emitted every NULL vertex (the loop
    # labeled it NULL->NULL while the isolated anti-join — null-unsafe by
    # SQL semantics — passed the same vertex through again; found by the
    # r13 graph property fuzz, the r12 NULL-key bug class). NULL vertices
    # in ``vertices`` therefore take the isolated branch exactly once,
    # as singletons with a NULL component label.
    # Checkpoint BEFORE the NULL filter: the (possibly expensive) edge
    # lineage is materialized exactly once, and both the loop's non-NULL
    # view and the dropped-edge rescue below read the frozen blocks —
    # deriving the rescue from the caller's raw lineage instead would
    # re-execute the whole upstream pipeline at consumption (caught by
    # the r14 EXPLAIN regeneration: +20 document scans).
    raw, h_raw = local_checkpoint(sym_edges)
    sym = raw.where(F.col("src").isNotNull() & F.col("dst").isNotNull())
    static_handles = []
    verts = vertices.select(F.col(vertex_col).alias("doc_id"))
    # The dropped NULL-endpoint edges may still MENTION identified
    # vertices (ADVICE r13): a vertex whose only edges are NULL-endpoint
    # ones, and which the caller omitted from ``vertices``, must not
    # vanish — it asserts no connection, so it labels as its own
    # singleton, same as any edge-only vertex did before the NULL drop.
    # The head(1) probe is one cheap job over the checkpoint; in the
    # common no-NULL-edge case the rescue contributes nothing and the
    # checkpoint keeps its r13 lifecycle (freed when the loop ends).
    dropped = raw.where(F.col("src").isNull() | F.col("dst").isNull())
    rescue_needed = bool(dropped.head(1))
    if rescue_needed:
        rescued = (
            dropped.select(F.col("src").alias("doc_id"))
            .unionByName(dropped.select(F.col("dst").alias("doc_id")))
            .where(F.col("doc_id").isNotNull())
            .distinct()
        )
        # Anti-join keeps caller-supplied vertex rows authoritative
        # (their multiplicity is preserved; rescued ids already present
        # add nothing) and the later anti-join against the active set
        # keeps rescued ids that ALSO have real edges out of the
        # isolated branch.
        verts = verts.unionByName(rescued.join(verts, "doc_id", "left_anti"))
    else:
        static_handles.append(h_raw)
    # Only edge-touching vertices can ever change labels; at corpus scale
    # the overwhelming majority of documents are in NO near-dup pair, so
    # looping over all of them would pay |V| join rows per round for
    # vertices whose component is trivially themselves. Restrict the loop
    # to the active set and union the isolated vertices back at the end.
    active, h_active = local_checkpoint(
        sym.select(F.col("src").alias("doc_id")).distinct()
    )
    isolated = verts.join(active, "doc_id", "left_anti")
    labels = active.select("doc_id", F.col("doc_id").alias("component"))
    # Hot dst keys (hub degree) are a property of the static edge list —
    # detect once, pre-split the edge list once.
    if skew_threshold is not None:
        hot_dst, h_hot = local_checkpoint(_hot_keys(sym, "dst", skew_threshold))
        on_hot = F.col("dst") == F.col("hot_key")
        sym_hot, h_sh = local_checkpoint(
            sym.join(F.broadcast(hot_dst), on_hot, "left_semi")
        )
        sym_cold, h_sc = local_checkpoint(
            sym.join(F.broadcast(hot_dst), on_hot, "left_anti")
        )
        static_handles += [h_hot, h_sh, h_sc]
    live_handle = None  # backs the current `labels` frame
    rounds = 0
    changed = 0
    for _ in range(max_rounds):
        rounds += 1
        lbl = labels.select(
            F.col("doc_id").alias("l_id"), F.col("component").alias("l_comp")
        )
        if skew_threshold is None:
            touched = sym.join(lbl, F.col("dst") == F.col("l_id"))
        else:
            # hot tier: labels' hot slice is ≤ one row per hot dst —
            # broadcast it so a hub's edge rows never shuffle.
            lbl_hot = lbl.join(
                F.broadcast(hot_dst), F.col("l_id") == F.col("hot_key"), "left_semi"
            )
            touched = sym_hot.join(
                F.broadcast(lbl_hot), F.col("dst") == F.col("l_id")
            ).unionByName(sym_cold.join(lbl, F.col("dst") == F.col("l_id")))
        neighbor_min = touched.groupBy(F.col("src").alias("doc_id")).agg(
            F.min("l_comp").alias("nbr_component")
        )
        updated = labels.join(neighbor_min, "doc_id", "left").select(
            "doc_id",
            F.least(
                F.col("component"),
                F.coalesce(F.col("nbr_component"), F.col("component")),
            ).alias("component"),
        )
        h_mid = None
        if pointer_jump:
            # label(v) <- label(label(v)): labels are vertex ids, so the
            # lookup is a self-join; composing the contraction with the
            # 1-hop propagation doubles the reach per round.
            if skew_threshold is not None:
                # Materialize before hotness detection so the extra
                # aggregate reads the computed frame, not a recompute of
                # the whole round; hot components must be re-detected
                # every round (the megacluster label emerges as rounds
                # coalesce — static detection would miss it and the
                # first skewed round is the one that OOMs).
                updated, h_mid = local_checkpoint(updated)
            jump = updated.select(
                F.col("doc_id").alias("j_id"), F.col("component").alias("j_comp")
            )
            if skew_threshold is None:
                updated = updated.join(jump, updated.component == jump.j_id, "left")
            else:
                hot_comp = _hot_keys(updated, "component", skew_threshold)
                updated = _skew_split_join(
                    updated, jump, "component", "j_id", hot_comp, "left"
                )
            updated = updated.select(
                "doc_id",
                F.coalesce(F.col("j_comp"), F.col("component")).alias("component"),
            )
        # Cut per-round lineage growth; eager, so once this returns the
        # mid-round checkpoint is superseded and freed immediately.
        updated, h_new = local_checkpoint(updated)
        if h_mid is not None:
            h_mid.release()
        changed = (
            updated.alias("u")
            .join(labels.alias("l"), "doc_id")
            .where(F.col("u.component") != F.col("l.component"))
            .count()
        )
        # The convergence count was the last reader of the previous
        # round's labels — free that checkpoint now.
        if live_handle is not None:
            live_handle.release()
        live_handle = h_new
        labels = updated
        if changed == 0:
            break
    for h in static_handles:
        h.release()  # loop-only statics (hot split; edge list unless
        # the NULL-edge rescue needs it) — labels are frozen
    if changed != 0:
        msg = (
            f"connected_components exhausted max_rounds={max_rounds} with "
            f"{changed} labels still changing — returned components are not "
            "a fixpoint (some true components may be split)"
        )
        if strict:
            raise RuntimeError(msg)
        warnings.warn(msg, NonConvergedComponentsWarning, stacklevel=2)
    labels = labels.unionByName(
        isolated.select("doc_id", F.col("doc_id").alias("component"))
    )
    if vertex_col != "doc_id":
        labels = labels.withColumnRenamed("doc_id", vertex_col)
    # These back the returned lazy frame — the harness's
    # release_caches() frees them after the result is consumed. The raw
    # edge checkpoint joins them only when the rescue branch (which
    # reads it lazily) is part of the result.
    track_checkpoint(h_active)
    if rescue_needed:
        track_checkpoint(h_raw)
    if live_handle is not None:
        track_checkpoint(live_handle)
    return labels, rounds
