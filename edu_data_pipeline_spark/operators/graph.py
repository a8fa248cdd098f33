"""Distributed connected components for the near-dup graph.

The dedup pipeline's final step labels each document with its cluster
(component) so one representative per cluster survives. The reference has
no graph machinery (its dedup is exact-key only, dags/data_cleaning_pipeline.py:40-60);
this operator exists for the near-dup (MinHash/SimHash) families, where
"duplicate-of" is a graph reachability question.

One iteration scheme, pure DataFrame ops (a Pregel-style driver loop):
each round every vertex takes the minimum label in its closed
neighborhood, then follows one label-through-label join
(label(v) <- label(label(v))). The label chain contracts exponentially,
so rounds are O(log diameter) — the classic pointer-doubling trick
(Shiloach-Vishkin lineage; same round complexity class as the
large-star/small-star MapReduce scheme of Kiveris et al., "Connected
Components in MapReduce and Beyond").

Scale notes: each round is two equi-join shuffles plus a count; lineage
is cut per round with localCheckpoint so plans stay O(1) deep. A giant
component makes both joins' keys hot; the session's AQE skew-join
splitting (``session.py``) splits those partitions.
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


def connected_components(
    vertices: DataFrame,
    sym_edges: DataFrame,
    *,
    vertex_col: str = "doc_id",
    max_rounds: int = 64,
    strict: bool = False,
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
    (a chain whose diameter needs more than the cap's log2 rounds), the
    labels are NOT a fixpoint: a
    :class:`NonConvergedComponentsWarning` is emitted, or with
    ``strict=True`` a ``RuntimeError`` is raised — never a silent wrong
    answer (ADVICE r3).

    Invariant: a vertex's label is always the id of some vertex in its
    own component and only ever decreases, so the fixpoint (no change
    across a round) is exactly the per-component minimum: at fixpoint
    every edge (u,v) has label(u) <= label(v) and vice versa.
    """
    # Checkpoint lifecycle (VERDICT r7 #2): every localCheckpoint here is
    # a handle-owning tracked checkpoint. The static edge list is freed
    # when the loop ends (or deferred to the global registry when the
    # NULL-edge rescue branch reads it from the returned frame); each
    # round's checkpoint is freed as soon as the NEXT round's is materialized
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
    live_handle = None  # backs the current `labels` frame
    rounds = 0
    changed = 0
    for _ in range(max_rounds):
        rounds += 1
        lbl = labels.select(
            F.col("doc_id").alias("l_id"), F.col("component").alias("l_comp")
        )
        touched = sym.join(lbl, F.col("dst") == F.col("l_id"))
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
        # label(v) <- label(label(v)): labels are vertex ids, so the
        # lookup is a self-join; composing the contraction with the
        # 1-hop propagation doubles the reach per round.
        jump = updated.select(
            F.col("doc_id").alias("j_id"), F.col("component").alias("j_comp")
        )
        updated = updated.join(
            jump, updated.component == jump.j_id, "left"
        ).select(
            "doc_id",
            F.coalesce(F.col("j_comp"), F.col("component")).alias("component"),
        )
        # Cut per-round lineage growth (eager).
        updated, h_new = local_checkpoint(updated)
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
    if not rescue_needed:
        h_raw.release()  # the loop was its last reader — labels are frozen
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
