"""Cache + checkpoint lifecycle convention (VERDICT r4 #2/#6, r7 #1/#2).

Registry queries return lazy DataFrames, so intermediates they persist
or localCheckpoint must outlive the function call — the convention is:
suite/operator code allocates ONLY via the helpers in
``edu_data_pipeline_spark.caches`` (persist_tracked / local_checkpoint),
and every consuming harness calls ``release_caches()`` afterwards.
Guards here:

1. Lint: no direct ``.persist(`` / ``.cache(`` call anywhere under
   ``suite/`` and no direct ``.localCheckpoint(`` anywhere in the
   package outside ``caches.py``. An allocation that bypasses tracking
   leaks cached partitions across a 50+-query bench run (the r4
   regression), or — for localCheckpoint — leaks RDDs that only the
   ContextCleaner's GC timing can free (the r7 finding).
2. Function: running persist-using and checkpoint-using queries and
   releasing removes every RDD they registered. The assertion is over
   the exact RDD ids the queries created — never a global count, which
   races against the ContextCleaner GC-collecting *unrelated* entries
   (the r7 flaky-test root cause).
3. Storage probe: an N-round connected-components run holds O(1) live
   checkpoints, not O(rounds) — superseded rounds are freed eagerly.
"""

from __future__ import annotations

import pathlib

import pytest

import edu_data_pipeline_spark as pkg
import edu_data_pipeline_spark.suite as suite_pkg
from edu_data_pipeline_spark import caches
from edu_data_pipeline_spark.suite import load_all, release_caches

PKG_DIR = pathlib.Path(pkg.__file__).parent
SUITE_DIR = pathlib.Path(suite_pkg.__file__).parent
SF = "/root/testdata/sf0.001"


def _offending_lines(paths, needles, allow_in=()):
    out = []
    for path in paths:
        if path.name in allow_in:
            continue
        for i, line in enumerate(path.read_text().splitlines(), 1):
            code = line.split("#", 1)[0]  # comments/docstrings may cite the API
            if any(n in code for n in needles):
                out.append(f"{path.relative_to(PKG_DIR.parent)}:{i}: {line.strip()}")
    return out


def test_no_untracked_persist_in_suite():
    # suite/ and sources/ return lazy frames to harnesses, so their
    # caches must be releasable. streaming/jobs.py is exempt: its
    # persists are scoped inside foreachBatch bodies that unpersist the
    # same batch before returning.
    paths = sorted(SUITE_DIR.glob("*.py")) + sorted(
        (PKG_DIR / "sources").glob("*.py")
    )
    offenders = _offending_lines(paths, (".persist(", ".cache("))
    assert not offenders, (
        "direct persist/cache in suite/sources code — use "
        "caches.persist_tracked() so harnesses can release it:\n"
        + "\n".join(offenders)
    )


def test_no_untracked_local_checkpoint_in_package():
    """``Dataset.localCheckpoint`` persists an internal RDD that neither
    unpersist() nor clearCache() reaches — every call site must go
    through caches.local_checkpoint() so the backing RDDs have an owner
    (VERDICT r7 #2)."""
    offenders = _offending_lines(
        sorted(PKG_DIR.rglob("*.py")),
        (".localCheckpoint(",),
        allow_in=("caches.py",),
    )
    assert not offenders, (
        "raw localCheckpoint — use caches.local_checkpoint() so the "
        "checkpoint RDDs can be freed deterministically:\n"
        + "\n".join(offenders)
    )


def _persistent_ids(spark):
    return {
        int(i)
        for i in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
    }


def test_tracked_persists_release_cleanly(spark):
    """The r7 flaky version asserted the session's TOTAL persistent-RDD
    count returned to a baseline — which races against the
    ContextCleaner GC-collecting unrelated leftovers from earlier tests
    mid-assertion. This version asserts only on the ids THIS test's
    queries register: they must appear while the tracked frames are
    live (the registry holds references, so GC cannot collect them
    early) and must all be gone after release_caches()."""
    registry = load_all()
    release_caches()  # flush anything earlier tests left tracked
    before = _persistent_ids(spark)
    # embedding_semantic_dedup persists its cluster-assignment frame AND
    # localCheckpoints inside connected components via dedup_components'
    # machinery; brand_basket_lift persists its basket frame;
    # dedup_components exercises the tracked-checkpoint path end-to-end.
    for name in ("embedding_semantic_dedup", "brand_basket_lift",
                 "dedup_components"):
        registry[name].fn(spark, SF).count()
    created = _persistent_ids(spark) - before
    assert created, "expected tracked persists/checkpoints to be live"
    assert caches._TRACKED_CACHES or caches._TRACKED_CHECKPOINTS
    release_caches()
    assert not caches._TRACKED_CACHES and not caches._TRACKED_CHECKPOINTS
    leftover = _persistent_ids(spark) & created
    assert not leftover, (
        f"release_caches() left RDDs {sorted(leftover)} behind"
    )


def test_cc_storage_is_o1_in_rounds(spark):
    """Storage probe (VERDICT r7 #2 'done' criterion): a long
    connected-components chain run keeps ≤2 live per-round checkpoints
    at any instant — superseded rounds are freed as soon as their
    successor is materialized, so executor storage is bounded by the
    frame size, not rounds × frame size."""
    from pyspark.sql import functions as F

    from edu_data_pipeline_spark.operators.graph import (
        connected_components,
        symmetrize_edges,
    )

    n = 1025  # chain of 1,025 nodes: 11 pointer-jumping rounds
    verts = spark.range(n).select(F.col("id").alias("doc_id"))
    edges = (
        spark.range(n - 1)
        .select(F.col("id").alias("doc_a"), (F.col("id") + 1).alias("doc_b"))
    )
    sym = symmetrize_edges(edges)
    release_caches()  # free any handles earlier tests left tracked
    base = caches.live_checkpoints()
    caches.reset_checkpoint_watermark()
    labels, rounds = connected_components(verts, sym)
    assert labels.where(F.col("component") != 0).count() == 0
    assert rounds >= 10, "chain too short to exercise the loop"
    # statics: sym + active (2). per-round: previous labels + freshly
    # materialized successor (2).
    peak = caches.peak_live_checkpoints() - base
    assert peak <= 4, f"live checkpoints peaked at {peak}: O(rounds) leak"
    release_caches()
    assert caches.live_checkpoints() == base, "checkpoints survived release"


def test_release_is_idempotent_and_safe_when_empty():
    release_caches()
    release_caches()
