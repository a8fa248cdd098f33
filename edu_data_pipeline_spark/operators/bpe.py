"""Distributed BPE merge learning (Sennrich et al., arXiv:1508.07909).

The classic subword-vocabulary recipe, expressed as a driver-coordinated
loop of DataFrame jobs (the same shape as the exact-decimal Lloyd
iterations in scale_suite.embedding_kmeans):

1. Collapse the corpus to WORD TYPES with counts — after this one
   linear groupBy, every later step works on the vocabulary-bounded
   type table, not the corpus.
2. Each round: explode adjacent symbol pairs, weight by word count, hash
   aggregate, take the arg-max pair (count desc, then lexicographic —
   fully deterministic), and apply the merge to every word with one
   ``aggregate()`` left fold (greedy leftmost non-overlapping, the
   standard BPE application order).

Scale shape: the corpus is touched ONCE (word-type groupBy); each merge
round is a bounded explode + hash agg over word types plus a 1-row
driver collect — the only driver data is the winning pair. At 100 TB
the word-type table for natural language is ~10^7 rows (vocabulary,
not corpus, bounded), so rounds cost seconds regardless of corpus size.
``localCheckpoint`` every few rounds caps lineage growth exactly like a
long Lloyd run. Not SQL-oracle-expressible (the merge list is a
loop-carried dependency), so the suite query is rows-only with a golden
pytest on a hand-computed corpus instead.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

END_OF_WORD = "</w>"
CHECKPOINT_EVERY = 4


def word_types(docs: DataFrame) -> DataFrame:
    """(word, n, syms) — word types with corpus counts and their initial
    character + end-of-word symbol sequence."""
    words = docs.select(
        F.explode(F.split(F.trim(F.col("text")), " ")).alias("word")
    ).where(F.length("word") > 0)
    counts = words.groupBy("word").agg(F.count(F.lit(1)).alias("n"))
    chars = F.filter(F.split(F.col("word"), ""), lambda s: s != "")
    syms = F.concat(chars, F.array(F.lit(END_OF_WORD)))
    return counts.select("word", "n", syms.alias("syms"))


def _pair_rows(types: DataFrame) -> DataFrame:
    """(a, b, weight) adjacent-symbol pair rows, weighted by word count."""
    pairs = F.expr(
        "transform(sequence(1, size(syms) - 1),"
        " i -> struct(element_at(syms, i) AS a, element_at(syms, i + 1) AS b))"
    )
    return (
        types.where(F.size("syms") >= 2)
        .select("n", F.explode(pairs).alias("p"))
        .select(F.col("p.a").alias("a"), F.col("p.b").alias("b"), "n")
    )


def top_pair(types: DataFrame) -> tuple[str, str, int] | None:
    """The most frequent adjacent pair (count desc, then (a, b) asc —
    deterministic across partitionings); None if no pair remains."""
    row = (
        _pair_rows(types)
        .groupBy("a", "b")
        .agg(F.sum("n").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("a"), F.asc("b"))
        .limit(1)
        .collect()
    )
    if not row:
        return None
    r = row[0]
    return r["a"], r["b"], r["cnt"]


def apply_merge(syms: Column, a: str, b: str) -> Column:
    """Greedy leftmost merge of adjacent (a, b) into a+b via one left
    fold — after a merge the new symbol cannot immediately re-merge with
    the following element as its left half, matching standard BPE
    application ("aaa" + (a,a) -> ["aa", "a"])."""
    merged = a + b
    return F.aggregate(
        syms,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(a))
            & (x == F.lit(b)),
            F.concat(
                F.slice(acc, F.lit(1), F.size(acc) - 1), F.array(F.lit(merged))
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def learn_bpe(docs: DataFrame, n_merges: int) -> list[dict]:
    """Learn ``n_merges`` BPE merges; returns them in application order
    as dicts (rank, left, right, merged, pair_count).

    Checkpoint lifecycle (VERDICT r7 #2): each periodic lineage-cut is an
    EAGER tracked checkpoint, and the previous one is freed as soon as
    its successor is materialized — at most one checkpoint of the
    word-type table is ever live, and none survives the return (the
    merge list is plain driver data)."""
    from ..caches import local_checkpoint

    types = word_types(docs)
    out: list[dict] = []
    handle = None
    for rank in range(1, n_merges + 1):
        best = top_pair(types)
        if best is None:
            break
        a, b, cnt = best
        out.append(
            {
                "rank": rank,
                "left": a,
                "right": b,
                "merged": a + b,
                "pair_count": int(cnt),
            }
        )
        types = types.select(
            "word", "n", apply_merge(F.col("syms"), a, b).alias("syms")
        )
        if rank % CHECKPOINT_EVERY == 0:
            types, new_handle = local_checkpoint(types, eager=True)
            if handle is not None:
                handle.release()  # successor materialized — safe to free
            handle = new_handle
    if handle is not None:
        handle.release()
    return out
