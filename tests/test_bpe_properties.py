"""Randomized BPE merge-learning properties (VERDICT r13 #2, hypothesis).

``learn_bpe`` is the most complex composite operator in the engine — a
driver-coordinated loop whose semantics (arg-max pair selection with a
count-desc/lexicographic tie-break, greedy leftmost non-overlapping
merge application) were previously pinned only by a golden example test
plus the merge-1 oracle row ``docs_bpe_pair_stats``. The r12/r13 fuzz
precedent (4 real bugs in two rounds, all in exactly such "composite
with an under-sampled input space" operators) says this is where bugs
hide. These properties drive ``learn_bpe`` + ``apply_merge`` against
a literal pure-Python Sennrich twin (arXiv:1508.07909, the reference
learn_bpe algorithm) over generated corpora stressing the classes the
golden test under-samples:

- tie-breaking on equal pair counts (tiny alphabet → constant ties; the
  engine's contract is count desc then (a, b) ascending — UTF-8 binary
  order and Python code-point order agree because UTF-8 preserves code
  point ordering);
- single-word and empty corpora, words collapsing to one symbol (no
  pairs remain → early stop mid-loop);
- unicode: multi-byte BMP chars and an astral (surrogate-pair) char —
  Spark's split("") and Python's list() both split by CODE POINT
  (probed, r14);
- words containing literal ``<``, ``/``, ``w``, ``>`` so learned merges
  can COLLIDE with the ``</w>`` sentinel string — both sides must treat
  symbols as opaque strings;
- multi-space runs (split-then-drop-empties on both sides).

Unlike the CC/index fuzzes, BPE examples cannot be multiplexed into one
Spark job: the merge list is a corpus-GLOBAL loop-carried dependency, so
each example is one ``learn_bpe`` call (examples and merge counts kept
small — every round is two tiny Spark jobs).
"""

from __future__ import annotations

from collections import Counter

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from edu_data_pipeline_spark.operators.bpe import (
    END_OF_WORD,
    apply_merge,
    learn_bpe,
    word_types,
)

SETTLE = settings(
    max_examples=40,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

# Tiny alphabet so pair-count ties are the COMMON case, plus the unicode
# and sentinel-collision provocateurs documented above.
CHARS = st.sampled_from(list("abc") + ["é", "語", "𝕏", "<", "/", "w", ">"])
WORD = st.text(alphabet=CHARS, min_size=1, max_size=5)
# one doc: words joined by 1-2 spaces (multi-space exercises the
# drop-empties path); possibly zero words (empty text)
DOC = st.lists(
    st.tuples(WORD, st.sampled_from([" ", "  "])), min_size=0, max_size=6
).map(lambda ws: "".join(w + sep for w, sep in ws))
CORPUS = st.lists(DOC, min_size=1, max_size=4)


def _twin_words(texts: list[str]) -> Counter:
    """Word-type counts, literal twin of word_types' split semantics:
    split on single spaces, drop empties (trim is subsumed)."""
    wc: Counter = Counter()
    for t in texts:
        for w in t.split(" "):
            if w:
                wc[w] += 1
    return wc


def _twin_apply(s: tuple, a: str, b: str) -> tuple:
    """Greedy leftmost non-overlapping merge of adjacent (a, b) — the
    single left-to-right scan the engine's fold implements."""
    out: list = []
    i = 0
    while i < len(s):
        if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(s[i])
            i += 1
    return tuple(out)


def _twin_learn(texts: list[str], n_merges: int):
    """Literal Sennrich learn_bpe: explode word types to code points +
    end-of-word, then N rounds of (count weighted pairs, arg-max with
    count-desc/(a,b)-asc tie-break, merge everywhere)."""
    wc = _twin_words(texts)
    syms = {w: tuple(list(w) + [END_OF_WORD]) for w in wc}
    merges: list[dict] = []
    for rank in range(1, n_merges + 1):
        pairs: Counter = Counter()
        for w, n in wc.items():
            s = syms[w]
            for i in range(len(s) - 1):
                pairs[(s[i], s[i + 1])] += n
        if not pairs:
            break
        (a, b), cnt = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append(
            {"rank": rank, "left": a, "right": b, "merged": a + b, "pair_count": cnt}
        )
        syms = {w: _twin_apply(s, a, b) for w, s in syms.items()}
    return merges, wc, syms


def _run(spark, texts: list[str], n_merges: int):
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    merges = learn_bpe(docs, n_merges)
    # re-apply the learned list, in rank order, to the raw word types
    syms = F.col("syms")
    for m in merges:
        syms = apply_merge(syms, m["left"], m["right"])
    seg = {
        r["word"]: (r["n"], tuple(r["syms"]))
        for r in word_types(docs).select("word", "n", syms.alias("syms")).collect()
    }
    return merges, seg


@SETTLE
@given(CORPUS, st.integers(min_value=1, max_value=5))
def test_learn_bpe_matches_sennrich_twin(spark, texts, n_merges):
    want_merges, want_wc, want_syms = _twin_learn(texts, n_merges)
    got_merges, got_seg = _run(spark, texts, n_merges)
    assert got_merges == want_merges
    # _run re-applies the learned list from raw word types, so
    # this also pins the fold-based apply path against the scan twin
    assert got_seg == {
        w: (want_wc[w], want_syms[w]) for w in want_wc
    }


# ---------------------------------------------------------------------------
# Deterministic regressions for the classes the fuzz targets (pinned
# examples so a future regression fails fast without hypothesis).
# ---------------------------------------------------------------------------


def test_bpe_tie_break_lexicographic(spark):
    """Four pairs all tie at count 2; (a, b) ascending must win — and
    every later round re-ties, walking the lexicographic order."""
    texts = ["ab ab cd cd"]
    merges, _ = _run(spark, texts, 2)
    want, _, _ = _twin_learn(texts, 2)
    assert [m["left"] + "|" + m["right"] for m in merges] == ["a|b", "ab|</w>"]
    assert merges == want


def test_bpe_word_collapses_to_single_symbol(spark):
    """A one-char word is born at size(syms)=2 and collapses to ONE
    symbol after its first merge; the single-word corpus then runs out
    of pairs entirely and learn_bpe stops early mid-loop."""
    texts = ["a a a"]
    merges, seg = _run(spark, texts, 5)
    want, _, want_syms = _twin_learn(texts, 5)
    assert merges == want
    assert len(merges) == 1  # (a, </w>) then nothing left
    assert seg == {"a": (3, ("a</w>",))}
    assert want_syms == {"a": ("a</w>",)}


def test_bpe_sentinel_collision_and_unicode(spark):
    """The corpus "</wa </wb </w>" LEARNS (rank 3, via "/w" -> "</w" ->
    "</w>") a merged symbol equal to the </w> end-of-word sentinel, and
    rank 6 then merges the forged symbol WITH the real sentinel — both
    engine and twin must treat symbols as opaque strings throughout. The
    astral 𝕏 + multi-byte é corpus pins code-point splitting and
    UTF-8-binary vs code-point tie-break order agreeing across
    engines."""
    texts = ["</wa </wb </w>"]
    merges, seg = _run(spark, texts, 6)
    want, _, want_syms = _twin_learn(texts, 6)
    assert merges == want
    assert seg == {
        w: (n, want_syms[w]) for w, n in _twin_words(texts).items()
    }
    merged = [m["merged"] for m in merges]
    assert merged[2] == END_OF_WORD  # the forged sentinel (rank 3)
    assert merged[5] == END_OF_WORD + END_OF_WORD  # forged + real, merged
    assert seg["</w>"] == (1, (END_OF_WORD + END_OF_WORD,))

    texts = ["𝕏é 𝕏é𝕏é"]
    merges, seg = _run(spark, texts, 3)
    want, _, want_syms = _twin_learn(texts, 3)
    assert merges == want
    assert [m["merged"] for m in merges] == ["𝕏é", "𝕏é</w>", "𝕏é𝕏é</w>"]
    assert seg == {"𝕏é": (1, ("𝕏é</w>",)), "𝕏é𝕏é": (1, ("𝕏é𝕏é</w>",))}


def test_bpe_empty_and_whitespace_corpus(spark):
    """All-space and empty docs produce zero word types: no merges, an
    empty segmentation, no crash."""
    merges, seg = _run(spark, ["", "   "], 3)
    assert merges == []
    assert seg == {}
