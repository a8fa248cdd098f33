"""Randomized training-set-assembly properties (r14, hypothesis).

The three corpus-assembly queries — sequence packing
(``docs_pack_sequences``), content-defined chunking (``docs_cdc_chunks``)
and the stable-hash split/sample pair (``docs_split_assign`` /
``docs_hash_sample``) — are hash-checked against DuckDB oracles every
sweep, but only on the generated testdata, whose documents are all
non-NULL, single-spaced prose. These properties drive the REGISTERED
query functions (through a real parquet round-trip, exactly the sweep's
path) against literal pure-Python twins of the ORACLE semantics over
corpora stressing the classes the testdata never contains:

- NULL text (pack: NULL n_tokens rows ride the running sum without
  perturbing it and land in a NULL pack_id group; cdc: the doc vanishes
  — both exactly as the DuckDB oracle computes);
- empty / all-space text (``trim`` then ``split`` on a single space
  yields the one-empty-token array [""], size 1, on both engines);
- multi-space runs (empty INNER tokens — which are hashed for CDC
  boundaries like any token; md5("") lands in bucket 1, not 0);
- documents that START on a CDC boundary (no chunk 0), are ALL
  boundaries (every chunk one token), or have none (one chunk);
- boundary-dense vocabularies ("beta", "c", "<" hash into bucket 0 of
  8) plus multi-byte and astral unicode ("é", "𝕏" — md5 is over UTF-8
  bytes on both sides);
- packing sums that actually CROSS the 2048-token sequence boundary
  (doc lengths up to 1500 tokens, several docs per md5 shard).

The md5 bucket twin is bit-exact Python (first 8 md5 hex chars of the
UTF-8 bytes, base-16, mod n) — probed against Spark's
conv(substr(md5(x),1,8),16,10) before this module was written.
"""

from __future__ import annotations

import hashlib
import shutil
import tempfile

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from edu_data_pipeline_spark.suite import load_all

SETTLE = settings(
    max_examples=40,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

REG = load_all()

DOC_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"

PACK_SEQ_LEN = 2048
PACK_SHARDS = 8
CDC_MODULUS = 8


# ---------------------------------------------------------------------------
# pure-Python twins of the oracle semantics
# ---------------------------------------------------------------------------


def _bucket(s: str, n: int) -> int:
    """Twin of the suite's _hash_bucket / _sql_hash_bucket."""
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:8], 16) % n


def _md5(s: str) -> str:
    return hashlib.md5(s.encode("utf-8")).hexdigest()


def _toks(text: str) -> list:
    """split(trim(text), ' '): strips SPACES only, keeps inner empties,
    and an empty/all-space text yields the one-empty-token array."""
    return text.strip(" ").split(" ")


def _twin_cdc(docs: dict) -> dict:
    """{(doc_id, chunk_id): (n_tokens, chunk_md5)} — chunk_id is the
    running boundary count at-or-before each token (a boundary token
    OPENS its chunk), so pre-first-boundary tokens are chunk 0 and a
    doc starting on a boundary has no chunk 0. NULL-text docs emit
    nothing (oracle: unnest(NULL) is zero rows)."""
    out: dict = {}
    for doc_id, text in docs.items():
        if text is None:
            continue
        cid = 0
        chunks: dict = {}
        for tok in _toks(text):
            if _bucket(tok, CDC_MODULUS) == 0:
                cid += 1
            chunks.setdefault(cid, []).append(tok)
        for cid, span in chunks.items():
            out[(doc_id, cid)] = (len(span), _md5(" ".join(span)))
    return out


def _twin_pack(docs: dict) -> dict:
    """{(shard, pack_id): (n_docs, n_tokens)} — per-shard doc_id-ordered
    running sum of n_tokens, pack_id = (cum - n_tokens) // 2048. NULL
    text gives NULL n_tokens: the row keeps its place in the window but
    contributes nothing to the sum (both engines' sum-over-window skips
    NULLs), and its pack_id — and the group n_tokens when EVERY group
    row is NULL — is NULL."""
    shards: dict = {}
    for doc_id in sorted(docs):
        text = docs[doc_id]
        n = None if text is None else len(_toks(text))
        shards.setdefault(_bucket(str(doc_id), PACK_SHARDS), []).append(n)
    agg: dict = {}
    for shard, lens in shards.items():
        cum = None  # stays None across an all-NULL prefix, like SQL sum
        for n in lens:
            if n is None:
                pid = None
            else:
                cum = (0 if cum is None else cum) + n
                pid = (cum - n) // PACK_SEQ_LEN
            n_docs, n_toks = agg.get((shard, pid), (0, None))
            if n is not None:
                n_toks = (0 if n_toks is None else n_toks) + n
            agg[(shard, pid)] = (n_docs + 1, n_toks)
    return agg


def _twin_split(doc_id: int) -> str:
    b = _bucket(str(doc_id), 100)
    return "train" if b < 90 else ("val" if b < 95 else "test")


# ---------------------------------------------------------------------------
# harness: one parquet round-trip per example, the sweep's own path
# ---------------------------------------------------------------------------


def _with_docs(spark, docs: dict, query: str, fn):
    tmp = tempfile.mkdtemp(prefix="assembly_fuzz_")
    try:
        rows = [
            (i, t, "en", "fuzz", None if t is None else len(t))
            for i, t in sorted(docs.items())
        ]
        spark.createDataFrame(rows, DOC_SCHEMA).write.parquet(
            tmp + "/documents.parquet"
        )
        return fn(REG[query].fn(spark, tmp))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# boundary-dense CDC vocabulary: "beta"/"c"/"<" are bucket 0 of 8
# (boundaries); "alpha"/"x"/"é"/"𝕏" are not; "  " separators forge
# empty inner tokens (md5("") is bucket 1 — a token, never a boundary)
CDC_WORD = st.sampled_from(["beta", "c", "<", "alpha", "x", "é", "𝕏"])
CDC_TEXT = st.one_of(
    st.none(),
    st.just(""),
    st.just("   "),
    st.lists(
        st.tuples(CDC_WORD, st.sampled_from([" ", "  "])), min_size=1, max_size=8
    ).map(lambda ws: "".join(w + sep for w, sep in ws)),
)
cdc_docs = st.dictionaries(st.integers(0, 9), CDC_TEXT, min_size=1, max_size=6)

# packing: doc lengths up to 1500 tokens over 24 doc_ids / 8 shards so
# per-shard running sums cross the 2048 boundary; None = NULL text,
# 0 = empty text (which still counts ONE empty token on both engines)
PACK_LEN = st.one_of(st.none(), st.integers(0, 4), st.integers(100, 1500))
pack_docs = st.dictionaries(st.integers(0, 23), PACK_LEN, min_size=1, max_size=12)

split_ids = st.lists(st.integers(0, 10_000), min_size=1, max_size=40, unique=True)


@SETTLE
@given(cdc_docs)
def test_cdc_chunks_match_python_twin(spark, docs):
    got = _with_docs(
        spark,
        docs,
        "docs_cdc_chunks",
        lambda df: {
            (r["doc_id"], r["chunk_id"]): (r["n_tokens"], r["chunk_md5"])
            for r in df.collect()
        },
    )
    assert got == _twin_cdc(docs)


@SETTLE
@given(pack_docs)
def test_pack_sequences_match_python_twin(spark, lens):
    docs = {
        i: (None if n is None else ("t " * n).strip(" ")) for i, n in lens.items()
    }
    got = _with_docs(
        spark,
        docs,
        "docs_pack_sequences",
        lambda df: {
            (r["shard"], r["pack_id"]): (r["n_docs"], r["n_tokens"])
            for r in df.collect()
        },
    )
    assert got == _twin_pack(docs)


@SETTLE
@given(split_ids)
def test_split_assign_and_hash_sample_match_python_twin(spark, ids):
    docs = {i: "w" for i in ids}
    tmp = tempfile.mkdtemp(prefix="assembly_fuzz_")
    try:
        rows = [(i, "w", "en", "fuzz", 1) for i in sorted(ids)]
        spark.createDataFrame(rows, DOC_SCHEMA).write.parquet(
            tmp + "/documents.parquet"
        )
        splits = {
            r["doc_id"]: r["split"]
            for r in REG["docs_split_assign"].fn(spark, tmp).collect()
        }
        sample = {
            r["doc_id"] for r in REG["docs_hash_sample"].fn(spark, tmp).collect()
        }
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    # every doc assigned exactly once, to the twin's split
    assert splits == {i: _twin_split(i) for i in ids}
    # the ~10% dev sample is exactly the bucket-0 docs
    assert sample == {i for i in ids if _bucket(str(i), 10) == 0}
    assert len(docs) == len(splits)


def test_cdc_boundary_seams_crafted(spark):
    """Deterministic seam pins, hand-computed (no twin in the loop):
    boundary-START doc has no chunk 0; all-boundary doc is one chunk per
    token; no-boundary doc is one chunk; empty text is one chunk of one
    empty token; NULL text emits nothing."""
    docs = {
        0: "beta x",  # starts ON a boundary -> chunks start at 1
        1: "beta c <",  # every token a boundary -> 3 one-token chunks
        2: "alpha x",  # no boundary -> single chunk 0
        3: "",  # [""] -> chunk 0 = one empty token
        4: None,  # no rows
        5: "x  beta",  # inner empty token, boundary mid-doc
    }
    got = _with_docs(
        spark,
        docs,
        "docs_cdc_chunks",
        lambda df: {
            (r["doc_id"], r["chunk_id"]): (r["n_tokens"], r["chunk_md5"])
            for r in df.collect()
        },
    )
    assert got == {
        (0, 1): (2, _md5("beta x")),
        (1, 1): (1, _md5("beta")),
        (1, 2): (1, _md5("c")),
        (1, 3): (1, _md5("<")),
        (2, 0): (2, _md5("alpha x")),
        (3, 0): (1, _md5("")),
        (5, 0): (2, _md5("x ")),  # ["x", ""] joins to "x "
        (5, 1): (1, _md5("beta")),
    }
    assert got == _twin_cdc(docs)  # and the twin agrees with the pins


def test_cdc_chunks_stable_under_insertion(spark):
    """The point of content-defined chunking: inserting tokens near the
    START of a document must leave the chunk fingerprints of the
    document's tail intact (fixed-stride chunking re-addresses every
    downstream chunk). We compare the two variants' surviving-chunk
    counts on the same edit."""
    import random

    from edu_data_pipeline_spark.suite.scale_suite import docs_cdc_chunks

    rng = random.Random(7)
    words = [f"w{rng.randint(0, 500)}" for _ in range(400)]
    original = " ".join(words)
    edited = " ".join(["inserted", "tokens", "here"] + words)

    def chunk_hashes(text):
        d = spark.createDataFrame(
            [(1, text, "en", "s", len(text))],
            "doc_id long, text string, lang string, source string, n_chars long",
        )
        # docs_cdc_chunks reads via table(); run the same logic on this df
        from edu_data_pipeline_spark.suite import scale_suite as ss
        from pyspark.sql import functions as F2, Window as W2

        toks = d.select(
            "doc_id", F2.posexplode(F2.split(F2.trim(F2.col("text")), " ")).alias("pos0", "t")
        ).select("doc_id", (F2.col("pos0") + 1).alias("pos"), "t")
        h = F2.conv(F2.substring(F2.md5(F2.col("t")), 1, 8), 16, 10).cast("long")
        marked = toks.withColumn("is_boundary", (h % ss.CDC_MODULUS == 0).cast("long"))
        w = W2.partitionBy("doc_id").orderBy("pos").rowsBetween(
            W2.unboundedPreceding, W2.currentRow
        )
        seg = marked.withColumn("chunk_id", F2.sum("is_boundary").over(w))
        rows = seg.groupBy("doc_id", "chunk_id").agg(
            F2.md5(
                F2.array_join(
                    F2.transform(
                        F2.array_sort(F2.collect_list(F2.struct("pos", "t"))),
                        lambda p: p["t"],
                    ),
                    " ",
                )
            ).alias("h")
        ).collect()
        return [r["h"] for r in rows]

    base = set(chunk_hashes(original))
    after = set(chunk_hashes(edited))
    cdc_survivors = len(base & after)
    # fixed-stride comparison: 8-token chunks by position
    def strided(text):
        t = text.split(" ")
        return {" ".join(t[i : i + 8]) for i in range(0, len(t), 8)}

    stride_survivors = len(strided(original) & strided(edited))
    # CDC must preserve most tail chunks; the 3-token insert shifts every
    # fixed-stride chunk (survivors ~0)
    assert cdc_survivors >= int(0.8 * len(base)), (cdc_survivors, len(base))
    assert cdc_survivors > stride_survivors


def test_split_assign_stable_under_corpus_growth(spark):
    """The split contract: no document ever migrates when the corpus
    grows. Run the registered query on a corpus and on a superset —
    the common ids' assignments must be identical."""
    small = {i: "w" for i in range(0, 40)}
    big = {i: "w" for i in range(0, 80)}

    def read(df):
        return {r["doc_id"]: r["split"] for r in df.collect()}

    s = _with_docs(spark, small, "docs_split_assign", read)
    b = _with_docs(spark, big, "docs_split_assign", read)
    assert s == {i: b[i] for i in small}
