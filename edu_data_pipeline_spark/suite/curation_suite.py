"""Corpus-curation operators, round 4: sketch algebra, semantic dedup,
model-based quality filtering, contamination verdicts, Bloom screening.

These close out the curation toolchain around the existing dedup/ANN
stack (scale_suite): every operator here is the production companion of
one already-shipped primitive —

- ``source_minhash_overlap``: corpus-level MERGEABLE sketch algebra. The
  per-document MinHash family (scale_suite) becomes a per-source union
  sketch via the same min-aggregation, so source-vs-source vocabulary
  overlap costs one linear agg + a sources^2 join (independent of corpus
  size). This is the panel a curator reads before weighting sources.
- ``embedding_semantic_dedup``: SemDeDup-style drop LIST (Abbas et al.,
  arXiv:2303.09540's keep-one-per-semantic-cluster rule) on top of the
  hyperplane-LSH buckets — the decision output, where
  ``embedding_verified_topk`` only reports the top pairs.
- ``docs_quality_classifier``: a fixed-weight linear quality model over
  extracted features (the model-based filter slot in a FineWeb-style
  funnel). Deliberately exp()-free: the score is a rational-arithmetic
  combination bucketed on its ROUNDED value, so both engines compute
  bit-identical verdicts (libm exp is not cross-engine stable).
- ``docs_contamination_frac``: the published overlap-FRACTION
  decontamination rule (GPT-3 appendix-C style): a training doc is
  contaminated when >10% of its distinct 8-grams appear in the eval
  source, not merely when any one does (docs_decontamination's
  any-overlap count is the recall-first screen next to this).
- ``docs_bloom_screen``: a DISTRIBUTED Bloom filter built entirely in
  DataFrame algebra — explode k bit positions, ``bit_or`` the 32-bit
  words, broadcast the O(m)-word bitmap — then a probe pass with
  false-positive accounting against the exact set. At 100 TB this is the
  decontamination screen when the eval gram set outgrows an exact
  broadcast: the bitmap stays m/32 words no matter how many grams enter.

All five are deterministic (md5-keyed, no rand) and oracle-checked
against DuckDB; reference parity: the reference has no curation layer at
all (its dedup is a single SQL DISTINCT — cleaning_pipeline.py:121), so
this entire module is beyond-reference surface in the BASELINE.md sense.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.testdata import table
from . import davg, dround, persist_tracked, register, sql_davg, sql_dround
from .scale_suite import (
    DECON_EVAL_SOURCE,
    N_HASHES,
    STOPWORDS,
    _SQL_COS_AB,
    _SQL_GRAM_KEY64,
    _SQL_SHINGLES,
    _distinct_shingles_with_source,
    _distinct_sk_rows,
    _gram_key64,
    _sql_key64,
    _n_tokens,
    _tokens,
    sql_kmeans_chain,
)

# ---------------------------------------------------------------------------
# 1. Cross-source MinHash overlap matrix (mergeable sketch algebra)
# ---------------------------------------------------------------------------

# Broadcast-pairing bound for the sources^2 overlap join. Exceeding it
# raises at runtime (ADVICE r4: a bare limit() would silently drop
# sources from the matrix); patchable in tests to prove the guard fires.
SOURCE_OVERLAP_CAP = 100_000

_SQL_SRC_HALVES = """
      SELECT d.source,
             CAST(CAST('0x' || substr(md5(e.s), 1, 8) AS UINTEGER) AS BIGINT) AS h1,
             CAST(CAST('0x' || substr(md5(e.s), 9, 8) AS UINTEGER) AS BIGINT) AS h2
      FROM exploded e JOIN documents d ON d.doc_id = e.doc_id
"""

_SQL_SRC_MINHASH_AGGS = ",\n".join(
    f"             min(h1 + {i} * h2) AS sig_{i}" for i in range(N_HASHES)
)

_SQL_SIG_MATCHES = " + ".join(
    f"CASE WHEN a.sig_{i} = b.sig_{i} THEN 1 ELSE 0 END" for i in range(N_HASHES)
)


@register(
    "source_minhash_overlap",
    oracle=f"""
    WITH sh AS ({_SQL_SHINGLES}),
    exploded AS (
      SELECT doc_id, unnest(shingles) AS s FROM sh
    ), halves AS ({_SQL_SRC_HALVES}),
    sigs AS (
      SELECT source,
{_SQL_SRC_MINHASH_AGGS}
      FROM halves GROUP BY source
    )
    SELECT a.source AS src_a, b.source AS src_b,
           CAST({_SQL_SIG_MATCHES} AS BIGINT) AS n_matches,
           {sql_dround(f'({_SQL_SIG_MATCHES}) * 1.0 / {N_HASHES}', 4)}
             AS est_jaccard
    FROM sigs a JOIN sigs b ON a.source < b.source
    """,
)
def source_minhash_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-vs-source vocabulary overlap from MERGED MinHash sketches.

    The per-source sketch is the min over every member document's shingle
    hashes — MinHash minima are union-mergeable, so the per-source
    signature is ONE map-side-combinable groupBy(source) over the shingle
    stream (the same Carter-Wegman h1 + i*h2 family scale_suite's
    per-document signatures use). The pairwise estimate then joins
    |sources|^2 signature rows — constant work no matter the corpus size.
    est_jaccard = matching-component fraction, the standard unbiased
    MinHash estimator. At 100 TB: sketch agg is linear and mergeable
    (combiner-friendly), the join is trivially broadcast.
    """
    d = table(spark, sf_dir, "documents")
    sh = _distinct_shingles_with_source(d)  # source rides the explode (r8)
    m = F.md5(F.col("s"))
    halves = sh.select(
        "source",
        F.conv(F.substring(m, 1, 8), 16, 10).cast("long").alias("h1"),
        F.conv(F.substring(m, 9, 8), 16, 10).cast("long").alias("h2"),
    )
    # One materialization of the sketch pipeline, shared by the guard
    # count, the probe side, and the broadcast side — without it the
    # shingle->md5->groupBy chain executes three times per run (ADVICE
    # r5). |sources| rows — trivially cacheable; released by the
    # harnesses' release_caches().
    sigs = persist_tracked(
        halves.groupBy("source").agg(
            *[
                F.min(F.col("h1") + i * F.col("h2")).alias(f"sig_{i}")
                for i in range(N_HASHES)
            ]
        )
    )
    # The non-equi pairing join is bounded by |sources|^2; the limit is a
    # no-op at any real source cardinality that doubles as the plan-lint
    # boundedness certificate for the broadcast NLJ side. If source
    # cardinality ever DID exceed the cap, a bare limit would silently
    # drop sources from the overlap matrix (ADVICE r4) — so a runtime
    # raise_error guard fails the query loudly instead. The guard factor
    # multiplies into an OUTPUT column (Catalyst cannot prune it; a pure
    # filter predicate on always-null assert_true gets folded away) and
    # compares against a broadcast 1-row count — no driver-side action,
    # the plan stays lazy, and n_matches is unchanged when within cap.
    cap = SOURCE_OVERLAP_CAP
    overflow_msg = F.lit(
        f"source_minhash_overlap: source cardinality exceeds the {cap} "
        "broadcast-pairing cap — raise the cap or shard the pairing join"
    )
    # The raise lives INSIDE the broadcast side's projection: the 1-row
    # count frame is materialized when the broadcast builds, so the guard
    # fires even when truncation would leave the pairing join with zero
    # output rows (a per-output-row guard would never evaluate then).
    n_src = sigs.agg(F.count(F.lit(1)).alias("n_raw")).select(
        F.when(F.col("n_raw") <= cap, F.col("n_raw"))
        .otherwise(F.raise_error(overflow_msg).cast("long"))
        .alias("n_sources")
    )
    a, b = sigs.alias("a"), sigs.limit(cap).alias("b")
    matches = None
    for i in range(N_HASHES):
        term = F.when(F.col(f"a.sig_{i}") == F.col(f"b.sig_{i}"), 1).otherwise(0)
        matches = term if matches is None else matches + term
    # n_sources/(greatest of itself) multiplies to 1 for any in-cap count —
    # its only job is to REFERENCE the guarded column so Catalyst cannot
    # prune the broadcast projection away.
    guard_one = (F.col("n_sources") / F.greatest(F.col("n_sources"), F.lit(1))).cast(
        "int"
    )
    matches = matches * guard_one
    return (
        a.join(F.broadcast(b), F.col("a.source") < F.col("b.source"))
        .join(F.broadcast(n_src))
        .select(
            F.col("a.source").alias("src_a"),
            F.col("b.source").alias("src_b"),
            matches.cast("long").alias("n_matches"),
            dround(matches * 1.0 / N_HASHES, 4).alias("est_jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# 2. SemDeDup-style semantic drop list over adaptive k-means clusters
# ---------------------------------------------------------------------------

SEMDEDUP_TAU = 0.32  # cosine threshold for "semantic duplicate"
# Greedy keep-lowest-id rule: a vector is DROPPED when any same-cluster
# partner with a smaller vec_id sits within tau. Chains (a~b, b~c, a!~c)
# drop both b and c — the same greedy order-scan semantics SemDeDup's
# per-cluster keep-one rule yields under an id-ordered scan.
#
# Cluster count scales with the corpus (SemDeDup's own design: cluster
# first, verify pairs only within a cluster): K = clamp(n // 64, 4,
# 4096), so expected cluster population stays ~64 and candidate volume
# stays ~32·n until the K cap, then n²/4096 — vs the previous fixed
# 6-table × 4-bit hyperplane-LSH whose candidates measured a CONSTANT
# 32.47% of ALL pairs at BOTH sf0.01 and sf0.1 (SCALE.md capacity plan,
# exponent alpha = 1.82: sign-LSH cannot prune at tau = 0.32, the
# retained-pair fraction is set by the angle, not the corpus). Both
# sides use integer arithmetic only, so Spark (Python) and DuckDB (SQL
# subquery) derive the same K.
SEMDEDUP_TARGET_CLUSTER = 64
SEMDEDUP_MIN_K = 4
SEMDEDUP_MAX_K = 4096

_SQL_SEMDEDUP_K = (
    f"(SELECT least(greatest(count(*) // {SEMDEDUP_TARGET_CLUSTER}, "
    f"{SEMDEDUP_MIN_K}), {SEMDEDUP_MAX_K}) FROM embeddings)"
)


@register(
    "embedding_semantic_dedup",
    oracle=f"""
    WITH {sql_kmeans_chain(_SQL_SEMDEDUP_K)},
    cand AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
      FROM a2 a JOIN a2 b ON a.cid = b.cid AND a.vec_id < b.vec_id
    ), close AS (
      SELECT c.vec_a, c.vec_b, {_SQL_COS_AB} AS cos
      FROM cand c
      JOIN e ea ON ea.vec_id = c.vec_a
      JOIN e eb ON eb.vec_id = c.vec_b
      WHERE {sql_dround(_SQL_COS_AB, 6)} >= {SEMDEDUP_TAU}
    )
    SELECT vec_b AS dropped_vec, min(vec_a) AS kept_vec,
           CAST(count(*) AS BIGINT) AS n_close,
           {sql_dround('max(cos)', 6)} AS max_cosine
    FROM close GROUP BY vec_b
    """,
)
def embedding_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic near-duplicate DROP LIST: every vector within cosine
    SEMDEDUP_TAU of a lower-id partner in the SAME k-means cluster, with
    the kept representative (lowest such partner) and tightest cosine.

    The public SemDeDup recipe verbatim: cluster the embedding space
    (2 exact-decimal Lloyd rounds via `scale_suite.kmeans_assignments`
    — bit-identical assignments across engines), then compare pairs
    only within a cluster. K is derived from the corpus row count
    (footer metadata, no extra job) as clamp(n // 64, 4, 4096): the
    per-cluster verify is ~population²/2 ≈ 2k pairs, so total candidate
    volume is ~32·n — linear until the K cap, then n²/4096 (the
    documented SemDeDup trade; past the cap, raise the cap or accept
    coarser clusters). Replaces the r4–r5 hyperplane-LSH candidate
    generator, whose retained-pair fraction at tau = 0.32 measured a
    constant 32.47% of ALL pairs at both sf scales (alpha = 1.82 in
    SCALE.md's capacity plan — sign-LSH prunes by angle, and 71° keeps
    a third of the sphere regardless of corpus size). Worst-case skew
    (one giant k-means cluster) is the recipe's known limitation and
    is bounded here by the keep-lowest-id semantics requiring only
    same-cluster comparisons. The threshold compares the ROUNDED cosine
    (dround 6) so keep/drop verdicts are bit-identical across engines
    even on the boundary. Reference parity: none (reference has no
    embedding surface); rule follows the public SemDeDup recipe.
    """
    from ..sources.testdata import metadata_row_count
    from .scale_suite import _dot_sql, kmeans_assignments

    n = metadata_row_count(sf_dir, "embeddings")
    k = min(
        max(n // SEMDEDUP_TARGET_CLUSTER, SEMDEDUP_MIN_K), SEMDEDUP_MAX_K
    )
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    # Persist the assignment frame: both sides of the within-cluster
    # candidate self-join consume it, and it is the output of the full
    # 2-round Lloyd pipeline — materializing once keeps the clustering
    # out of both join branches (the same single-pass fix
    # brand_basket_lift applies to its basket frame).
    a2 = persist_tracked(kmeans_assignments(e, k).select("vec_id", "cid"))
    a, b = a2.alias("a"), a2.alias("b")
    cand = a.join(
        b,
        (F.col("a.cid") == F.col("b.cid"))
        & (F.col("a.vec_id") < F.col("b.vec_id")),
    ).select(F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b"))
    # Norms precomputed ONCE per vector instead of per candidate pair:
    # sqrt(dot(v, v)) is the same double either way (identical fold), so
    # the oracle is unchanged, but the verify stage drops two of its
    # three per-pair array folds. SQL-string spelling per _dot_sql (r14
    # build-cost cut).
    e = e.selectExpr(
        "vec_id", "emb", f"sqrt({_dot_sql('emb', 'emb')}) AS nrm"
    )
    ea, eb = e.alias("ea"), e.alias("eb")
    cos = F.expr(f"{_dot_sql('ea.emb', 'eb.emb')} / (ea.nrm * eb.nrm)")
    close = (
        cand.join(ea, F.col("vec_a") == F.col("ea.vec_id"))
        .join(eb, F.col("vec_b") == F.col("eb.vec_id"))
        .withColumn("cos", cos)
        .where(dround(F.col("cos"), 6) >= SEMDEDUP_TAU)
    )
    return close.groupBy(F.col("vec_b").alias("dropped_vec")).agg(
        F.min("vec_a").alias("kept_vec"),
        F.count(F.lit(1)).alias("n_close"),
        dround(F.max("cos"), 6).alias("max_cosine"),
    )


# ---------------------------------------------------------------------------
# 3. Fixed-weight linear quality classifier (model-based filter slot)
# ---------------------------------------------------------------------------

# Public-heuristic feature weights (FineWeb/Gopher-flavored): length,
# lexical diversity, stopword density, mean token length. The score is a
# convex combination in [0, 1]; verdicts bucket the ROUNDED score so both
# engines agree bitwise at the thresholds. exp()/logistic deliberately
# avoided: libm differs across engines; a monotone linear score buckets
# identically.
QC_KEEP_T = 0.55
QC_HIGH_T = 0.65


# (doc_id, n_tokens, quality_score) CTE chain — shared by the classifier
# query and the duplication-vs-quality panel below
_SQL_QC_SCORED = f"""feats AS (
      SELECT doc_id, n_chars,
             len(string_split(trim(text), ' ')) AS n_tokens,
             len(list_distinct(string_split(trim(text), ' '))) AS n_unique,
             len(list_filter(string_split(trim(text), ' '),
                 t -> t IN ('the', 'a'))) AS n_stop
      FROM documents
    ), scored AS (
      SELECT doc_id, n_tokens,
             {sql_dround(
                 "0.30 * (least(n_tokens, 200) * 1.0 / 200)"
                 " + 0.35 * (n_unique * 1.0 / greatest(n_tokens, 1))"
                 " + 0.20 * (1.0 - least(n_stop * 4.0 / greatest(n_tokens, 1), 1.0))"
                 " + 0.15 * least((n_chars * 1.0 / greatest(n_tokens, 1)) / 8.0, 1.0)",
                 4,
             )} AS quality_score
      FROM feats
    )"""


@register(
    "docs_quality_classifier",
    oracle=f"""
    WITH {_SQL_QC_SCORED}
    SELECT doc_id, n_tokens, quality_score,
           CASE WHEN quality_score >= {QC_HIGH_T} THEN 'high'
                WHEN quality_score >= {QC_KEEP_T} THEN 'mid'
                ELSE 'low' END AS quality_label,
           quality_score >= {QC_KEEP_T} AS keep
    FROM scored
    """,
)
def docs_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filter: a fixed-weight linear scorer over four
    extracted features (length, unique-token ratio, stopword density,
    mean token length), bucketed into keep/label verdicts on the rounded
    score. One narrow projection — no shuffle, no UDF; at 100 TB this is
    a map-only pass fused into whatever scan precedes it. The weight
    vector is a stand-in for a trained model's coefficients; swapping in
    learned weights changes literals, not the plan.
    """
    d = table(spark, sf_dir, "documents")
    toks = _tokens(F.col("text"))
    nn = F.col("text").isNotNull()  # see _n_tokens: ansi-off size(NULL) = -1
    feats = d.select(
        "doc_id",
        "n_chars",
        F.when(nn, F.size(toks)).alias("n_tokens"),
        F.when(nn, F.size(F.array_distinct(toks))).alias("n_unique"),
        F.when(nn, F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS)))).alias(
            "n_stop"
        ),
    )
    nt = F.greatest(F.col("n_tokens"), F.lit(1))
    score = (
        0.30 * (F.least(F.col("n_tokens"), F.lit(200)) * 1.0 / 200)
        + 0.35 * (F.col("n_unique") * 1.0 / nt)
        + 0.20 * (1.0 - F.least(F.col("n_stop") * 4.0 / nt, F.lit(1.0)))
        + 0.15 * F.least((F.col("n_chars") * 1.0 / nt) / 8.0, F.lit(1.0))
    )
    scored = feats.select(
        "doc_id", "n_tokens", dround(score, 4).alias("quality_score")
    )
    return scored.select(
        "doc_id",
        "n_tokens",
        "quality_score",
        F.when(F.col("quality_score") >= QC_HIGH_T, "high")
        .when(F.col("quality_score") >= QC_KEEP_T, "mid")
        .otherwise("low")
        .alias("quality_label"),
        (F.col("quality_score") >= QC_KEEP_T).alias("keep"),
    )


# ---------------------------------------------------------------------------
# 4. Contamination FRACTION verdict (published-threshold rule)
# ---------------------------------------------------------------------------

CONTAM_GRAM_K = 8  # published decontamination rules use 8-13 token grams
CONTAM_FRAC_T = 0.10  # >10% of a doc's grams in eval => contaminated


@register(
    "docs_contamination_frac",
    oracle=f"""
    WITH toks AS (
      SELECT d.doc_id, d.source, string_split(trim(d.text), ' ') AS t
      FROM documents d
    ), grams_raw AS (
      SELECT doc_id, source,
             unnest(list_transform(
               range(1, greatest(len(t) - {CONTAM_GRAM_K - 2}, 1)),
               i -> array_to_string(t[i : i + {CONTAM_GRAM_K - 1}], ' '))) AS g
      FROM toks
      WHERE len(t) >= {CONTAM_GRAM_K}
    ), grams AS (
      SELECT DISTINCT doc_id, source, {_SQL_GRAM_KEY64} AS gk FROM grams_raw
    ), eval_g AS (
      SELECT DISTINCT gk FROM grams WHERE source = '{DECON_EVAL_SOURCE}'
    ), probe AS (
      SELECT gr.doc_id, gr.gk, ev.gk IS NOT NULL AS hit
      FROM grams gr LEFT JOIN eval_g ev ON gr.gk = ev.gk
      WHERE gr.source <> '{DECON_EVAL_SOURCE}'
    ), frac AS (
      SELECT doc_id,
             count(*) AS n_grams,
             CAST(count(CASE WHEN hit THEN 1 END) AS BIGINT) AS n_overlap,
             {sql_dround('count(CASE WHEN hit THEN 1 END) * 1.0 / count(*)', 4)}
               AS overlap_frac
      FROM probe GROUP BY doc_id
    )
    SELECT doc_id, n_grams, n_overlap, overlap_frac,
           overlap_frac > {CONTAM_FRAC_T} AS contaminated
    FROM frac
    """,
)
def docs_contamination_frac(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-training-doc eval-overlap FRACTION with the published >10%
    verdict (GPT-3-style dirty-document rule), over distinct 8-token
    grams. Zero-overlap docs are INCLUDED (left join against the
    broadcast eval set), because the downstream mix needs the clean
    verdict rows too — docs_decontamination's inner-join count is the
    flag-only twin. Scale shape identical to every gram screen here:
    shuffle-free gram generation, tiny broadcast eval side, one hash agg.

    r8 shuffle-constant fix (capacity plan: this was the registry's
    widest constant at sh/in 27.3): grams now travel as 60-bit md5
    fingerprints (the dup-span family's _SQL_GRAM_KEY64 transform — the
    oracle applies the identical one, so parity is exact even under
    collisions), and ``source`` rides the gram explode instead of a
    gram-volume join back to documents. Distinct-gram counts are
    fingerprint-distinct on BOTH engines; a collision folds ~n²/2^61 of
    gram pairs — the standard trade, documented at the dup-span site.
    """
    d = table(spark, sf_dir, "documents")
    # r8c: per-doc-distinct 8-gram fingerprints explode from the
    # map-side arrays — the gram-volume distinct exchange is gone
    grams = _distinct_sk_rows(d, carry=("source",), k=CONTAM_GRAM_K).select(
        "doc_id", "source", F.col("sk").alias("gk")
    )
    eval_g = (
        grams.where(F.col("source") == DECON_EVAL_SOURCE)
        .select("gk")
        .distinct()
        .withColumn("hit", F.lit(True))
    )
    probe = (
        grams.where(F.col("source") != DECON_EVAL_SOURCE)
        .join(F.broadcast(eval_g), "gk", "left")
    )
    frac = probe.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.count(F.when(F.col("hit"), 1)).alias("n_overlap"),
        dround(F.count(F.when(F.col("hit"), 1)) * 1.0 / F.count(F.lit(1)), 4)
        .alias("overlap_frac"),
    )
    return frac.select(
        "doc_id",
        "n_grams",
        "n_overlap",
        "overlap_frac",
        (F.col("overlap_frac") > CONTAM_FRAC_T).alias("contaminated"),
    )


# ---------------------------------------------------------------------------
# 5. Distributed Bloom-filter decontamination screen with FP accounting
# ---------------------------------------------------------------------------

BLOOM_M_BITS = 131072  # 2^17 bits = 4096 x 32-bit words (~16 KiB bitmap)
BLOOM_K = 3  # hash functions: pos_j = (h1 + j*h2) mod m, j in 0..2
# 32-bit words (bit index < 32) so masks never touch a BIGINT sign bit on
# either engine; the bitmap broadcasts at m/32 = 4096 rows regardless of
# how many grams were inserted — THE property that makes a Bloom screen
# viable when the exact eval gram set outgrows a broadcast.
#
# r8: the Carter-Wegman halves derive from the 60-bit md5-prefix
# fingerprint sk (h1 = top 32 bits, h2 = low 28 bits) instead of two
# fresh md5 substrings, so a gram frame that already carries sk — the
# batch screen's distinct exchange — never touches the raw string again.
# Same-gram ⇒ same-sk ⇒ same positions, so the no-false-negative
# property is unchanged; both engines apply the identical derivation.
_BLOOM_H2_MOD = 1 << 28

_SQL_BLOOM_HALVES = f"""
      SELECT doc_id, source, sk,
             sk // {_BLOOM_H2_MOD} AS h1,
             sk % {_BLOOM_H2_MOD} AS h2
      FROM tagged
"""

_SQL_BLOOM_POSITIONS = "\n      UNION ALL\n".join(
    f"      SELECT doc_id, source, sk, ((h1 + {j} * h2) % {BLOOM_M_BITS}) AS pos"
    f" FROM halves"
    for j in range(BLOOM_K)
)


def _bloom_halves(grams: DataFrame) -> Column:
    """The fingerprint column a gram frame hashes from: ``sk`` when
    present (8-byte fast path), else derived map-side from ``s``."""
    return (
        F.col("sk") if "sk" in grams.columns else _gram_key64(F.col("s"))
    )


def _bloom_positions(grams: DataFrame, *carry: str) -> DataFrame:
    """(carry..., pos) rows: each gram's BLOOM_K bit positions."""
    sk = _bloom_halves(grams)
    halves = grams.select(
        *carry,
        F.shiftright(sk, 28).alias("h1"),
        sk.bitwiseAND(F.lit(_BLOOM_H2_MOD - 1)).alias("h2"),
    )
    return halves.select(
        *carry,
        F.explode(
            F.array(
                *[
                    ((F.col("h1") + j * F.col("h2")) % BLOOM_M_BITS)
                    for j in range(BLOOM_K)
                ]
            )
        ).alias("pos"),
    )


# SQL shiftleft accepts a column shift amount (the PySpark wrapper only
# takes a literal int); 32-bit words so the mask never touches the sign
_WORD_IDX = "pos div 32"
_MASK = "shiftleft(CAST(1 AS BIGINT), CAST(pos % 32 AS INT))"


def bloom_bitmap(grams: DataFrame) -> DataFrame:
    """(word_idx, word) Bloom bitmap over a gram frame's ``s`` column —
    the map-side-combinable build shared by the Bloom screen queries."""
    return (
        _bloom_positions(grams)
        .select(F.expr(_WORD_IDX).alias("word_idx"), F.expr(_MASK).alias("mask"))
        .groupBy("word_idx")
        .agg(F.bit_or("mask").alias("word"))
    )


def bloom_gram_flags(grams: DataFrame, bloom: DataFrame) -> DataFrame:
    """The input gram frame plus a ``bloom_pos`` membership flag:
    probe each gram's BLOOM_K positions against the BROADCAST bitmap;
    positive iff every bit is set.

    r8: entirely map-side — one broadcast hash join per hash function
    (BLOOM_K joins against the BLOOM_M_BITS/32-row bitmap) instead of the old
    explode(K) + groupBy(doc_id, gram) re-aggregation, which shuffled
    the whole gram stream once more just to AND three bits together.
    Output granularity equals input (instance streams are fine — each
    row gets its own flag)."""
    sk = _bloom_halves(grams)
    sel = grams.withColumn("_h1", F.shiftright(sk, 28)).withColumn(
        "_h2", sk.bitwiseAND(F.lit(_BLOOM_H2_MOD - 1))
    )
    flag = None
    for j in range(BLOOM_K):
        sel = sel.withColumn(
            f"_pos{j}", (F.col("_h1") + j * F.col("_h2")) % BLOOM_M_BITS
        )
        # SQL shiftleft accepts a column shift; the PySpark wrapper only
        # takes a literal int — same reason _MASK is an expr string
        sel = sel.withColumn(f"_wi{j}", F.expr(f"_pos{j} div 32")).withColumn(
            f"_mask{j}",
            F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST(_pos{j} % 32 AS INT))"),
        )
        b = F.broadcast(
            bloom.select(
                F.col("word_idx").alias(f"_bwi{j}"),
                F.col("word").alias(f"_bw{j}"),
            )
        )
        sel = sel.join(b, F.col(f"_wi{j}") == F.col(f"_bwi{j}"), "left")
        bit = (
            F.coalesce(F.col(f"_bw{j}"), F.lit(0)).bitwiseAND(F.col(f"_mask{j}"))
        ) != 0
        flag = bit if flag is None else (flag & bit)
    return sel.select(*grams.columns, flag.alias("bloom_pos"))


@register(
    "docs_bloom_screen",
    oracle=f"""
    WITH sh AS ({_SQL_SHINGLES}),
    exploded AS (
      SELECT doc_id, unnest(shingles) AS s FROM sh
    ), tagged AS (
      SELECT DISTINCT e.doc_id, d.source, {_sql_key64('e.s')} AS sk FROM exploded e
      JOIN documents d ON d.doc_id = e.doc_id
    ), halves AS ({_SQL_BLOOM_HALVES}),
    positions AS (
{_SQL_BLOOM_POSITIONS}
    ), bloom AS (
      SELECT pos // 32 AS word_idx,
             bit_or(CAST(1 AS BIGINT) << CAST(pos % 32 AS INTEGER)) AS word
      FROM positions WHERE source = '{DECON_EVAL_SOURCE}'
      GROUP BY pos // 32
    ), probe AS (
      SELECT p.doc_id, p.sk,
             CASE WHEN (coalesce(b.word, 0)
                        & (CAST(1 AS BIGINT) << CAST(p.pos % 32 AS INTEGER)))
                  <> 0 THEN 1 ELSE 0 END AS bit_set
      FROM positions p LEFT JOIN bloom b ON b.word_idx = p.pos // 32
      WHERE p.source <> '{DECON_EVAL_SOURCE}'
    ), per_gram AS (
      SELECT doc_id, sk, min(bit_set) = 1 AS bloom_pos
      FROM probe GROUP BY doc_id, sk
    ), eval_s AS (
      SELECT DISTINCT sk FROM tagged WHERE source = '{DECON_EVAL_SOURCE}'
    ), flagged AS (
      SELECT g.doc_id, g.bloom_pos, ev.sk IS NOT NULL AS exact_hit
      FROM per_gram g LEFT JOIN eval_s ev ON g.sk = ev.sk
    )
    SELECT doc_id,
           count(*) AS n_grams,
           CAST(count(CASE WHEN bloom_pos THEN 1 END) AS BIGINT) AS n_bloom_hits,
           CAST(count(CASE WHEN exact_hit THEN 1 END) AS BIGINT) AS n_exact_hits,
           CAST(count(CASE WHEN bloom_pos AND NOT coalesce(exact_hit, FALSE)
                      THEN 1 END) AS BIGINT) AS n_false_pos
    FROM flagged GROUP BY doc_id
    """,
)
def docs_bloom_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Bloom-filter decontamination screen, built and probed
    entirely in DataFrame algebra, with per-doc false-positive accounting
    against the exact set.

    BUILD: the eval source's distinct shingles each set BLOOM_K bit
    positions (Carter-Wegman h1 + j*h2 from one md5 — the same family as
    the MinHash permutations); a groupBy(word_idx) ``bit_or`` folds them
    into <=4096 32-bit words. The agg is map-side combinable, so the
    build is one linear pass however large the eval set.

    PROBE: training shingles re-derive their positions map-side and
    left-join the BROADCAST bitmap; a gram is bloom-positive iff all K
    bits are set (min over bit flags). Bloom-positive is a strict
    superset of exact membership (no false negatives — locked by pytest);
    n_false_pos measures the m/n-dependent FP mass. At 100 TB the exact
    join here is replaced by sampling; the screen itself stays O(m)
    memory — the reason production decontamination uses Bloom filters at
    all.

    r8: grams travel as 60-bit fingerprints through the one distinct
    exchange (the oracle applies the identical transform — n_grams and
    exact hits become fingerprint-distinct on both engines, the dup-span
    trade), and the probe is BLOOM_K broadcast bitmap joins, fully
    map-side — the old shape re-shuffled the gram stream a second time
    through a groupBy just to AND the K bit flags.
    """
    d = table(spark, sf_dir, "documents")
    # r8c: per-doc-distinct rows explode from the map-side arrays — the
    # gram-volume distinct exchange is gone (see _distinct_sk_rows)
    tagged = _distinct_sk_rows(d, carry=("source",))
    bloom = bloom_bitmap(tagged.where(F.col("source") == DECON_EVAL_SOURCE))
    per_gram = bloom_gram_flags(
        tagged.where(F.col("source") != DECON_EVAL_SOURCE), bloom
    )
    eval_s = (
        tagged.where(F.col("source") == DECON_EVAL_SOURCE)
        .select("sk")
        .distinct()
        .withColumn("exact_hit", F.lit(True))
    )
    flagged = per_gram.join(F.broadcast(eval_s), "sk", "left")
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.count(F.when(F.col("bloom_pos"), 1)).alias("n_bloom_hits"),
        F.count(F.when(F.col("exact_hit"), 1)).alias("n_exact_hits"),
        F.count(F.when(F.col("bloom_pos") & ~F.coalesce(F.col("exact_hit"), F.lit(False)), 1))
        .alias("n_false_pos"),
    )


# ---------------------------------------------------------------------------
# 6. Count-Min sketch term frequencies with overestimate accounting
# ---------------------------------------------------------------------------

CMS_D = 3  # hash rows: bucket_j = (h1 + j*h2) mod CMS_W
CMS_W = 64  # buckets per row — deliberately small so the testdata corpus
# (vocabulary ~30 terms) actually exhibits collisions and the
# overestimate column is non-trivially exercised; production sizing is
# W = ceil(e / eps) (e.g. 2^20 for eps ~ 2.6e-6), which only changes
# this literal. The sketch is (D x W) counters however large the corpus.
CMS_TOP_N = 20

_SQL_CMS_BUCKETS = "\n      UNION ALL\n".join(
    f"      SELECT {j} AS row_j, ((h1 + {j} * h2) % {CMS_W}) AS bucket"
    f" FROM halves"
    for j in range(CMS_D)
)

_SQL_CMS_TOP_BUCKETS = "\n      UNION ALL\n".join(
    f"      SELECT t, exact_count, {j} AS row_j,"
    f" ((h1 + {j} * h2) % {CMS_W}) AS bucket FROM top_h"
    for j in range(CMS_D)
)


def cms_sketch(toks: DataFrame) -> DataFrame:
    """(row_j, bucket, cnt) Count-Min counters over a token frame's
    ``t`` column — a mergeable build (two sketches merge by summing
    counters on (row_j, bucket))."""
    m = F.md5(F.col("t"))
    halves = toks.select(
        F.conv(F.substring(m, 1, 8), 16, 10).cast("long").alias("h1"),
        F.conv(F.substring(m, 9, 8), 16, 10).cast("long").alias("h2"),
    )
    buckets = halves.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("row_j"),
                        ((F.col("h1") + j * F.col("h2")) % CMS_W).alias("bucket"),
                    )
                    for j in range(CMS_D)
                ]
            )
        ).alias("rb")
    ).select("rb.row_j", "rb.bucket")
    return buckets.groupBy("row_j", "bucket").agg(F.count(F.lit(1)).alias("cnt"))


@register(
    "docs_cms_term_freq",
    oracle=f"""
    WITH toks AS (
      SELECT unnest(string_split(trim(text), ' ')) AS t FROM documents
    ), halves AS (
      SELECT CAST(CAST('0x' || substr(md5(t), 1, 8) AS UINTEGER) AS BIGINT) AS h1,
             CAST(CAST('0x' || substr(md5(t), 9, 8) AS UINTEGER) AS BIGINT) AS h2
      FROM toks
    ), buckets AS (
{_SQL_CMS_BUCKETS}
    ), sketch AS (
      SELECT row_j, bucket, count(*) AS cnt FROM buckets GROUP BY row_j, bucket
    ), tf AS (
      SELECT t, count(*) AS exact_count FROM toks GROUP BY t
    ), top AS (
      SELECT t, exact_count FROM tf
      ORDER BY exact_count DESC, t LIMIT {CMS_TOP_N}
    ), top_h AS (
      SELECT t, exact_count,
             CAST(CAST('0x' || substr(md5(t), 1, 8) AS UINTEGER) AS BIGINT) AS h1,
             CAST(CAST('0x' || substr(md5(t), 9, 8) AS UINTEGER) AS BIGINT) AS h2
      FROM top
    ), top_buckets AS (
{_SQL_CMS_TOP_BUCKETS}
    ), est AS (
      SELECT tb.t, tb.exact_count, min(s.cnt) AS cms_estimate
      FROM top_buckets tb JOIN sketch s
        ON s.row_j = tb.row_j AND s.bucket = tb.bucket
      GROUP BY tb.t, tb.exact_count
    )
    SELECT t AS token, exact_count, cms_estimate,
           cms_estimate - exact_count AS overestimate
    FROM est
    """,
)
def docs_cms_term_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch over the corpus token stream, read back for the
    exact top-20 terms with the per-term overestimate (CMS never
    underestimates — locked by pytest).

    Scale shape: the sketch build is ONE groupBy over (row, bucket) —
    D x W counters total, map-side combinable and mergeable across
    shards (the sketch property that matters in a streaming/sharded
    pipeline; same Carter-Wegman hash family as the MinHash and Bloom
    stages). The exact-count side exists only to ground the accuracy
    report; a production pipeline keeps the sketch and drops the exact
    pass. Probing joins the top terms' D bucket keys against the
    broadcast sketch."""
    d = table(spark, sf_dir, "documents")
    toks = d.select(F.explode(_tokens(F.col("text"))).alias("t"))
    sketch = cms_sketch(toks)
    tf = toks.groupBy("t").agg(F.count(F.lit(1)).alias("exact_count"))
    top = tf.orderBy(F.desc("exact_count"), F.asc("t")).limit(CMS_TOP_N)
    top_buckets = top.select(
        "t",
        "exact_count",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("row_j"),
                        (
                            (
                                F.conv(F.substring(F.md5(F.col("t")), 1, 8), 16, 10)
                                .cast("long")
                                + j
                                * F.conv(
                                    F.substring(F.md5(F.col("t")), 9, 8), 16, 10
                                ).cast("long")
                            )
                            % CMS_W
                        ).alias("bucket"),
                    )
                    for j in range(CMS_D)
                ]
            )
        ).alias("rb"),
    ).select("t", "exact_count", "rb.row_j", "rb.bucket")
    est = (
        top_buckets.join(F.broadcast(sketch), ["row_j", "bucket"])
        .groupBy("t", "exact_count")
        .agg(F.min("cnt").alias("cms_estimate"))
    )
    return est.select(
        F.col("t").alias("token"),
        "exact_count",
        "cms_estimate",
        (F.col("cms_estimate") - F.col("exact_count")).alias("overestimate"),
    )


# ---------------------------------------------------------------------------
# 7. Dedup funnel report: survivors after each dedup stage
# ---------------------------------------------------------------------------


def _funnel_oracle() -> str:
    from .scale_suite import _SQL_COMPONENT_CTES

    return f"""{_SQL_COMPONENT_CTES}
    SELECT 0 AS stage_idx, 'raw' AS stage,
           CAST(count(*) AS BIGINT) AS n_docs FROM documents
    UNION ALL
    SELECT 1, 'exact_dedup', CAST(count(DISTINCT md5(text)) AS BIGINT)
    FROM documents
    UNION ALL
    SELECT 2, 'near_dedup', CAST(count(DISTINCT component) AS BIGINT) FROM comp
    """


@register("dedup_funnel_report", oracle=_funnel_oracle())
def dedup_funnel_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus curator's one-glance funnel: documents surviving each
    dedup stage — raw, exact (distinct raw-text digest), near-dup
    (distinct MinHash-verified connected component). Exact copies share
    shingle sets, so components subsume exact groups and the funnel is
    monotone by construction (locked by pytest). Three scalar aggregates
    UNION ALLed — each stage reuses the shipped pipeline stage, so this
    report can never drift from what the dedup actually does."""
    d = table(spark, sf_dir, "documents")
    from .scale_suite import dedup_components

    n_raw = d.agg(F.count(F.lit(1)).alias("n"))
    n_exact = d.select(F.md5("text").alias("h")).agg(
        F.count_distinct("h").alias("n")
    )
    n_near = (
        dedup_components(spark, sf_dir)
        .agg(F.count_distinct("component").alias("n"))
    )
    stages = [
        n_raw.select(F.lit(0).alias("stage_idx"), F.lit("raw").alias("stage"), "n"),
        n_exact.select(
            F.lit(1).alias("stage_idx"), F.lit("exact_dedup").alias("stage"), "n"
        ),
        n_near.select(
            F.lit(2).alias("stage_idx"), F.lit("near_dedup").alias("stage"), "n"
        ),
    ]
    out = stages[0]
    for s in stages[1:]:
        out = out.unionByName(s)
    return out.select("stage_idx", "stage", F.col("n").cast("long").alias("n_docs"))


# ---------------------------------------------------------------------------
# 8. Continuation pairs: doc A's suffix == doc B's prefix
# ---------------------------------------------------------------------------

CONT_K = 3  # boundary width in tokens


@register(
    "docs_continuation_pairs",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, string_split(trim(text), ' ') AS toks FROM documents
    ), fp AS (
      SELECT doc_id,
             array_to_string(toks[1:{CONT_K}], ' ') AS prefix,
             array_to_string(toks[len(toks)-{CONT_K - 1}:len(toks)], ' ') AS suffix
      FROM t WHERE len(toks) >= {2 * CONT_K}
    )
    SELECT a.doc_id AS prev_doc, b.doc_id AS next_doc, a.suffix AS bridge
    FROM fp a JOIN fp b ON a.suffix = b.prefix AND a.doc_id <> b.doc_id
    """,
)
def docs_continuation_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-stitching candidates: pairs where one doc's last CONT_K
    tokens equal another's first CONT_K — the signature of a single
    source document split across extraction shards (the re-join pass a
    crawl pipeline runs before dedup, so half-docs don't defeat exact
    hashing). One equi-join on the boundary string; skew is bounded by
    boundary-gram frequency and a df-cap like the shingle stop list
    applies unchanged if a boilerplate boundary ever dominates."""
    d = table(spark, sf_dir, "documents")
    toks = d.select("doc_id", _tokens(F.col("text")).alias("toks")).where(
        F.size("toks") >= 2 * CONT_K
    )
    fp = toks.select(
        "doc_id",
        F.array_join(F.slice(F.col("toks"), 1, CONT_K), " ").alias("prefix"),
        F.array_join(F.slice(F.col("toks"), -CONT_K, CONT_K), " ").alias("suffix"),
    )
    a, b = fp.alias("a"), fp.alias("b")
    return a.join(
        b,
        (F.col("a.suffix") == F.col("b.prefix"))
        & (F.col("a.doc_id") != F.col("b.doc_id")),
    ).select(
        F.col("a.doc_id").alias("prev_doc"),
        F.col("b.doc_id").alias("next_doc"),
        F.col("a.suffix").alias("bridge"),
    )


# ---------------------------------------------------------------------------
# 9. Deterministic per-epoch shuffle order (the dataloader shuffle)
# ---------------------------------------------------------------------------

EPOCHS = 3


def epoch_shuffle_positions(
    doc_ids: DataFrame, n_epochs: int, *, prefix_width: int | None = None
) -> DataFrame:
    """(doc_id, epoch, position): reproducible per-epoch shuffle order by
    md5(epoch:doc_id), computed WITHOUT a per-epoch global sort. The
    rank decomposes over the key's own hex prefix (a strict order
    prefix of the full key, uniform buckets), so the only sorts are
    within (epoch, bucket) — ~target_bucket_rows per task — and over
    the per-bucket counts per epoch
    (`operators.windows.bucketed_running_sum`). The prefix width is
    derived from a cheap corpus row count via
    :func:`operators.windows.hex_prefix_width` (target ~4096 rows per
    bucket, min 16 buckets) unless ``prefix_width`` pins it — width
    keeps per-task sorts ~constant at any corpus size (a ~3% local
    effect; see the r6 probe in SCALE.md). Bit-identical to
    ``row_number() OVER (PARTITION BY epoch ORDER BY key)`` at ANY
    width."""
    from ..operators.windows import bucketed_running_sum, hex_prefix_width

    if prefix_width is None:
        # One map-side-combinable count job over the id column; trivial
        # next to the shuffle it sizes.
        prefix_width = hex_prefix_width(doc_ids.count())
    epochs = doc_ids.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(n_epochs - 1))).alias("epoch"),
    )
    key = F.md5(
        F.concat(
            F.col("epoch").cast("string"), F.lit(":"), F.col("doc_id").cast("string")
        )
    )
    keyed = epochs.withColumn("k", key)
    bucket = F.conv(F.substring(F.col("k"), 1, prefix_width), 16, 10).cast("long")
    ranked = bucketed_running_sum(
        keyed,
        part_cols=["epoch"],
        bucket=bucket,
        order_cols=["k"],
        value=F.lit(1),
        out_col="position",
    )
    return ranked.select(
        "doc_id",
        F.col("epoch").cast("int").alias("epoch"),
        F.col("position").cast("long").alias("position"),
    )


@register(
    "docs_epoch_order",
    oracle=f"""
    WITH epochs AS (
      SELECT doc_id, unnest(range({EPOCHS})) AS epoch FROM documents
    )
    SELECT doc_id, CAST(epoch AS INT) AS epoch,
           CAST(row_number() OVER (
             PARTITION BY epoch
             ORDER BY md5(CAST(epoch AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR))
           ) AS BIGINT) AS position
    FROM epochs
    """,
)
def docs_epoch_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible training-epoch shuffle: each epoch orders the corpus
    by md5(epoch:doc_id) — a different, deterministic permutation per
    epoch with no rand() (so any worker can recompute any epoch's order
    from the ids alone; the content-addressed property every resumable
    dataloader needs). The rank itself is computed by the bucketed
    decomposition in :func:`epoch_shuffle_positions` — no single task
    ever sorts a whole epoch (the r5 scale-audit fix; previously a
    3-key epoch window sorted the entire corpus per epoch). The bucket
    width is sized from the parquet footer row count (r6: adaptive
    width, metadata-only — no extra Spark job), so rows-per-bucket
    stays ~4096 at any corpus size; the width itself is a ~3% local
    effect (r6 probe in SCALE.md) — the ~1.8×-vs-naive-window local
    cost is the decomposition's extra pass, accepted for the
    bounded-sort guarantee."""
    from ..operators.windows import hex_prefix_width
    from ..sources.testdata import metadata_row_count

    d = table(spark, sf_dir, "documents").select("doc_id")
    width = hex_prefix_width(metadata_row_count(sf_dir, "documents"))
    return epoch_shuffle_positions(d, EPOCHS, prefix_width=width)


# ---------------------------------------------------------------------------
# 10. BPE merge learning (iterative; rows-only — loop-carried merges are
# not expressible as one SQL statement, like the HLL sketch query)
# ---------------------------------------------------------------------------

BPE_N_MERGES = 8


@register("docs_bpe_merges", oracle=None)
def docs_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first 8 learned BPE merges over the corpus (rank, pair,
    merged symbol, weighted pair count) — see operators/bpe.py for the
    distributed recipe and the golden hand-computed pytest that stands
    in for the SQL oracle."""
    from ..operators.bpe import learn_bpe

    d = table(spark, sf_dir, "documents")
    merges = learn_bpe(d, BPE_N_MERGES)
    return spark.createDataFrame(
        [(m["rank"], m["left"], m["right"], m["merged"], m["pair_count"])
         for m in merges],
        "merge_rank int, left string, right string, merged string,"
        " pair_count long",
    )


@register(
    "docs_bpe_pair_stats",
    oracle="""
    WITH words AS (
      SELECT unnest(string_split(trim(text), ' ')) AS word FROM documents
    ), wt AS (
      SELECT word, count(*) AS n FROM words WHERE length(word) > 0 GROUP BY word
    ), syms AS (
      SELECT n, list_append(regexp_extract_all(word, '[\\s\\S]'), '</w>') AS s
      FROM wt
    ), pairs AS (
      SELECT s[i] AS a, s[i + 1] AS b, n
      FROM syms, LATERAL (SELECT unnest(range(1, len(s))) AS i) r
    )
    SELECT a AS left_sym, b AS right_sym,
           CAST(sum(n) AS BIGINT) AS pair_count
    FROM pairs GROUP BY 1, 2
    """,
)
def docs_bpe_pair_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-checkable exact twin of docs_bpe_merges' FIRST iteration
    (VERDICT r8 next-round #5): the full weighted adjacent-symbol pair
    table over initial character+</w> sequences — exactly what
    operators/bpe.py's word_types + _pair_rows feed the arg-max of
    merge 1. The iterative loop itself stays rows-only (loop-carried
    merges are not one SQL statement; the golden pytest covers it),
    but this pins the distributed machinery under the loop — corpus
    word-type collapse, symbol split, weighted pair explode — against
    a full SQL oracle. Output is the whole pair table (vocabulary-
    bounded), so arg-max tie-breaking never enters the comparison."""
    from ..operators.bpe import _pair_rows, word_types

    d = table(spark, sf_dir, "documents")
    return (
        _pair_rows(word_types(d))
        .groupBy("a", "b")
        .agg(F.sum("n").alias("pair_count"))
        .select(
            F.col("a").alias("left_sym"),
            F.col("b").alias("right_sym"),
            "pair_count",
        )
    )


# ---------------------------------------------------------------------------
# 11. Normalization dedup gain + tokenizer fertility panels
# ---------------------------------------------------------------------------


@register(
    "docs_normalization_gain",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_raw_groups,
           CAST(count(DISTINCT md5(
             regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')))
             AS BIGINT) AS n_norm_groups
    FROM documents
    """,
)
def docs_normalization_gain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How many extra exact-dup groups text normalization (lower, trim,
    whitespace collapse) merges: raw-digest groups vs normalized-digest
    groups in one scan. The delta is the dedup recall a pipeline gives
    up by hashing raw bytes — the one-row report behind choosing the
    docs_exact_dedup normalization."""
    d = table(spark, sf_dir, "documents")
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), "\\s+", " ")
    return d.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_distinct(F.md5("text")).alias("n_raw_groups"),
        F.count_distinct(F.md5(norm)).alias("n_norm_groups"),
    )


@register(
    "docs_tokenizer_fertility",
    oracle=f"""
    WITH per_doc AS (
      SELECT lang,
             len(string_split(trim(text), ' ')) AS n_tokens,
             n_chars
      FROM documents
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           {sql_dround('sum(n_chars) * 1.0 / sum(n_tokens)', 4)}
             AS chars_per_token,
           {sql_dround('sum(n_tokens) * 1.0 / count(*)', 4)}
             AS tokens_per_doc
    FROM per_doc GROUP BY lang
    """,
)
def docs_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language tokenizer fertility panel: characters per token and
    tokens per document — the compression-rate numbers a vocabulary
    planner compares across languages before sizing a multilingual mix
    (languages with poor fertility burn budget). Integer sums + one
    rounded ratio; single hash agg."""
    d = table(spark, sf_dir, "documents")
    per = d.select("lang", _n_tokens(F.col("text")).alias("n_tokens"), "n_chars")
    return per.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        dround(F.sum("n_chars") * 1.0 / F.sum("n_tokens"), 4).alias(
            "chars_per_token"
        ),
        dround(F.sum("n_tokens") * 1.0 / F.count(F.lit(1)), 4).alias(
            "tokens_per_doc"
        ),
    )


# ---------------------------------------------------------------------------
# 12. Duplication vs quality: does near-duplication correlate with the
# quality model? The panel a curator checks before assuming dedup and
# quality filtering are independent passes.
# ---------------------------------------------------------------------------


def _dup_quality_oracle() -> str:
    from .scale_suite import _SQL_COMPONENT_CTES

    return f"""{_SQL_COMPONENT_CTES}, {_SQL_QC_SCORED},
    csizes AS (
      SELECT component, count(*) AS cluster_size FROM comp GROUP BY component
    )
    SELECT CASE WHEN s.cluster_size >= 3 THEN '3+'
                ELSE CAST(s.cluster_size AS VARCHAR) END AS size_bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           {sql_davg('q.quality_score', 6)} AS mean_quality
    FROM comp c
    JOIN csizes s ON s.component = c.component
    JOIN scored q ON q.doc_id = c.doc_id
    GROUP BY 1
    """


@register("dedup_quality_by_cluster_size", oracle=_dup_quality_oracle())
def dedup_quality_by_cluster_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean model-quality score by near-dup cluster size (1 / 2 / 3+):
    on real web corpora duplicated documents skew toward boilerplate, so
    this panel justifies (or refutes) running dedup before the quality
    gate. Composes the shipped component labels with the shipped
    classifier — both already verified — plus one join and one agg; the
    mean routes through the decimal sum so bucket means are
    partition-order-independent."""
    from .scale_suite import dedup_components

    comp = dedup_components(spark, sf_dir).select("doc_id", "component")
    sizes = comp.groupBy("component").agg(F.count(F.lit(1)).alias("cluster_size"))
    q = docs_quality_classifier(spark, sf_dir).select("doc_id", "quality_score")
    joined = comp.join(sizes, "component").join(q, "doc_id")
    bucket = F.when(F.col("cluster_size") >= 3, "3+").otherwise(
        F.col("cluster_size").cast("string")
    )
    return joined.groupBy(bucket.alias("size_bucket")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        davg(F.col("quality_score"), 6).alias("mean_quality"),
    )


# ---------------------------------------------------------------------------
# 13. Token-distribution entropy per document
# ---------------------------------------------------------------------------


@register(
    "docs_token_entropy",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(trim(text), ' ')) AS t FROM documents
    ), tf AS (
      SELECT doc_id, t, count(*) AS c FROM toks GROUP BY doc_id, t
    ), tot AS (
      SELECT doc_id, CAST(sum(c) AS BIGINT) AS n FROM tf GROUP BY doc_id
    ), terms AS (
      SELECT tf.doc_id, tot.n,
             -(tf.c * 1.0 / tot.n) * ln(tf.c * 1.0 / tot.n) AS term
      FROM tf JOIN tot ON tot.doc_id = tf.doc_id
    )
    SELECT doc_id,
           CAST(max(n) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS n_distinct,
           {sql_dround(
               "CAST(sum(CAST(CAST(term AS VARCHAR) AS DECIMAL(28,10))) AS DOUBLE)",
               6)} AS entropy_nats
    FROM terms GROUP BY doc_id
    """,
)
def docs_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy (nats) of each document's token distribution —
    the lexical-diversity signal next to the unique-token ratio: spun or
    templated text collapses entropy long before it collapses length.
    Each -p·ln p term is a deterministic function of two integers; the
    per-doc sum routes through DECIMAL so partial-aggregation order
    cannot move the hash. One tf groupBy + one doc groupBy."""
    d = table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(_tokens(F.col("text"))).alias("t"))
    tf = toks.groupBy("doc_id", "t").agg(F.count(F.lit(1)).alias("c"))
    from pyspark.sql import Window

    tot_w = Window.partitionBy("doc_id")
    p = F.col("c") * 1.0 / F.col("n")
    terms = tf.withColumn("n", F.sum("c").over(tot_w)).withColumn(
        "term", -p * F.log(p)
    )
    return terms.groupBy("doc_id").agg(
        F.max("n").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct"),
        dround(
            F.sum(F.col("term").cast("string").cast("decimal(28,10)")).cast(
                "double"
            ),
            6,
        ).alias("entropy_nats"),
    )


# ---------------------------------------------------------------------------
# 14. Character-trigram profile per language + traffic heatmap
# ---------------------------------------------------------------------------

CHAR_NGRAM_TOP = 10


@register(
    "docs_char_trigram_profile",
    oracle=f"""
    WITH chars AS (
      SELECT lang, lower(regexp_replace(text, '\\s+', ' ', 'g')) AS t
      FROM documents
    ), grams_raw AS (
      SELECT lang,
             unnest(list_transform(range(1, greatest(length(t) - 1, 1)),
                                   i -> substr(t, i, 3))) AS g
      FROM chars WHERE length(t) >= 3
    ), counts AS (
      SELECT lang, g, count(*) AS n FROM grams_raw GROUP BY lang, g
    ), ranked AS (
      SELECT lang, g, n,
             row_number() OVER (PARTITION BY lang ORDER BY n DESC, g) AS rk
      FROM counts
    )
    SELECT lang, CAST(rk AS INT) AS rank, g AS trigram, CAST(n AS BIGINT) AS n
    FROM ranked WHERE rk <= {CHAR_NGRAM_TOP}
    """,
)
def docs_char_trigram_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top character trigrams per language — the feature table a cheap
    n-gram language identifier is built from (the docs_lang_id
    heuristic's training-side companion). Whitespace-collapsed
    lowercased text, explode+substr trigrams (shuffle-free generation,
    same shape as the token-gram builder), one hash agg, one bounded
    window with (count desc, gram asc) deterministic ranking."""
    d = table(spark, sf_dir, "documents")
    t = F.lower(F.regexp_replace(F.col("text"), "\\s+", " "))
    chars = d.select("lang", t.alias("t")).where(F.length("t") >= 3)
    grams = chars.select(
        "lang",
        F.explode(
            F.expr("transform(sequence(1, greatest(length(t) - 2, 1)),"
                   " i -> substr(t, i, 3))")
        ).alias("g"),
    )
    counts = grams.groupBy("lang", "g").agg(F.count(F.lit(1)).alias("n"))
    from pyspark.sql import Window

    w = Window.partitionBy("lang").orderBy(F.desc("n"), F.asc("g"))
    return (
        counts.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= CHAR_NGRAM_TOP)
        .select("lang", "rank", F.col("g").alias("trigram"), "n")
    )


@register(
    "events_dow_hour_heatmap",
    oracle="""
    -- DuckDB dayofweek is 0=Sunday..6; Spark's is 1=Sunday..7
    SELECT CAST(dayofweek(ts) + 1 AS INT) AS dow,
           CAST(date_part('hour', ts) AS INT) AS hour,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events GROUP BY 1, 2
    """,
)
def events_dow_hour_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week x hour traffic heatmap (event + distinct-user
    counts) — the capacity-planning view; 168 output cells regardless
    of log size, one hash agg. dayofweek is 1=Sunday on both engines
    under the pinned UTC session."""
    e = table(spark, sf_dir, "events")
    return e.groupBy(
        F.dayofweek("ts").cast("int").alias("dow"),
        F.hour("ts").cast("int").alias("hour"),
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count_distinct("user_id").alias("n_users"),
    )
