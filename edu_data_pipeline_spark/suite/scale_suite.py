"""Large-scale training-data-pipeline operators: dedup, ANN, text analysis.

These extend the reference surface per the BASELINE north star; each is a
first-class queries() entry on the documents/embeddings tables.

Scale design notes:
- Exact dedup / fingerprints: hash-groupBy — one shuffle on the digest,
  map-side combine; at 100 TB this is the canonical content-addressed
  dedup pass.
- MinHash: md5-per-(shingle,seed) minimum — md5 is identical in Spark and
  DuckDB, so even the LSH banding is oracle-checkable. Signatures are one
  explode + hash-agg; banding turns the O(n²) pair search into an
  equi-join on band keys (the scale path). The brute-force n-gram Jaccard
  pair query is the small-scale ground truth next to it.
- SimHash: full 64-bit Manku fingerprint as 4 x 16-bit words (per-bit
  conditional sums stay native columns); the words double as lossless
  LSH bands for the hamming<=3 near-pair join.
- ANN: brute-force cosine top-k is the correctness baseline (rank on the
  raw double, round only for output); the banded/label-partitioned
  variants are the scale path.
"""

from __future__ import annotations

import functools as _functools

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.testdata import table
from . import (
    davg,
    dround,
    dsum,
    persist_tracked,
    register,
    sql_davg,
    sql_dround,
    sql_dsum,
)

STOPWORDS = ("the", "a")

# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


def _tokens(col: Column) -> Column:
    return F.split(F.trim(col), " ")


def _n_tokens(col: Column) -> Column:
    """NULL-safe whitespace token count (r14 fuzz find): under the
    suite's ansi-off runtime ``size(NULL)`` is **-1**, so an unguarded
    ``size(split(trim(text), ' '))`` hands every NULL-text document a
    token count of -1 — which then perturbs sums, quantiles, running
    budgets and CASE buckets — while the DuckDB oracles'
    ``len(string_split(trim(text), ' '))`` is NULL and rides every
    aggregate inertly. The guard restores the oracle semantics; sites
    where -1 only feeds a ``>= k`` FILTER (funnel, dup-spans, gram
    builders) are left unguarded on purpose — both engines drop the
    row and the filter stays a cheap null-intolerant predicate."""
    return F.when(col.isNotNull(), F.size(_tokens(col)))


@register(
    "docs_text_stats",
    oracle="""
    WITH toks AS (
      SELECT doc_id, n_chars, string_split(trim(text), ' ') AS tokens FROM documents
    ), stats AS (
      SELECT doc_id, n_chars,
             len(tokens) AS n_tokens,
             len(list_filter(tokens, t -> t IN ('the', 'a'))) AS n_stopwords,
             len(list_filter(tokens, t -> length(t) >= 6)) AS n_long_tokens
      FROM toks
    )
    SELECT doc_id, n_chars, n_tokens, n_stopwords,
           round(n_stopwords * 1.0 / greatest(n_tokens, 1), 4) AS stopword_ratio,
           round(n_long_tokens * 1.0 / greatest(n_tokens, 1), 4) AS long_token_ratio,
           CASE WHEN n_tokens < 20 THEN 'short'
                WHEN n_stopwords * 1.0 / greatest(n_tokens, 1) > 0.15 THEN 'boilerplate'
                ELSE 'ok' END AS quality_bucket
    FROM stats
    """,
)
def docs_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    tokens = _tokens(F.col("text"))
    nn = F.col("text").isNotNull()  # see _n_tokens: ansi-off size(NULL) = -1
    stats = d.select(
        "doc_id",
        "n_chars",
        F.when(nn, F.size(tokens)).alias("n_tokens"),
        F.when(nn, F.size(F.filter(tokens, lambda t: t.isin(*STOPWORDS)))).alias(
            "n_stopwords"
        ),
        F.when(nn, F.size(F.filter(tokens, lambda t: F.length(t) >= 6))).alias(
            "n_long_tokens"
        ),
    )
    stop_ratio = F.col("n_stopwords") * 1.0 / F.greatest(F.col("n_tokens"), F.lit(1))
    long_ratio = F.col("n_long_tokens") * 1.0 / F.greatest(F.col("n_tokens"), F.lit(1))
    return stats.select(
        "doc_id",
        "n_chars",
        "n_tokens",
        "n_stopwords",
        F.round(stop_ratio, 4).alias("stopword_ratio"),
        F.round(long_ratio, 4).alias("long_token_ratio"),
        F.when(F.col("n_tokens") < 20, "short")
        .when(stop_ratio > 0.15, "boilerplate")
        .otherwise("ok")
        .alias("quality_bucket"),
    )


# PII scrubbing: the corpus is synthetic word-salad with no PII, so the
# query plants deterministic email/phone strings first (the same
# dirty-value-synthesis pattern the cleaning suite uses), then redacts.
_EMAIL_RX = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_PHONE_RX = "\\+?[0-9]{10,}"


@register(
    "docs_pii_scrub",
    oracle=f"""
    WITH seeded AS (
      SELECT doc_id,
             text || CASE doc_id % 3
               WHEN 0 THEN ' contact user' || doc_id || '@example.com now'
               WHEN 1 THEN ' call +91987654' || format('{{:04d}}', doc_id % 10000) || ' now'
               ELSE '' END AS base
      FROM documents
    )
    SELECT doc_id,
           len(regexp_extract_all(base, '{_EMAIL_RX}')) AS n_emails,
           len(regexp_extract_all(base, '{_PHONE_RX}')) AS n_phones,
           md5(regexp_replace(regexp_replace(base, '{_EMAIL_RX}', '<EMAIL>', 'g'),
                              '{_PHONE_RX}', '<PHONE>', 'g')) AS scrubbed_fp,
           length(regexp_replace(regexp_replace(base, '{_EMAIL_RX}', '<EMAIL>', 'g'),
                                 '{_PHONE_RX}', '<PHONE>', 'g')) AS scrubbed_len
    FROM seeded
    """,
)
def docs_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction over the documents table: emails and long digit runs
    are replaced with typed placeholders, with per-doc redaction counts —
    the standard pre-training scrub pass. Pure regexp_replace /
    regexp_extract_all, JVM-side, embarrassingly parallel; output carries
    an md5 fingerprint of the scrubbed text so the oracle hash check
    covers the full redacted content without shipping long strings."""
    d = table(spark, sf_dir, "documents")
    k = F.col("doc_id")
    base = F.concat(
        F.col("text"),
        F.when(
            k % 3 == 0,
            F.concat(F.lit(" contact user"), k.cast("string"), F.lit("@example.com now")),
        )
        .when(
            k % 3 == 1,
            F.concat(
                F.lit(" call +91987654"),
                F.lpad((k % 10000).cast("string"), 4, "0"),
                F.lit(" now"),
            ),
        )
        .otherwise(F.lit("")),
    )
    scrubbed = F.regexp_replace(
        F.regexp_replace(base, _EMAIL_RX, "<EMAIL>"), _PHONE_RX, "<PHONE>"
    )
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all(base, F.lit(_EMAIL_RX), F.lit(0))).alias("n_emails"),
        F.size(F.regexp_extract_all(base, F.lit(_PHONE_RX), F.lit(0))).alias("n_phones"),
        F.md5(scrubbed).alias("scrubbed_fp"),
        F.length(scrubbed).alias("scrubbed_len"),
    )


# Shared lang-guess CTE chain: ONE statement of the stopword lists and
# the tie-break CASE, interpolated into both the per-doc query and the
# confusion matrix so the two oracles can never drift apart.
_SQL_LANG_GUESS = """
    WITH toks AS (
      SELECT doc_id, lang, string_split(trim(text), ' ') AS tokens FROM documents
    ), scores AS (
      SELECT doc_id, lang,
             len(list_filter(tokens, t -> t IN ('the', 'a', 'and'))) AS en_hits,
             len(list_filter(tokens, t -> t IN ('der', 'und', 'die'))) AS de_hits,
             len(list_filter(tokens, t -> t IN ('le', 'la', 'et')))   AS fr_hits,
             len(list_filter(tokens, t -> t IN ('el', 'los', 'y')))   AS es_hits
      FROM toks
    ), guessed AS (
      SELECT doc_id, lang,
             CASE WHEN greatest(en_hits, de_hits, fr_hits, es_hits) = 0 THEN 'unknown'
                  WHEN en_hits >= greatest(de_hits, fr_hits, es_hits) THEN 'en'
                  WHEN de_hits >= greatest(fr_hits, es_hits) THEN 'de'
                  WHEN fr_hits >= es_hits THEN 'fr'
                  ELSE 'es' END AS guessed_lang
      FROM scores
    )
"""


@register(
    "docs_lang_id",
    oracle=f"""{_SQL_LANG_GUESS}
    SELECT doc_id, lang, guessed_lang,
           guessed_lang = lang AS agrees_with_label
    FROM guessed
    """,
)
def docs_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    tokens = _tokens(F.col("text"))

    def hits(words: tuple[str, ...]) -> Column:
        return F.size(F.filter(tokens, lambda t: t.isin(*words)))

    scored = d.select(
        "doc_id",
        "lang",
        hits(("the", "a", "and")).alias("en_hits"),
        hits(("der", "und", "die")).alias("de_hits"),
        hits(("le", "la", "et")).alias("fr_hits"),
        hits(("el", "los", "y")).alias("es_hits"),
    )
    top = F.greatest("en_hits", "de_hits", "fr_hits", "es_hits")
    guess = (
        F.when(top == 0, "unknown")
        .when(F.col("en_hits") >= F.greatest("de_hits", "fr_hits", "es_hits"), "en")
        .when(F.col("de_hits") >= F.greatest("fr_hits", "es_hits"), "de")
        .when(F.col("fr_hits") >= F.col("es_hits"), "fr")
        .otherwise("es")
    )
    return scored.select(
        "doc_id",
        "lang",
        guess.alias("guessed_lang"),
        (guess == F.col("lang")).alias("agrees_with_label"),
    )


# ---------------------------------------------------------------------------
# Exact dedup + fingerprints (content-addressed hashing)
# ---------------------------------------------------------------------------

_NORM = "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')"


@register(
    "docs_exact_dedup",
    oracle=f"""
    WITH hashed AS (
      SELECT doc_id, md5({_NORM}) AS content_hash FROM documents
    )
    SELECT content_hash,
           min(doc_id) AS keep_doc_id,
           count(*)    AS n_copies,
           count(*) > 1 AS is_duplicated
    FROM hashed GROUP BY content_hash
    """,
)
def docs_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), "\\s+", " ")
    return (
        d.select("doc_id", F.md5(norm).alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
            (F.count(F.lit(1)) > 1).alias("is_duplicated"),
        )
    )


@register(
    "docs_fingerprints",
    oracle=f"""
    SELECT doc_id,
           md5({_NORM}) AS content_fp,
           md5(substr({_NORM}, 1, 64)) AS prefix_fp,
           length({_NORM}) AS norm_len
    FROM documents
    """,
)
def docs_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), "\\s+", " ")
    return d.select(
        "doc_id",
        F.md5(norm).alias("content_fp"),
        F.md5(F.substring(norm, 1, 64)).alias("prefix_fp"),
        F.length(norm).alias("norm_len"),
    )


# ---------------------------------------------------------------------------
# Near-dup: word-3-gram shingles
# ---------------------------------------------------------------------------

_SQL_SHINGLES = """
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(string_split(trim(text), ' ')) - 1, 1)),
               i -> string_split(trim(text), ' ')[i] || ' '
                    || string_split(trim(text), ' ')[i+1] || ' '
                    || string_split(trim(text), ' ')[i+2])) AS shingles
      FROM documents
"""


def gram_rows(
    d: DataFrame, k: int, out: str = "s", carry: tuple[str, ...] = ()
) -> DataFrame:
    """(doc_id, [*carry,] k-token gram) rows, WITH duplicates, shuffle-free.

    ``carry`` threads extra per-document columns (e.g. ``source``)
    through the explode so consumers that need them avoid a
    gram-volume join back to the documents table — per-doc attributes
    ride the Generate for free, while a join would shuffle every gram
    row on doc_id.

    explode(start positions) + slice on the token ARRAY: the Generate
    (explode) materializes the token array once per document row, so the
    downstream slice reads a bound attribute — linear per document, no
    shuffle at all. Measured at sf0.1 this is 2.2x faster than the
    previous window+lead scheme standalone (0.16s vs 0.36s) and equal
    when a per-doc aggregation follows (the agg pays the doc_id shuffle
    either way); at cluster scale it removes a full wide exchange for
    every shingle-join consumer. The per-element alternatives stay
    traps: inlining the split into per-element ``element_at`` is
    quadratic per document (Catalyst's projection-collapse re-inlines
    it), and ``array_distinct`` is O(n²) per row.

    Duplicates are kept: MinHash minima are set-invariant; set consumers
    call ``.distinct()`` (one hash shuffle, O(n log n)).
    """
    # SQL-string spelling of the identical plan (r14 build-cost cut, see
    # _halves_from_shingle_rows): split(trim(text), ' ') == _tokens.
    toks = d.selectExpr(
        "doc_id", *carry, "split(trim(text), ' ') AS toks"
    ).where(F.expr(f"size(toks) >= {k}"))
    return toks.selectExpr(
        "doc_id",
        *carry,
        f"explode(sequence(1, size(toks) - {k - 1})) AS i",
        "toks",
    ).selectExpr(
        "doc_id",
        *carry,
        f"array_join(slice(toks, i, {k}), ' ') AS {out}",
    )


def _sql_key64(col: str) -> str:
    """DuckDB twin of :func:`_gram_key64` over an arbitrary column."""
    return f"CAST(CAST('0x' || substr(md5({col}), 1, 15) AS UBIGINT) AS BIGINT)"


_SQL_GRAM_KEY64 = _sql_key64("g")


def _gram_key64(col: Column) -> Column:
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def _gram_key64_sql(expr: str) -> str:
    """Spark-SQL-string twin of :func:`_gram_key64` (r14 build-cost cut:
    SQL-string elem callbacks for the array builders; resolves to the
    identical analyzed expression). Not the DuckDB spelling — that is
    :func:`_sql_key64`."""
    return f"cast(conv(substring(md5({expr}), 1, 15), 16, 10) as bigint)"


def _token_rows(d: DataFrame, k: int, carry: tuple[str, ...] = ()) -> DataFrame:
    """(doc_id, *carry, toks) for the documents of at least ``k`` tokens:
    the array builders' token barrier. explode(array(...)) binds the
    split array behind a Generate, so Catalyst's projection collapse can
    never re-inline the split per element above it (the gram_rows trap).
    ``size >= k`` also drops NULL text on both ANSI settings (size(NULL)
    is -1 with ANSI off, NULL with it on)."""
    return d.selectExpr(
        "doc_id", *carry, "explode(array(split(trim(text), ' '))) AS toks"
    ).where(F.expr(f"size(toks) >= {k}"))


def _sql_gram_array(k: int, elem) -> str:
    """Spark-SQL array of a bound ``toks`` row's k-grams, in position
    order, each mapped through ``elem`` (a gram-SQL-string ->
    element-SQL-string function that must not bind a lambda ``i``; r14 —
    the Column-callback form cost ~145 ms of py4j round trips per plan
    build)."""
    gram = elem(f"array_join(slice(toks, i, {k}), ' ')")
    return f"transform(sequence(1, size(toks) - {k - 1}), i -> {gram})"


def _gram_key_arrays(d: DataFrame, k: int) -> DataFrame:
    """(doc_id, garr) — each document's per-POSITION 60-bit k-gram keys
    as ONE order-preserving array row: tokenize and md5 the corpus once,
    then persist_tracked() it and derive every leg map-side (posexplode
    -> gram instances; _distinct_sk_rows -> per-doc-distinct df rows;
    size(garr) -> gram count). The row is 8 B per token position —
    smaller than the text it replaces — so the cache is bounded by the
    input the legs would otherwise each re-scan (r15, VERDICT r14 #3)."""
    return _token_rows(d, k).selectExpr(
        "doc_id", f"explode(array({_sql_gram_array(k, _gram_key64_sql)})) AS garr"
    )


def _distinct_arrays(
    rows: DataFrame, sorted_sql: str, carry: tuple[str, ...] = ()
) -> DataFrame:
    """(doc_id, *carry, arr) — the sorted array ``sorted_sql`` (SQL over
    ``rows``' columns) bound behind a Generate barrier, then deduped by
    an adjacent-inequality filter that reads the BOUND array: O(g log g)
    CPU per doc, zero shuffle. array_distinct (O(g²) per row) stays
    banned."""
    return rows.selectExpr(
        "doc_id", *carry, f"explode(array({sorted_sql})) AS arr"
    ).selectExpr(
        "doc_id",
        *carry,
        "filter(arr, (x, i) -> i = 0 OR x != element_at(arr, i)) AS arr",
    )


def _doc_distinct_gram_arrays(
    d: DataFrame, elem=_gram_key64_sql, carry: tuple[str, ...] = (), k: int = 3
) -> DataFrame:
    """(doc_id, *carry, arr) — each document's k-grams mapped through
    ``elem`` (default: the 60-bit key), SORTED and DEDUPED, built
    entirely MAP-SIDE (r8c).

    A document's grams come from its own row, so per-doc dedup needs no
    exchange; the DataFrame spellings (``.distinct()`` / ``collect_set``)
    all shuffle the full gram volume. Two Generate barriers keep this
    linear: the token barrier, then the sorted gram array
    (_distinct_arrays). A persisted _gram_key_arrays frame gets the same
    arrays, with no second tokenize or md5, as
    ``_distinct_arrays(ga, "array_sort(garr)")``.

    The key arrays are the exact-Jaccard verify currency
    (_verify_pair_overlap); exploded (_distinct_sk_rows) they are the
    per-doc-distinct rows df counts and gram screens run on. n_sh and
    n_common are fingerprint-distinct on BOTH engines (the oracles apply
    the identical _sql_key64 transform, the dup-span trade, ~n²/2^61
    folds). One array row per document replaces the exploded (doc_id,
    sk) frame's distinct exchange, two verify equi-joins and a sizes
    aggregate: 2.9x less shuffle on minhash_verified_pairs (r8b)."""
    return _distinct_arrays(
        _token_rows(d, k, carry), f"array_sort({_sql_gram_array(k, elem)})", carry
    )


def _doc_elem_counts(
    d: DataFrame, build, out: str = "term", min_toks: int = 1
) -> DataFrame:
    """(doc_id, ``out``, cnt) — per-document element COUNTS built
    entirely MAP-SIDE (r11, VERDICT r10 #3): _doc_distinct_gram_arrays'
    sorted-array trick extended to carry run lengths, for the consumers
    that need term/gram frequencies rather than just the distinct set
    (TF-IDF tf, bigram corpus counts).

    ``build`` maps the BOUND token-array (as a SQL string; r14 — the
    Column-callback form cost ~207 ms of py4j round trips per plan
    build; ``build`` may use its own lambda variables, the enclosing
    expressions introduce ``i``/``s``/``e``/``x`` only in disjoint
    scopes) to the (unsorted) element array. The element array is
    sorted behind its own barrier and run-length encoded: run starts
    are an adjacent-inequality filter over positions, run lengths are
    positional differences to the next start. O(g log g) CPU per
    document, ZERO exchange — the per-(doc, elem) hash aggregate the
    naive explode+groupBy shape pays is gone, and downstream
    corpus-level aggregates (df, Σtf) see per-doc-distinct rows, so they
    are plain counts/sums with map-side partials (a vocabulary-bounded
    exchange).

    ``min_toks`` guards builders that need a minimum token count (k-gram
    builders produce an EMPTY array below k tokens, and
    sequence(0, -1) would descend, not return empty)."""
    arrs = _token_rows(d, min_toks).selectExpr(
        "doc_id",
        f"explode(array(array_sort({build('toks')}))) AS _arr",
    )
    runs = arrs.selectExpr(
        "doc_id",
        "_arr",
        "explode(array(filter(sequence(0, size(_arr) - 1), "
        "i -> i = 0 OR element_at(_arr, i + 1) != element_at(_arr, i)"
        "))) AS _starts",
    )
    return runs.selectExpr(
        "doc_id",
        "explode(zip_with(_starts, "
        "concat(slice(_starts, 2, size(_starts) - 1), array(size(_arr))), "
        "(s, e) -> struct(element_at(_arr, s + 1) AS elem, "
        "cast(e - s AS bigint) AS cnt))) AS _p",
    ).selectExpr("doc_id", f"_p.elem AS {out}", "_p.cnt AS cnt")


def _distinct_sk_rows(arrs: DataFrame) -> DataFrame:
    """Per-doc-distinct (doc_id, *carry, sk) 60-bit key rows with ZERO
    shuffle (r8c): the exploded ``arr`` of a _distinct_arrays frame —
    _doc_distinct_gram_arrays(d) from the documents, or
    ``_distinct_arrays(ga, "array_sort(garr)")`` from a persisted
    _gram_key_arrays frame. Drop-in for gram_rows(...).distinct()
    wherever distinctness is only needed per document — every (doc_id,
    sk)-grained consumer, since the pair is the grain."""
    carry = [c for c in arrs.columns if c != "arr"]
    return arrs.select(*carry, F.explode("arr").alias("sk"))


def _verify_pair_overlap(cand: DataFrame, fp: DataFrame) -> DataFrame:
    """Annotate candidate (doc_a, doc_b, ...) pairs with n_common /
    n_a / n_b, the exact set-overlap counts, via two equi-joins against
    the per-doc key arrays (_doc_distinct_gram_arrays) and a map-side
    array_intersect — no exchange after the joins. Zero-overlap
    candidates KEEP a row with n_common = 0 (the exploded shape's inner
    join dropped them); callers replicate the oracle's drop with
    .where(n_common > 0) or a Jaccard threshold."""
    a = fp.select(F.col("doc_id").alias("doc_a"), F.col("arr").alias("sks_a"))
    b = fp.select(F.col("doc_id").alias("doc_b"), F.col("arr").alias("sks_b"))
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            *[cand[c] for c in cand.columns],
            F.size(F.array_intersect("sks_a", "sks_b")).alias("n_common"),
            F.size("sks_a").alias("n_a"),
            F.size("sks_b").alias("n_b"),
        )
    )


def _overlap_jaccard() -> Column:
    """Exact Jaccard from _verify_pair_overlap's count columns."""
    return F.col("n_common") * 1.0 / (
        F.col("n_a") + F.col("n_b") - F.col("n_common")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH (md5-based, fully oracle-checkable)
# ---------------------------------------------------------------------------

N_HASHES = 16
N_BAND_ROWS = 4  # rows (permutations) per band
N_BANDS = N_HASHES // N_BAND_ROWS
# 4 bands x 4 rows: collision threshold s* = (1/b)^(1/r) ~ 0.71 — selective
# enough that candidate volume stays near-linear at corpus scale (2-row
# bands at s* ~ 0.35 flood the verify stage with moderate-similarity pairs).

# Carter-Wegman permutation family from ONE md5 per shingle: split the
# digest into two 32-bit halves h1/h2, permutation_i = h1 + i*h2 (fits in
# 36 bits — no overflow on either engine). 8x less hashing than
# md5-per-seed at identical LSH quality; the canonical 100 TB trick.
_SQL_HALVES = """
      SELECT doc_id,
             CAST(CAST('0x' || substr(md5(s), 1, 8) AS UINTEGER) AS BIGINT) AS h1,
             CAST(CAST('0x' || substr(md5(s), 9, 8) AS UINTEGER) AS BIGINT) AS h2
      FROM exploded
"""

_SQL_MINHASH_AGGS = ",\n".join(
    f"             min(h1 + {i} * h2) AS sig_{i}" for i in range(N_HASHES)
)

# The near-dup oracles' shared CTE chains, each typed once: the word-3-
# gram rows (sh -> exploded), their halves, the per-doc signature
# aggregate, and the whole sh -> exploded -> halves -> sigs prefix.
_SQL_GRAMS = f"""
    WITH sh AS ({_SQL_SHINGLES}),
    exploded AS (
      SELECT doc_id, unnest(shingles) AS s FROM sh
    )"""

_SQL_GRAM_HALVES = f"{_SQL_GRAMS}, halves AS ({_SQL_HALVES})"

_SQL_SIG_SELECT = f"""
      SELECT doc_id,
{_SQL_MINHASH_AGGS}
      FROM halves GROUP BY doc_id"""

_SQL_SIGS = f"""{_SQL_GRAM_HALVES},
    sigs AS ({_SQL_SIG_SELECT}
    )"""


@register(
    "minhash_signatures",
    oracle=f"""{_SQL_GRAM_HALVES}{_SQL_SIG_SELECT}
    """,
)
def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_signatures_df(table(spark, sf_dir, "documents"))


def minhash_signatures_df(docs: DataFrame) -> DataFrame:
    """Signature core over any (doc_id, text) DataFrame — reused by the
    scale smoke so measured numbers always describe the shipped scheme."""
    return _sigs_from_halves(_halves_from_shingle_rows(gram_rows(docs, 3)))


def _halves_from_shingle_rows(sh: DataFrame) -> DataFrame:
    """Map-side (doc_id, h1, h2) Carter-Wegman halves from (doc_id, s)
    shingle rows — duplicates preserved (min-agg consumers tolerate
    them; df consumers count DISTINCT doc_id).

    r14: SQL-string projection — each F.* Column call is a py4j round
    trip (~0.3-0.5 ms of driver wall), and the suite rebuilds these
    plans on every invocation; one parsed string resolves to the same
    analyzed expressions for a fraction of the build cost (helper build
    times measured in OPTIMIZATION_r14.md)."""
    return sh.selectExpr(
        "doc_id",
        "cast(conv(substring(md5(s), 1, 8), 16, 10) as bigint) AS h1",
        "cast(conv(substring(md5(s), 9, 8), 16, 10) as bigint) AS h2",
    )


def _sigs_from_halves(halves: DataFrame) -> DataFrame:
    """MinHash signatures from (doc_id, h1, h2) rows (dups harmless:
    min over multiset == min over set). One parsed expr per aggregate
    (r14 build-cost cut, see _halves_from_shingle_rows)."""
    aggs = [
        F.expr(f"min(h1 + {i} * h2) AS sig_{i}") for i in range(N_HASHES)
    ]
    return halves.groupBy("doc_id").agg(*aggs)


def band_rows(
    sigs: DataFrame, n_bands: int = N_BANDS, n_rows: int = N_BAND_ROWS
) -> DataFrame:
    """(doc_id, band_idx, band_key) LSH band rows from a signature frame:
    ``n_bands`` bands of ``n_rows`` signature components each (the 4x4
    default, or one of minhash_band_sweep's BAND_SWEEP_CFGS)."""
    stack_args = ", ".join(
        "{}, concat_ws('|', {})".format(
            b, ", ".join(f"sig_{n_rows * b + r}" for r in range(n_rows))
        )
        for b in range(n_bands)
    )
    return sigs.selectExpr(
        "doc_id", f"stack({n_bands}, {stack_args}) AS (band_idx, band_key)"
    )


def _band_pairs(
    sigs: DataFrame, n_bands: int = N_BANDS, n_rows: int = N_BAND_ROWS
) -> DataFrame:
    """LSH banded candidate pairs (doc_a < doc_b) from a signature
    DataFrame: stack the bands, equi-join on (band_idx, band_key) — the
    near-linear candidate generator shared by every MinHash query.

    r15 (VERDICT r14 #5): callers pass a persist_tracked signature
    frame — both sides of the self-join (and, via Spark's plan-equality
    cache matching, any OTHER reference to the same signature plan in
    the consumer) would otherwise re-derive signatures from raw
    documents, so the gram+md5+16-min-agg pipeline (and for the
    stopfiltered path the whole stop-list build) ran twice per query.
    A signature row is doc_id + 16 longs (~136 B/doc, the guide §8
    lightweight proxy), so the cache is corpus-count-, not corpus-size-,
    bounded; minhash_band_sweep persists once for its 3 bandings."""
    bands = band_rows(sigs, n_bands, n_rows)
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def _sql_band_key(b: int) -> str:
    return " || '|' || ".join(
        f"sig_{N_BAND_ROWS * b + r}" for r in range(N_BAND_ROWS)
    )


_SQL_BANDS = "bands AS (\n{}\n    )".format("\n      UNION ALL\n".join(
    f"      SELECT doc_id, {b} AS band_idx, {_sql_band_key(b)} AS band_key FROM sigs"
    for b in range(N_BANDS)
))

_SQL_BAND_JOIN = """
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.band_key = b.band_key
           AND a.doc_id < b.doc_id"""

# bands -> cand: the banded candidate self-join as a CTE
_SQL_CAND = f"""{_SQL_BANDS}, cand AS ({_SQL_BAND_JOIN}
    )"""


def _sql_verify(cand: str) -> str:
    """exploded_k -> sizes -> common: the exact shingle-set overlap of
    the ``cand`` CTE's (doc_a, doc_b) pairs, on 60-bit keys."""
    return f"""exploded_k AS (
      SELECT DISTINCT doc_id, {_sql_key64('s')} AS sk FROM exploded
    ), sizes AS (
      SELECT doc_id, count(*) AS n_sh FROM exploded_k GROUP BY doc_id
    ), common AS (
      SELECT c.doc_a, c.doc_b, count(*) AS n_common
      FROM {cand} c
      JOIN exploded_k a ON a.doc_id = c.doc_a
      JOIN exploded_k b ON b.doc_id = c.doc_b AND b.sk = a.sk
      GROUP BY c.doc_a, c.doc_b
    )"""


@register(
    "minhash_lsh_pairs",
    oracle=f"""{_SQL_SIGS}, {_SQL_BANDS}{_SQL_BAND_JOIN}
    """,
)
def minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _band_pairs(persist_tracked(minhash_signatures(spark, sf_dir)))


# ---------------------------------------------------------------------------
# Stop-shingle mitigation (SCALE.md's own caveat): on templated corpora,
# boilerplate shingles shared by a large fraction of documents dominate
# signatures and inflate LSH candidates. Standard web-dedup fix: drop
# shingles whose document frequency exceeds a threshold BEFORE hashing.
# ---------------------------------------------------------------------------

STOP_DF_FLOOR = 5  # never drop shingles seen in <= 5 docs
# threshold = greatest(floor, n_docs div 100), i.e. ~1% document frequency
# (integer division so both engines compute the identical cutoff)


def _sk_from_halves() -> Column:
    """The 60-bit gram key derived arithmetically from the Carter-Wegman
    halves: md5 hex chars 1-15 = h1's 32 bits then h2's top 28, i.e.
    (h1 << 28) + (h2 >> 4) — bit-identical to :func:`_gram_key64`, no
    second md5."""
    return F.expr("shiftleft(h1, 28) + shiftright(h2, 4)")


def _stop_keys(rows: DataFrame, d: DataFrame, max_df: str) -> DataFrame:
    """The broadcastable stop list: ``sk`` of every fingerprint in more
    than ``max_df`` documents (a Spark-SQL expression over ``n_docs``,
    the corpus size). ``rows`` are per-doc-distinct (doc_id, sk) rows
    (_distinct_sk_rows), so document frequency is a plain count(*) with
    map-side partial sums — a VOCABULARY-bounded exchange, where the
    string shape paid a gram-volume distinct exchange plus a vocabulary
    groupBy of strings. A fingerprint collision merges two shingles' df;
    the oracles apply the identical transform, so parity is exact (the
    dup-span trade)."""
    kdf = rows.groupBy("sk").agg(F.count(F.lit(1)).alias("df_docs"))
    total = d.agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        kdf.crossJoin(F.broadcast(total))
        .where(F.col("df_docs") > F.expr(max_df))
        .select("sk")
    )


_STOP_MAX_DF = f"greatest({STOP_DF_FLOOR}, n_docs div 100)"


def _stop_filtered_halves(d: DataFrame) -> DataFrame:
    """(doc_id, h1, h2) rows (dups kept — the min-agg consumer is
    set-invariant) with >1%-document-frequency shingles removed — the
    form the stopfiltered QUERY path uses (r8c). The kept side is the
    RAW flat gram stream (no per-doc sort: the expensive array pipeline
    runs exactly once, on the df side; a first cut fed BOTH sides from
    the arrays and evaluated the whole map-side pipeline twice,
    measurably slower on wall despite identical bytes). The anti-join
    key is the 60-bit fingerprint derived arithmetically from the
    halves (_sk_from_halves)."""
    rows = _distinct_sk_rows(_doc_distinct_gram_arrays(d))
    stop = _stop_keys(rows, d, _STOP_MAX_DF)
    hv = _halves_from_shingle_rows(gram_rows(d, 3)).withColumn(
        "sk", _sk_from_halves()
    )
    return hv.join(F.broadcast(stop), "sk", "left_anti").drop("sk")


# Absolute df cap for SHINGLE-SELF-JOIN candidate generation (r8, found
# by the capacity plan: docs_jaccard_top_pairs measured alpha 1.19). The
# relative 1% stop-filter above is right for cleaning SIGNATURES, but a
# relative cap re-admits the quadratic in a pair self-join: surviving
# shingle groups grow with the corpus, so pairs grow ~ (n/100)^2. Pair
# generation therefore additionally requires df <= PAIR_DF_CAP, bounding
# candidates at C^2/2 pairs per shingle — linear in vocabulary, scale-
# free. Recall trade: a near-dup pair is missed only if EVERY shared
# shingle sits in >32 documents — for genuine near-dups (many shared
# low-df shingles) this is the standard, documented screen; the banded
# MinHash family remains the recall-characterized production path.
PAIR_DF_CAP = 32


def _pair_shingle_keys(d: DataFrame) -> DataFrame:
    """Distinct (doc_id, sk) restricted to pair-generation fingerprints
    (df <= least(greatest(5, 1% of docs), PAIR_DF_CAP)) — the 8-byte
    currency the candidate SELF-JOIN runs on. Like the stop list, the
    VIOLATOR set broadcasts (fingerprints repeated across >32 docs —
    Zipf-bounded, a vanishing fraction of the vocabulary) and the big
    side anti-joins shuffle-free. The self-join is the widest exchange in
    docs_jaccard_top_pairs, so its key and payload shrink from ~20-byte
    shingle strings to 60-bit longs. A fingerprint collision can only
    ADD a candidate pair — the exact-Jaccard verify rescores every
    candidate. The rows are already globally distinct on (doc_id, sk)
    (_distinct_sk_rows), so no trailing .distinct() exchange (r8c)."""
    rows = _distinct_sk_rows(_doc_distinct_gram_arrays(d))
    stop = _stop_keys(rows, d, f"least({_STOP_MAX_DF}, {PAIR_DF_CAP})")
    return rows.join(F.broadcast(stop), "sk", "left_anti")


@register(
    "minhash_lsh_stopfiltered",
    oracle=f"""{_SQL_GRAMS},
    halves_all AS ({_SQL_HALVES}),
    keyed AS (
      SELECT doc_id, h1, h2, (h1 << 28) + (h2 >> 4) AS sk FROM halves_all
    ),
    hdf AS (
      SELECT sk, count(DISTINCT doc_id) AS df_docs
      FROM keyed GROUP BY sk
    ), tot AS (
      SELECT count(*) AS n_docs FROM documents
    ),
    halves AS (
      SELECT k.doc_id, k.h1, k.h2
      FROM keyed k
      JOIN hdf f ON k.sk = f.sk CROSS JOIN tot
      WHERE f.df_docs <= greatest({STOP_DF_FLOOR}, n_docs // 100)
    ),
    sigs AS ({_SQL_SIG_SELECT}
    ), {_SQL_BANDS}{_SQL_BAND_JOIN}
    """,
)
def minhash_lsh_stopfiltered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidates with >1%-df stop shingles dropped before signing.

    Signatures then describe the distinctive content of each document, so
    template-only collisions vanish while genuinely similar pairs (which
    share distinctive shingles too) keep colliding — candidate volume
    drops with recall held (locked by tests/test_stop_shingles.py). The
    verify stage still scores FULL shingle sets, so accepted pairs carry
    the true Jaccard. r8b: the query path runs on _stop_filtered_halves
    (df on 64-bit Carter-Wegman fingerprints, one count_distinct
    exchange, no distinct on the kept side — the min-agg tolerates
    duplicate rows); the oracle applies the identical transform."""
    d = table(spark, sf_dir, "documents")
    return _band_pairs(persist_tracked(_sigs_from_halves(_stop_filtered_halves(d))))


@register(
    "docs_jaccard_top_pairs",
    oracle=f"""{_SQL_GRAMS},
    pk_raw AS (
      SELECT doc_id, {_sql_key64('s')} AS sk FROM exploded
    ), pdf AS (
      SELECT sk, count(DISTINCT doc_id) AS df_docs FROM pk_raw GROUP BY sk
    ), tot AS (
      SELECT count(*) AS n_docs FROM documents
    ),
    pair_sh AS (
      SELECT DISTINCT r.doc_id, r.sk
      FROM pk_raw r JOIN pdf p ON r.sk = p.sk CROSS JOIN tot
      WHERE p.df_docs <= least(greatest({STOP_DF_FLOOR}, n_docs // 100),
                               {PAIR_DF_CAP})
    ), cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM pair_sh a JOIN pair_sh b ON a.sk = b.sk AND a.doc_id < b.doc_id
    ), {_sql_verify("cand")}
    SELECT doc_a, doc_b,
           CAST(CAST(CAST(n_common * 1.0 / (sa.n_sh + sb.n_sh - n_common) AS VARCHAR) AS DECIMAL(38,4)) AS DOUBLE) AS jaccard
    FROM common
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    ORDER BY n_common * 1.0 / (sa.n_sh + sb.n_sh - n_common) DESC, doc_a, doc_b
    LIMIT 20
    """,
)
def docs_jaccard_top_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-Jaccard top-20 pairs, df-capped candidate generation.

    Candidates come from the df-capped shingle self-join (pairs must
    share at least one DISTINCTIVE shingle), so a boilerplate shingle
    shared by k docs can no longer contribute k² join rows on a
    templated corpus (VERDICT r2 #1). r8: the cap is now ABSOLUTE
    (df <= least(1% of docs, PAIR_DF_CAP=32)). The capacity plan
    measures alpha 1.19 here; the pinned-threshold probe recorded in
    SCALE.md (capacity-plan section) shows the
    cause is the testdata's non-sf-invariant df distribution (mean df
    grows ~linearly with corpus size — candidates 11k → 1.13M for 10x
    docs), not the plan: under the absolute cap, worst-case candidates
    are 512 per shingle at ANY df drift, linear in vocabulary; a
    relative-only cap would re-admit the quadratic as 1% of n grows.
    See PAIR_DF_CAP for the recall trade. The Jaccard itself is
    then computed EXACTLY over the FULL shingle sets, but only for the
    candidate pairs — verify cost is |candidates|-bounded, the same
    shape as minhash_verified_pairs. Pairs whose overlap is pure
    template boilerplate are by construction not near-dup candidates.
    """
    d = table(spark, sf_dir, "documents")
    # absolute df cap for pair generation (r8); the self-join runs on
    # 8-byte fingerprints instead of shingle strings (r8b). r9: the
    # self-join's two sides and the verify's two fp-join sides each
    # re-evaluated their shared subtree (plan probe: 8 documents scans,
    # 0 ReusedExchange — identical-subtree reuse does not fire across
    # these join sides), so the two shared frames are tracked-persisted:
    # kept is the df-capped distinct (doc_id, sk) stream and fp one
    # array row per doc — both bounded by the per-doc-distinct gram
    # count, and both released by the harness after the query.
    kept = persist_tracked(_pair_shingle_keys(d))
    ka = kept.alias("ka")
    kb = kept.alias("kb")
    cand = (
        ka.join(
            kb,
            (F.col("ka.sk") == F.col("kb.sk"))
            & (F.col("ka.doc_id") < F.col("kb.doc_id")),
        )
        .select(
            F.col("ka.doc_id").alias("doc_a"), F.col("kb.doc_id").alias("doc_b")
        )
        .distinct()
    )
    # per-doc fingerprint arrays + map-side intersect (r8b); n_common > 0
    # replicates the oracle's inner-join drop of zero-overlap candidates.
    # fp NOT persisted (recompute beats the cache round-trip for the
    # plain array pipeline — see minhash_verified_pairs); kept IS
    # persisted above (its subtree carries the df-cap agg on top)
    scored = _verify_pair_overlap(cand, _doc_distinct_gram_arrays(d)).where(
        F.col("n_common") > 0
    )
    jac = _overlap_jaccard()
    return (
        scored.orderBy(jac.desc(), F.asc("doc_a"), F.asc("doc_b"))
        .limit(20)
        .select("doc_a", "doc_b", dround(jac, 4).alias("jaccard"))
    )


MINHASH_VERIFY_J = 0.5  # exact-Jaccard acceptance threshold on candidates


@register(
    "minhash_verified_pairs",
    oracle=f"""{_SQL_SIGS}, {_SQL_CAND}, {_sql_verify("cand")}
    SELECT doc_a, doc_b,
           CAST(CAST(CAST(n_common * 1.0 / (sa.n_sh + sb.n_sh - n_common) AS VARCHAR) AS DECIMAL(38,4)) AS DOUBLE) AS jaccard
    FROM common
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE n_common * 1.0 / (sa.n_sh + sb.n_sh - n_common) >= {MINHASH_VERIFY_J}
    """,
)
def minhash_verified_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The near-dup pipeline in one query: LSH banding generates
    candidates (near-linear in corpus size), then an exact Jaccard verify
    on candidates only — downstream cost scales with |candidates|, never
    corpus². Recall follows the 4x4 banding S-curve (P(candidate) =
    1-(1-j^4)^4: ~42% at j=0.6, ~88% at 0.8, ~99% at 0.9), so pairs just
    above the 0.5 acceptance floor are caught probabilistically while
    strong near-dups are near-certain; tune bands/rows to move s*. The
    banding/signature stages are shared with minhash_lsh_pairs."""
    d = table(spark, sf_dir, "documents")
    cand = minhash_lsh_pairs(spark, sf_dir)
    # per-doc key arrays + map-side intersect (r8b) — see
    # _doc_distinct_gram_arrays for the measured 2.9x shuffle cut. The
    # verify joins fp twice and subtree reuse does not fire, but persisting it
    # MEASURED SLOWER here (1.82 -> 2.36 s at sf0.1): this fp pipeline
    # is cheap 3-gram array algebra, and the cache write+read round
    # trip costs more than the second evaluation — the r8c
    # "keep the expensive pipeline single-consumer" rule's flip side.
    # (docs_jaccard_top_pairs DOES persist: its shared subtree carries
    # the df-cap aggregation on top, 7.95 -> 5.23 s measured.)
    scored = _verify_pair_overlap(cand, _doc_distinct_gram_arrays(d))
    jac = _overlap_jaccard()
    return scored.where(jac >= MINHASH_VERIFY_J).select(
        "doc_a", "doc_b", dround(jac, 4).alias("jaccard")
    )


# Shared CTE chain: shingles -> signatures -> LSH candidates -> verified
# edges -> recursive-CTE transitive closure -> per-doc component label.
# Reused by dedup_components and dedup_keep_best.
_SQL_COMPONENT_CTES = f"""{_SQL_SIGS}, {_SQL_CAND}, {_sql_verify("cand")}, edges AS (
      SELECT doc_a, doc_b FROM common
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE n_common * 1.0 / (sa.n_sh + sb.n_sh - n_common) >= {MINHASH_VERIFY_J}
    ), sym AS (
      SELECT doc_a AS src, doc_b AS dst FROM edges
      UNION SELECT doc_b, doc_a FROM edges
      UNION SELECT doc_id, doc_id FROM documents
    ), closure AS (
      WITH RECURSIVE walk(src, dst) AS (
        SELECT src, dst FROM sym
        UNION
        SELECT w.src, s.dst FROM walk w JOIN sym s ON w.dst = s.src
      )
      SELECT src, dst FROM walk
    ), comp AS (
      SELECT src AS doc_id, min(dst) AS component
      FROM closure GROUP BY src
    )
"""


@register(
    "dedup_components",
    oracle=f"""{_SQL_COMPONENT_CTES}
    SELECT doc_id, component, (doc_id = component) AS is_representative
    FROM comp
    """,
)
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The final dedup step: connected components over the verified
    near-dup graph, keeping min(doc_id) as each cluster's representative.
    Pointer-jumping label propagation (operators/graph.py): each round is
    a neighborhood-min plus a label-through-label contraction, so rounds
    are O(log diameter) — a pathological chain topology converges in
    ~log2(L) rounds instead of L (probe figures recorded in SCALE.md). The DuckDB oracle computes the same fixpoint
    via a recursive-CTE transitive closure — tractable at oracle scale,
    while the Spark path scales to corpus size."""
    from ..operators.graph import connected_components, symmetrize_edges

    d = table(spark, sf_dir, "documents").select("doc_id")
    edges = minhash_verified_pairs(spark, sf_dir).select("doc_a", "doc_b")
    labels, _ = connected_components(d, symmetrize_edges(edges))
    return labels.select(
        "doc_id", "component", (F.col("doc_id") == F.col("component")).alias("is_representative")
    )


# ---------------------------------------------------------------------------
# SimHash — 64-bit (Manku et al. width) as 4 x 16-bit words. Words double as
# LSH bands for the near-pair query: hamming <= 3 guarantees at least one of
# the 4 words is identical (pigeonhole), so the band equi-join is lossless.
# ---------------------------------------------------------------------------

SIMHASH_WORDS = 4        # 16-bit words -> 64-bit fingerprint
SIMHASH_WORD_BITS = 16
SIMHASH_HAM_MAX = 3      # near-dup threshold over the full 64 bits


def _sql_word_sums() -> str:
    return ",\n".join(
        f"             sum(CASE WHEN (h_{j} >> {i}) & 1 = 1 THEN 1 ELSE -1 END)"
        f" AS s_{j}_{i}"
        for j in range(SIMHASH_WORDS)
        for i in range(SIMHASH_WORD_BITS)
    )


def _sql_word_combine(j: int) -> str:
    return " + ".join(
        f"(CASE WHEN s_{j}_{i} > 0 THEN {1 << i} ELSE 0 END)"
        for i in range(SIMHASH_WORD_BITS)
    )


_SQL_HASHED_WORDS = ",\n".join(
    f"             CAST(CAST('0x' || substr(md5(t), {1 + 4 * j}, 4) AS UINTEGER)"
    f" AS BIGINT) AS h_{j}"
    for j in range(SIMHASH_WORDS)
)

_SQL_SIMHASH_WORDS = f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(trim(text), ' ')) AS t FROM documents
    ), hashed AS (
      SELECT doc_id,
{_SQL_HASHED_WORDS}
      FROM toks
    ), bit_sums AS (
      SELECT doc_id,
{_sql_word_sums()}
      FROM hashed GROUP BY doc_id
    ), words AS (
      SELECT doc_id,
             {", ".join(f"CAST({_sql_word_combine(j)} AS BIGINT) AS w_{j}" for j in range(SIMHASH_WORDS))}
      FROM bit_sums
    )
"""


def _simhash_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc 64-bit SimHash as four 16-bit words (w_0..w_3).

    Shape choice is a MEASURED trade (r9): a zero-exchange map-side
    variant (the per-bit sums as one ``aggregate`` over the token
    array) was equivalence-pinned and benchmarked, but higher-order-
    function lambdas evaluate INTERPRETED while this exploded shape's
    per-token hashing and the hash-aggregate partials run inside
    whole-stage codegen: measured at
    sf0.1, the map-side variant cut shuffle 1.62 -> 0.01 of input yet
    cost 1.96x wall on docs_simhash and 2.7x on simhash_near_pairs
    (which evaluates the words subtree twice). The exchange this shape
    keeps is ONE 64-long row per document (map-side combined, ~512 B/
    doc — sh/in 1.6 on the toy table only because its compressed docs
    average ~120 B; at production document sizes it is <= 0.25 of
    input, ~5 TB per 100 TB), while SimHash's dominant cost at every
    scale is the per-token CPU — so codegen wins the operator. The
    map-side variant is recorded as a negative result (SCALE.md r9a).

    The 64 per-bit sum aggregates and the 64-term word recombination
    are built as parsed SQL strings (selectExpr / expr), not nested
    Python Column operations: the expressions are identical, but one
    parse call per expression replaces ~6 Py4J round-trips per operator
    node, which cut this plan's driver-side construction cost from
    ~1.3 s to ~0.1 s (VERDICT r1 #5). Scale-independent either way —
    this is fixed latency, not per-row work.
    """
    d = table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(_tokens(F.col("text"))).alias("t"))
    hashed = toks.selectExpr(
        "doc_id",
        *[
            f"CAST(conv(substring(md5(t), {1 + 4 * j}, 4), 16, 10) AS BIGINT)"
            f" AS h_{j}"
            for j in range(SIMHASH_WORDS)
        ],
    )
    bit_sums = hashed.groupBy("doc_id").agg(
        *[
            F.expr(
                f"sum(CASE WHEN (shiftright(h_{j}, {i}) & 1) = 1"
                " THEN 1 ELSE -1 END)"
            ).alias(f"s_{j}_{i}")
            for j in range(SIMHASH_WORDS)
            for i in range(SIMHASH_WORD_BITS)
        ]
    )
    return bit_sums.selectExpr(
        "doc_id",
        *[
            "CAST("
            + " + ".join(
                f"(CASE WHEN s_{j}_{i} > 0 THEN {1 << i} ELSE 0 END)"
                for i in range(SIMHASH_WORD_BITS)
            )
            + f" AS BIGINT) AS w_{j}"
            for j in range(SIMHASH_WORDS)
        ],
    )


@register(
    "docs_simhash",
    oracle=f"""{_SQL_SIMHASH_WORDS}
    SELECT doc_id,
           {" || ".join(f"printf('%04x', CAST(w_{j} AS INTEGER))" for j in range(SIMHASH_WORDS))}
             AS simhash_hex
    FROM words
    """,
)
def docs_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash fingerprint, emitted as 16 lowercase hex chars (the
    hex string sidesteps bit-63 signedness differences between engines)."""
    w = _simhash_words(spark, sf_dir)
    return w.select(
        "doc_id",
        F.concat(
            *[
                F.format_string("%04x", F.col(f"w_{j}").cast("int"))
                for j in range(SIMHASH_WORDS)
            ]
        ).alias("simhash_hex"),
    )


_WORD_LIST = ", ".join(f"w_{j}" for j in range(SIMHASH_WORDS))

_SQL_SIMHASH_BANDS = "\n      UNION ALL\n".join(
    f"      SELECT doc_id, {_WORD_LIST}, {j} AS band_idx, w_{j} AS band_key FROM words"
    for j in range(SIMHASH_WORDS)
)

_SQL_HAMMING = " + ".join(
    f"bit_count(xor(a.w_{j}, b.w_{j}))" for j in range(SIMHASH_WORDS)
)


@register(
    "simhash_near_pairs",
    oracle=f"""{_SQL_SIMHASH_WORDS},
    bands AS (
{_SQL_SIMHASH_BANDS}
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           {_SQL_HAMMING} AS hamming
    FROM bands a JOIN bands b
      ON a.band_idx = b.band_idx AND a.band_key = b.band_key
         AND a.doc_id < b.doc_id
    WHERE {_SQL_HAMMING} <= {SIMHASH_HAM_MAX}
    """,
)
def simhash_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-duplicate pairs: candidate generation is an equi-join on
    any of the 4 fingerprint words (lossless for hamming <= 3 by
    pigeonhole), then an exact hamming verify via bit_count(xor) — the
    standard web-scale near-dup pipeline, expressed as two shuffles. The
    full word set rides along through the band join so the verify needs no
    second join back to the fingerprints. r15 (VERDICT r14 #6): the word
    frame is persist_tracked so the per-token hash + 64-bit-sum pipeline
    runs ONCE — both join sides previously re-derived it from raw
    documents; a word row is doc_id + 4 longs (~40 B/doc), the guide §8
    lightweight proxy."""
    words = persist_tracked(_simhash_words(spark, sf_dir))
    stack_args = ", ".join(f"{j}, w_{j}" for j in range(SIMHASH_WORDS))
    bands = words.selectExpr(
        "doc_id",
        *[f"w_{j}" for j in range(SIMHASH_WORDS)],
        f"stack({SIMHASH_WORDS}, {stack_args}) AS (band_idx, band_key)",
    )
    a = bands.alias("a")
    b = bands.alias("b")
    hamming = None
    for j in range(SIMHASH_WORDS):
        term = F.bit_count(F.col(f"a.w_{j}").bitwiseXOR(F.col(f"b.w_{j}")))
        hamming = term if hamming is None else hamming + term
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            hamming.alias("hamming"),
        )
        .where(F.col("hamming") <= SIMHASH_HAM_MAX)
        .distinct()
    )


# ---------------------------------------------------------------------------
# Similarity search over embeddings
# ---------------------------------------------------------------------------


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def _dot_sql(a: str, b: str) -> str:
    """Spark-SQL-string twin of :func:`_dot` — identical fold (zip_with
    product array, left fold from 0.0 double), one parsed expression
    instead of ~30 py4j calls per use (r14 build-cost cut). ``0.0D``
    pins the double literal (bare 0.0 parses as DECIMAL in Spark SQL).
    An unrolled element_at chain was also tried and REJECTED: bit-
    identical but 3.2x slower at runtime (64-term codegen blowup)."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0.0D, "
        "(acc, v) -> acc + v)"
    )


def _cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (F.sqrt(_dot(a, a)) * F.sqrt(_dot(b, b)))


@register(
    "knn_bruteforce",
    oracle="""
    WITH q AS (
      SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0
    ), scored AS (
      SELECT e.vec_id, e.label,
             list_dot_product(e.embedding::DOUBLE[], q.qv)
               / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                  * sqrt(list_dot_product(q.qv, q.qv))) AS cos
      FROM embeddings e CROSS JOIN q
      WHERE e.vec_id != 0
    )
    SELECT vec_id, label, CAST(CAST(CAST(cos AS VARCHAR) AS DECIMAL(38,6)) AS DOUBLE) AS cosine
    FROM scored
    ORDER BY cos DESC, vec_id
    LIMIT 10
    """,
)
def knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "embeddings").withColumn(
        "emb", F.col("embedding").cast("array<double>")
    )
    q = F.broadcast(
        e.where(F.col("vec_id") == 0).select(F.col("emb").alias("qv"))
        # exactly-one-row by data contract; limit(1) additionally makes
        # the broadcast side structurally bounded (plan-lint certificate)
        .limit(1)
    )
    scored = (
        e.where(F.col("vec_id") != 0)
        .crossJoin(q)
        .select("vec_id", "label", _cosine(F.col("emb"), F.col("qv")).alias("cos"))
    )
    return (
        scored.orderBy(F.desc("cos"), F.asc("vec_id"))
        .limit(10)
        .select("vec_id", "label", dround(F.col("cos"), 6).alias("cosine"))
    )


@register(
    "knn_top_per_label",
    oracle="""
    WITH q AS (
      SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0
    ), scored AS (
      SELECT e.vec_id, e.label,
             list_dot_product(e.embedding::DOUBLE[], q.qv)
               / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                  * sqrt(list_dot_product(q.qv, q.qv))) AS cos
      FROM embeddings e CROSS JOIN q
      WHERE e.vec_id != 0
    )
    SELECT label, vec_id, CAST(CAST(CAST(cos AS VARCHAR) AS DECIMAL(38,6)) AS DOUBLE) AS cosine
    FROM scored
    QUALIFY row_number() OVER (PARTITION BY label ORDER BY cos DESC, vec_id) <= 3
    """,
)
def knn_top_per_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "embeddings").withColumn(
        "emb", F.col("embedding").cast("array<double>")
    )
    q = F.broadcast(e.where(F.col("vec_id") == 0).select(F.col("emb").alias("qv"))
        # exactly-one-row by data contract; limit(1) additionally makes
        # the broadcast side structurally bounded (plan-lint certificate)
        .limit(1))
    scored = (
        e.where(F.col("vec_id") != 0)
        .crossJoin(q)
        .select("vec_id", "label", _cosine(F.col("emb"), F.col("qv")).alias("cos"))
    )
    w = Window.partitionBy("label").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("label", "vec_id", dround(F.col("cos"), 6).alias("cosine"))
    )


@register(
    "embedding_top_pairs_bruteforce",
    oracle="""
    WITH v AS (SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings
               WHERE vec_id % 4 = 0),
    pairs AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             (a.label = b.label) AS same_label,
             list_dot_product(a.emb, b.emb)
               / (sqrt(list_dot_product(a.emb, a.emb))
                  * sqrt(list_dot_product(b.emb, b.emb))) AS cos
      FROM v a JOIN v b ON a.vec_id < b.vec_id
    )
    SELECT vec_a, vec_b, same_label, CAST(CAST(CAST(cos AS VARCHAR) AS DECIMAL(38,6)) AS DOUBLE) AS cosine
    FROM pairs
    ORDER BY cos DESC, vec_a, vec_b
    LIMIT 20
    """,
)
def embedding_top_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force near-dup pair search on a deterministic 1/4 sample.

    EXHIBIT, not a scale path: O(n²/16) by construction (registered with
    the ``_bruteforce`` suffix so the plan lint and any operator catalog
    flag it). The sample bounds the pair space at test scale; at corpus
    scale use ``embedding_lsh_buckets`` (hyperplane-LSH banding) or
    ``minhash_lsh_pairs`` — same output contract, near-linear cost.
    """
    e = (
        table(spark, sf_dir, "embeddings")
        .where(F.col("vec_id") % 4 == 0)
        .select("vec_id", "label", F.col("embedding").cast("array<double>").alias("emb"))
    )
    a = e.alias("a")
    b = e.alias("b")
    cos = _cosine(F.col("a.emb"), F.col("b.emb"))
    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            (F.col("a.label") == F.col("b.label")).alias("same_label"),
            cos.alias("cos"),
        )
        .orderBy(F.desc("cos"), F.asc("vec_a"), F.asc("vec_b"))
        .limit(20)
        .select("vec_a", "vec_b", "same_label", dround(F.col("cos"), 6).alias("cosine"))
    )


# ---------------------------------------------------------------------------
# Multimodal columns (binary payload + typed metadata; stubbed codecs)
# ---------------------------------------------------------------------------


@register(
    "multimodal_metadata",
    oracle="""
    SELECT doc_id,
           CASE WHEN doc_id % 3 = 0 THEN 'image'
                WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS media_type,
           CAST(64 + (doc_id % 8) * 32 AS INTEGER) AS width,
           CAST(64 + (doc_id % 5) * 32 AS INTEGER) AS height,
           CAST(CASE WHEN doc_id % 3 = 2 THEN doc_id % 30 + 1 ELSE 1 END AS INTEGER) AS n_frames,
           CAST(CASE WHEN doc_id % 3 = 1 THEN 16000 ELSE 0 END AS INTEGER) AS sample_rate,
           CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes
    FROM documents
    """,
)
def multimodal_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed-metadata plumbing for binary media columns (oracle-checked;
    the payload bytes themselves are checked by pytest + the rows-only
    multimodal_features entry)."""
    from ..operators.multimodal import attach_fake_media

    media = attach_fake_media(table(spark, sf_dir, "documents"))
    return media.select(
        "doc_id",
        "media_type",
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
        F.col("meta.n_frames").alias("n_frames"),
        F.col("meta.sample_rate").alias("sample_rate"),
        F.col("meta.n_bytes").alias("n_bytes"),
    )


@register("multimodal_features", oracle=None)  # rows-only: Arrow/pandas UDF path
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched mapInPandas feature extraction over binary payloads
    (deterministic byte-histogram fake standing in for real codecs)."""
    from ..operators.multimodal import attach_fake_media, extract_features

    media = attach_fake_media(table(spark, sf_dir, "documents"))
    feats = extract_features(media)
    return feats.select(
        "doc_id", "media_type", "n_bytes",
        F.round(F.element_at("features", 1), 6).alias("bin_0"),
        F.round(F.aggregate("features", F.lit(0.0), lambda a, v: a + v), 4).alias(
            "feature_mass"
        ),
    )


@register(
    "multimodal_features_exact",
    oracle="""
    WITH media AS (
      SELECT doc_id,
             CASE WHEN doc_id % 3 = 0 THEN 'image'
                  WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS media_type,
             hex(encode(text)) AS hx,
             CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes
      FROM documents
    )
    SELECT doc_id, media_type, n_bytes,
           round(len(list_filter(range(1, greatest(n_bytes, 1) + 1),
                                 i -> substr(hx, 2 * i, 1) = '0'))
                 * 1.0 / greatest(n_bytes, 1), 6) AS bin_0,
           round(n_bytes * 1.0 / greatest(n_bytes, 1), 4) AS feature_mass
    FROM media
    """,
)
def multimodal_features_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-checkable exact twin of multimodal_features (VERDICT r8
    next-round #5): the same fake-decode outputs — bin_0 of the 16-bin
    byte histogram and its L1 mass — computed with NATIVE expressions
    so a full SQL oracle exists. byte % 16 is the byte's low hex
    nibble, so bin_0 counts payload-hex positions 2,4,6,... equal to
    '0' (both engines uppercase-hex the identical utf-8 payload), and
    the L1-normalized histogram's mass is n/max(n,1) by construction.
    The Arrow mapInPandas path stays the exhibit for real codecs; a
    pytest asserts this twin equals it row-for-row, which transfers
    the hash check onto the Arrow plumbing."""
    from ..operators.multimodal import attach_fake_media

    media = attach_fake_media(table(spark, sf_dir, "documents"))
    n = F.col("meta.n_bytes")
    hx = F.hex(F.col("payload"))
    bin0 = F.size(
        F.filter(
            F.sequence(F.lit(1), F.greatest(n, F.lit(1))),
            lambda i: hx.substr(i * 2, F.lit(1)) == "0",
        )
    )
    return media.select(
        "doc_id",
        "media_type",
        n.alias("n_bytes"),
        dround(bin0 * 1.0 / F.greatest(n, F.lit(1)), 6).alias("bin_0"),
        dround(n * 1.0 / F.greatest(n, F.lit(1)), 4).alias("feature_mass"),
    )


# ---------------------------------------------------------------------------
# Token counting: whitespace + BPE-ish regex segmentation
# ---------------------------------------------------------------------------


@register(
    "docs_token_counts",
    oracle="""
    SELECT doc_id,
           len(string_split(trim(text), ' ')) AS n_ws_tokens,
           len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS n_bpe_tokens,
           round(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) * 1.0
                 / greatest(len(string_split(trim(text), ' ')), 1), 4) AS tokens_per_word
    FROM documents
    """,
)
def docs_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    nn = F.col("text").isNotNull()  # see _n_tokens: ansi-off size(NULL) = -1
    ws = _n_tokens(F.col("text"))
    bpe = F.when(
        nn,
        F.size(
            F.regexp_extract_all(
                F.lower(F.col("text")), F.lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), F.lit(0)
            )
        ),
    )
    return d.select(
        "doc_id",
        ws.alias("n_ws_tokens"),
        bpe.alias("n_bpe_tokens"),
        F.round(bpe * 1.0 / F.greatest(ws, F.lit(1)), 4).alias("tokens_per_word"),
    )


# ---------------------------------------------------------------------------
# IVF-style ANN: probe only the nearest label partition (the scale path)
# ---------------------------------------------------------------------------


_IVF_COS = (
    "list_dot_product({a}, {b}) / (sqrt(list_dot_product({a}, {a}))"
    " * sqrt(list_dot_product({b}, {b})))"
)


@register(
    "knn_ivf",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings
    ), pos AS (
      SELECT vec_id, label, unnest(emb) AS x, generate_subscripts(emb, 1) AS pos
      FROM e
    ), cent AS (
      SELECT label, pos,
             CAST(sum(CAST(CAST(x AS VARCHAR) AS DECIMAL(28,10))) AS DOUBLE)
               / count(x) AS cx
      FROM pos GROUP BY label, pos
    ), centroids AS (
      SELECT label, list(cx ORDER BY pos) AS centroid FROM cent GROUP BY label
    ), q AS (
      SELECT emb AS qv FROM e WHERE vec_id = 0
    ), probe AS (
      SELECT c.label FROM centroids c CROSS JOIN q
      ORDER BY {_IVF_COS.format(a="c.centroid", b="q.qv")} DESC, c.label
      LIMIT 1
    ), scored AS (
      SELECT e.vec_id, e.label, {_IVF_COS.format(a="e.emb", b="q.qv")} AS cos
      FROM e JOIN probe ON e.label = probe.label CROSS JOIN q
      WHERE e.vec_id != 0
    )
    SELECT vec_id, label, CAST(CAST(CAST(cos AS VARCHAR) AS DECIMAL(38,6)) AS DOUBLE) AS cosine
    FROM scored ORDER BY cos DESC, vec_id LIMIT 10
    """,
)
def knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flavored ANN: centroids = per-label mean vectors (labels stand in
    for learned IVF cells), the query probes its nearest centroid's
    partition only — searching ~1/n_labels of the corpus. Brute-force
    (knn_bruteforce) is the recall baseline next to this. Centroid
    components sum through DECIMAL(28,10) quantization so the mean is
    independent of partition/accumulation order and hash-matches DuckDB.
    """
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("emb")
    )
    pos = e.select("vec_id", "label", F.posexplode("emb").alias("pos", "x"))
    cx = (
        F.sum(F.col("x").cast("string").cast("decimal(28,10)")).cast("double")
        / F.count("x")
    )
    centroids = (
        pos.groupBy("label", "pos").agg(cx.alias("cx"))
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "cx"))).alias("pairs"))
        .select("label", F.transform("pairs", lambda p: p["cx"]).alias("centroid"))
    )
    q = F.broadcast(e.where(F.col("vec_id") == 0).select(F.col("emb").alias("qv"))
        # exactly-one-row by data contract; limit(1) additionally makes
        # the broadcast side structurally bounded (plan-lint certificate)
        .limit(1))
    probe = (
        centroids.crossJoin(q)
        .select("label", _cosine(F.col("centroid"), F.col("qv")).alias("cos"))
        .orderBy(F.desc("cos"), F.asc("label"))
        .limit(1)
        .select(F.col("label").alias("probe_label"))
    )
    candidates = e.join(F.broadcast(probe), e.label == F.col("probe_label"))
    scored = (
        candidates.where(F.col("vec_id") != 0)
        .crossJoin(q)
        .select("vec_id", "label", _cosine(F.col("emb"), F.col("qv")).alias("cos"))
    )
    return (
        scored.orderBy(F.desc("cos"), F.asc("vec_id"))
        .limit(10)
        .select("vec_id", "label", dround(F.col("cos"), 6).alias("cosine"))
    )


# ---------------------------------------------------------------------------
# Random-hyperplane (sign) LSH over embeddings — the banded ANN scale path
# ---------------------------------------------------------------------------

N_LSH_TABLES = 6   # independent hash tables (union of candidates)
N_LSH_BITS = 4     # sign bits per table -> 16 buckets each

def _hp_values(p: int, dim: int) -> list[float]:
    """Uniform[-1,1) hyperplane component for plane ``p``, derived from the
    first 32 bits of ``md5("{d}_{p}")``: ``(u / 2^32) * 2 - 1``.

    md5 is bit-identical across Spark, DuckDB and hashlib, and the mapping
    is exact IEEE arithmetic (a 33-bit integer over a power-of-two
    denominator), so the oracle SQL reconstructs the very same doubles.
    """
    import hashlib

    return [
        (int(hashlib.md5(f"{d}_{p}".encode()).hexdigest()[:8], 16) / 4294967296.0)
        * 2
        - 1
        for d in range(dim)
    ]


def _hyperplane_bits(table_idx: int, dim: int) -> Column:
    """N_LSH_BITS-bit sign signature under deterministic md5-derived
    hyperplanes (plane id p = table_idx * N_LSH_BITS + b, mirrored by the
    oracle SQL).

    Built as ONE SQL expression string per table: the previous
    Column-algebra construction issued a py4j round trip per literal
    coefficient (N_LSH_BITS x dim ~ 256 per table, ~1500 per query),
    which made query CONSTRUCTION the dominant cost (~6 s at bench
    scale) while execution was <1 s. Same expression tree, same doubles
    (repr() round-trips exactly and `D`-suffixed literals parse as
    doubles, not decimals), so results and oracles are unchanged —
    locked by the existing bucket-assignment parity row."""
    return F.expr(_hyperplane_bits_sql(table_idx, dim))


@_functools.lru_cache(maxsize=None)
def _hyperplane_bits_sql(table_idx: int, dim: int) -> str:
    """Memoized: the string (md5-per-coefficient in Python + f-string
    assembly) is identical for every query in a session."""
    terms = []
    for b in range(N_LSH_BITS):
        p = table_idx * N_LSH_BITS + b
        arr = ", ".join(f"{v!r}D" for v in _hp_values(p, dim))
        dot = (
            f"aggregate(zip_with(emb, array({arr}), (x, h) -> x * h), "
            "0.0D, (acc, v) -> acc + v)"
        )
        terms.append(f"(CASE WHEN {dot} > 0 THEN {1 << b} ELSE 0 END)")
    return "CAST((" + " + ".join(terms) + ") AS INT)"


def _sql_hplane(p_sql: str) -> str:
    """Hyperplane array for a plane id given as a SQL expression —
    identical doubles to :func:`_hp_values` (md5 of "{d}_{p}", first 32
    bits, exact IEEE mapping)."""
    return (
        "list_transform(range(len(emb)), d -> "
        "(CAST(CAST('0x' || substr(md5(d::VARCHAR || '_' || "
        f"CAST({p_sql} AS VARCHAR)), 1, 8) AS UINTEGER) AS DOUBLE) "
        "/ 4294967296.0) * 2 - 1)"
    )


# Shared bucket-assignment CTE chain: a (table, bit) grid, one sign bit
# per grid row against plane p = t*N_LSH_BITS + b, summed per (vec, table).
_SQL_LSH_BUCKETS_CTES = f"""grid AS (SELECT t.range AS t, b.range AS b
             FROM range({N_LSH_TABLES}) t, range({N_LSH_BITS}) b),
    bitvals AS (
      SELECT e.vec_id, e.label, g.t AS table_idx,
             CASE WHEN list_dot_product(emb, {_sql_hplane(f'g.t * {N_LSH_BITS} + g.b')}) > 0
                  THEN (1 << g.b) ELSE 0 END AS bv
      FROM e CROSS JOIN grid g
    ),
    lsh_buckets AS (
      SELECT vec_id, label, CAST(table_idx AS INT) AS table_idx,
             CAST(SUM(bv) AS INT) AS bucket
      FROM bitvals GROUP BY vec_id, label, table_idx
    )"""

_LSH_ORACLE = f"""
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings),
    {_SQL_LSH_BUCKETS_CTES}
    SELECT vec_id, label, table_idx, bucket FROM lsh_buckets
    """


@register("embedding_lsh_buckets", oracle=_LSH_ORACLE)
def embedding_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table sign-bit LSH: 6 independent tables of md5-derived
    hyperplane bits. Near-duplicate candidate generation joins on
    (table_idx, bucket) — the embedding analog of MinHash banding; more
    tables raise recall, more bits shrink buckets. Recall vs the
    brute-force top pairs is locked
    by pytest; bucket assignment itself hash-matches the DuckDB oracle
    (md5 + list_dot_product are bit-identical across engines).
    """
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("emb")
    )
    # One LIMIT-1 probe for the (fixed) embedding dimension so the 24
    # hyperplanes become literal arrays Catalyst folds once — the probe is
    # the price of keeping the per-row path free of md5 recomputation.
    first = (
        e.where(F.col("emb").isNotNull())
        .select(F.size("emb").alias("dim"))
        .first()
    )
    dim = first["dim"] if first else 0
    if dim == 0:
        # empty/all-null table: emit no buckets (never a degenerate
        # single-bucket table, which would explode the candidate join)
        return (
            e.select(
                "vec_id", "label",
                F.lit(0).alias("table_idx"),
                F.lit(0).cast("int").alias("bucket"),
            ).limit(0)
        )
    return lsh_bucket_rows(e, dim)


def lsh_bucket_rows(e: DataFrame, dim: int) -> DataFrame:
    """(vec_id, [label,] table_idx, bucket) hyperplane-LSH rows for any
    frame with an ``emb`` array<double> column and a known dimension —
    the map-side core of the suite's ANN queries."""
    carry = [c for c in ("vec_id", "label") if c in e.columns]
    tables = [
        e.select(
            *carry,
            F.lit(t).alias("table_idx"),
            _hyperplane_bits(t, dim).alias("bucket"),
        )
        for t in range(N_LSH_TABLES)
    ]
    out = tables[0]
    for t in tables[1:]:
        out = out.unionByName(t)
    return out


_SQL_COS_AB = (
    "list_dot_product(ea.emb, eb.emb) / (sqrt(list_dot_product(ea.emb, ea.emb))"
    " * sqrt(list_dot_product(eb.emb, eb.emb)))"
)


@register(
    "embedding_verified_topk",
    oracle=f"""
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings),
    {_SQL_LSH_BUCKETS_CTES},
    cand AS (
      SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
      FROM lsh_buckets a JOIN lsh_buckets b
        ON a.table_idx = b.table_idx AND a.bucket = b.bucket
           AND a.vec_id < b.vec_id
    ), scored AS (
      SELECT c.vec_a, c.vec_b, {_SQL_COS_AB} AS cos
      FROM cand c
      JOIN e ea ON ea.vec_id = c.vec_a
      JOIN e eb ON eb.vec_id = c.vec_b
    )
    SELECT vec_a, vec_b, CAST(CAST(CAST(cos AS VARCHAR) AS DECIMAL(38,6)) AS DOUBLE) AS cosine
    FROM scored ORDER BY cos DESC, vec_a, vec_b LIMIT 20
    """,
)
def embedding_verified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The embedding analog of minhash_verified_pairs: hyperplane-LSH
    buckets generate candidate pairs, an exact cosine pass ranks them and
    keeps the top 20. Candidate volume is set by bucket width: the fixed
    N_LSH_BITS width keeps recall on this weak-neighbor corpus (cos ~0.4),
    and candidates are a constant fraction of pairs (the capacity probe
    measured alpha 1.82, SCALE.md). embedding_top_pairs (brute force
    over a vec_id%4 sample) is the ground-truth twin next to this."""
    # norms once per vector, not per pair — identical doubles (same
    # fold), 3x fewer array folds in the verify
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    e = e.withColumn("nrm", F.sqrt(_dot(F.col("emb"), F.col("emb"))))
    buckets = embedding_lsh_buckets(spark, sf_dir)
    a = buckets.alias("a")
    b = buckets.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.table_idx") == F.col("b.table_idx"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b"))
        .distinct()
    )
    ea = e.alias("ea")
    eb = e.alias("eb")
    scored = (
        cand.join(ea, F.col("vec_a") == F.col("ea.vec_id"))
        .join(eb, F.col("vec_b") == F.col("eb.vec_id"))
        .withColumn(
            "cos",
            _dot(F.col("ea.emb"), F.col("eb.emb"))
            / (F.col("ea.nrm") * F.col("eb.nrm")),
        )
    )
    return (
        scored.orderBy(F.desc("cos"), F.asc("vec_a"), F.asc("vec_b"))
        .limit(20)
        .select("vec_a", "vec_b", dround(F.col("cos"), 6).alias("cosine"))
    )


# ---------------------------------------------------------------------------
# Training-mix construction: deterministic sampling, splits, filter funnel,
# decontamination, cluster-representative selection. These are the ops a
# production LLM-data pipeline runs AFTER dedup/quality scoring to
# assemble the actual training set. All hash-deterministic (md5), so every
# one is exactly reproducible and DuckDB-oracle-checkable — no rand().
# ---------------------------------------------------------------------------


def _hash_bucket(col: Column, n: int) -> Column:
    """Deterministic bucket in [0, n): first 8 md5 hex chars mod n.
    Content-addressed (id-based) so the assignment survives repartitioning,
    re-runs, and engine changes — the property rand() sampling lacks."""
    return (
        F.conv(F.substring(F.md5(col.cast("string")), 1, 8), 16, 10).cast("long") % n
    )


def _sql_hash_bucket(expr: str, n: int) -> str:
    return (
        f"CAST(CAST('0x' || substr(md5(CAST({expr} AS VARCHAR)), 1, 8) "
        f"AS UINTEGER) AS BIGINT) % {n}"
    )


@register(
    "docs_hash_sample",
    oracle=f"""
    SELECT doc_id, source, lang, n_chars
    FROM documents
    WHERE {_sql_hash_bucket('doc_id', 10)} = 0
    """,
)
def docs_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~10% corpus sample by hash bucket. The standard way
    to carve dev subsets out of a 100 TB corpus: pure filter (no shuffle),
    pushes down past nothing it needs, and the same docs are selected on
    every engine and every run."""
    d = table(spark, sf_dir, "documents")
    return d.where(_hash_bucket(F.col("doc_id"), 10) == 0).select(
        "doc_id", "source", "lang", "n_chars"
    )


@register(
    "docs_split_assign",
    oracle=f"""
    SELECT doc_id,
           CASE WHEN {_sql_hash_bucket('doc_id', 100)} < 90 THEN 'train'
                WHEN {_sql_hash_bucket('doc_id', 100)} < 95 THEN 'val'
                ELSE 'test' END AS split
    FROM documents
    """,
)
def docs_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """90/5/5 train/val/test assignment by hash bucket — stable across
    runs and engines, so no document ever migrates between splits when
    the corpus grows (bucket is a pure function of doc_id)."""
    d = table(spark, sf_dir, "documents")
    b = _hash_bucket(F.col("doc_id"), 100)
    return d.select(
        "doc_id",
        F.when(b < 90, "train").when(b < 95, "val").otherwise("test").alias("split"),
    )


FUNNEL_MIN_CHARS = 150
FUNNEL_MAX_CHARS = 2000
FUNNEL_MIN_TOKENS = 25


@register(
    "docs_filter_funnel",
    oracle=f"""
    WITH flags AS (
      SELECT doc_id,
             lang = 'en' AS f_lang,
             n_chars BETWEEN {FUNNEL_MIN_CHARS} AND {FUNNEL_MAX_CHARS} AS f_len,
             len(string_split(trim(text), ' ')) >= {FUNNEL_MIN_TOKENS} AS f_tok
      FROM documents
    ), counts AS (
      SELECT count(*) AS n0,
             count(*) FILTER (WHERE f_lang) AS n1,
             count(*) FILTER (WHERE f_lang AND f_len) AS n2,
             count(*) FILTER (WHERE f_lang AND f_len AND f_tok) AS n3
      FROM flags
    )
    SELECT stage, n_docs,
           CAST(CAST(CAST(n_docs * 1.0 / n0 AS VARCHAR) AS DECIMAL(38,4)) AS DOUBLE)
             AS survival_rate
    FROM (
      SELECT 'all' AS stage, n0 AS n_docs, n0 FROM counts
      UNION ALL SELECT 'lang_en', n1, n0 FROM counts
      UNION ALL SELECT 'length', n2, n0 FROM counts
      UNION ALL SELECT 'min_tokens', n3, n0 FROM counts
    )
    """,
)
def docs_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-filter funnel: how many documents survive each cumulative
    filter stage (language -> length band -> minimum tokens). ONE scan,
    one tiny aggregate — conditional counts, not four filtered passes —
    then the 4 stage rows are unpivoted from the single result row."""
    d = table(spark, sf_dir, "documents")
    f_lang = F.col("lang") == "en"
    f_len = F.col("n_chars").between(FUNNEL_MIN_CHARS, FUNNEL_MAX_CHARS)
    f_tok = F.size(_tokens(F.col("text"))) >= FUNNEL_MIN_TOKENS
    counts = d.agg(
        F.count(F.lit(1)).alias("n0"),
        F.count(F.when(f_lang, 1)).alias("n1"),
        F.count(F.when(f_lang & f_len, 1)).alias("n2"),
        F.count(F.when(f_lang & f_len & f_tok, 1)).alias("n3"),
    )
    stages = counts.selectExpr(
        "n0",
        "stack(4, 'all', n0, 'lang_en', n1, 'length', n2, 'min_tokens', n3)"
        " AS (stage, n_docs)",
    )
    return stages.select(
        "stage",
        "n_docs",
        dround(F.col("n_docs") * 1.0 / F.col("n0"), 4).alias("survival_rate"),
    )


DECON_EVAL_SOURCE = "src0"  # stand-in benchmark/eval source


@register(
    "docs_decontamination",
    oracle=f"""{_SQL_GRAMS}, tagged AS (
      SELECT DISTINCT e.doc_id, d.source, {_sql_key64('e.s')} AS sk
      FROM exploded e
      JOIN documents d ON d.doc_id = e.doc_id
    ), eval_sh AS (
      SELECT DISTINCT sk FROM tagged WHERE source = '{DECON_EVAL_SOURCE}'
    )
    SELECT t.doc_id, count(*) AS n_shared_shingles
    FROM tagged t JOIN eval_sh ev ON t.sk = ev.sk
    WHERE t.source <> '{DECON_EVAL_SOURCE}'
    GROUP BY t.doc_id
    """,
)
def docs_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination screen: training documents sharing any
    word-3-gram with the eval source, with the shared-shingle count.

    Scale shape: the eval set is tiny relative to the corpus, so its
    distinct shingle set BROADCASTS and the screen is a map-side semi
    join over the training corpus — one linear pass, no shuffle on the
    big side (the standard decontamination pass before training).

    r8: shingles travel as 60-bit md5 fingerprints (the dup-span
    transform — the oracle applies the identical one, so parity is
    exact under collisions) and ``source`` rides the gram explode;
    before, the distinct exchange carried raw shingle strings and a
    second gram-volume join fetched source — a join that BROADCAST
    locally (hiding its cost from the byte counters) but would shuffle
    the full gram stream against the 100 TB documents side at scale.
    The shared count is fingerprint-distinct on both engines (collision
    fold ~n²/2^61, the documented trade)."""
    d = table(spark, sf_dir, "documents")
    # r8c: per-doc-distinct rows explode from the map-side arrays — the
    # gram-volume distinct exchange is gone; the only exchanges left are
    # the (tiny) eval-side distinct and the 1-row-per-doc final agg.
    ex = _distinct_sk_rows(_doc_distinct_gram_arrays(d, carry=("source",)))
    eval_sh = (
        ex.where(F.col("source") == DECON_EVAL_SOURCE).select("sk").distinct()
    )
    train = ex.where(F.col("source") != DECON_EVAL_SOURCE)
    # ex is already distinct per (doc_id, sk), so the per-doc shared
    # count is a plain count — no second distinct expansion.
    return (
        train.join(F.broadcast(eval_sh), "sk")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared_shingles"))
    )


@register(
    "dedup_keep_best",
    oracle=f"""{_SQL_COMPONENT_CTES}
    SELECT component, doc_id AS representative, cluster_size,
           n_chars AS rep_n_chars
    FROM (
      SELECT c.component, c.doc_id, d.n_chars,
             row_number() OVER (PARTITION BY c.component
                                ORDER BY d.n_chars DESC, c.doc_id) AS rn,
             count(*) OVER (PARTITION BY c.component) AS cluster_size
      FROM comp c JOIN documents d ON d.doc_id = c.doc_id
    )
    WHERE rn = 1
    """,
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-representative selection the way production dedup actually
    keeps documents: per near-dup component, keep the HIGHEST-QUALITY
    member (longest text, doc_id tie-break) — not the arbitrary min-id
    that dedup_components reports. One co-partitioned join (doc_id) plus
    one window over components; component partitions are near-dup
    clusters, which are small by construction, so the window never sees
    a skewed partition at any corpus size."""
    comp = dedup_components(spark, sf_dir).select("doc_id", "component")
    d = table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    joined = comp.join(d, "doc_id")
    w = Window.partitionBy("component").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    sized = joined.withColumn("rn", F.row_number().over(w)).withColumn(
        "cluster_size", F.count(F.lit(1)).over(Window.partitionBy("component"))
    )
    return sized.where(F.col("rn") == 1).select(
        "component",
        F.col("doc_id").alias("representative"),
        "cluster_size",
        F.col("n_chars").alias("rep_n_chars"),
    )


# ---------------------------------------------------------------------------
# Repetition + rule-bundle quality filters (public Gopher/C4 rule families)
# ---------------------------------------------------------------------------

# Shingles WITH duplicates (no list_distinct): repetition needs the multiset.
_SQL_SHINGLES_DUP = """
      SELECT doc_id,
             list_transform(
               range(1, greatest(len(string_split(trim(text), ' ')) - 1, 1)),
               i -> string_split(trim(text), ' ')[i] || ' '
                    || string_split(trim(text), ' ')[i+1] || ' '
                    || string_split(trim(text), ' ')[i+2]) AS shingles
      FROM documents
"""


@register(
    "docs_repetition",
    oracle=f"""
    WITH sh AS ({_SQL_SHINGLES_DUP}),
    exploded AS (
      SELECT doc_id, unnest(shingles) AS s FROM sh
    )
    SELECT doc_id,
           count(*) AS n_shingles,
           count(DISTINCT s) AS n_distinct,
           {sql_dround('1.0 - count(DISTINCT s) * 1.0 / count(*)', 4)}
             AS repetition_ratio
    FROM exploded GROUP BY doc_id
    """,
)
def docs_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeated-3-gram ratio — the standard repetition quality signal
    (templated/spun text repeats shingles; clean prose rarely does).

    r8c: ZERO-shuffle. n_shingles is token arithmetic (every position
    yields one gram) and n_distinct is the size of the map-side per-doc
    distinct-array (STRING elements — matches count(DISTINCT s)
    exactly, no fingerprint transform when only the size is read); the
    old shape paid count_distinct's gram-volume dedup exchange."""
    d = table(spark, sf_dir, "documents")
    dd = d.select(
        "doc_id", "text", F.size(_tokens(F.col("text"))).alias("n_tokens")
    )
    arr = _doc_distinct_gram_arrays(dd, lambda g: g, carry=("n_tokens",))
    n_sh = (F.col("n_tokens") - 2).cast("long")
    return arr.select(
        "doc_id",
        n_sh.alias("n_shingles"),
        F.size("arr").cast("long").alias("n_distinct"),
        dround(1.0 - F.size("arr") * 1.0 / n_sh, 4).alias("repetition_ratio"),
    )


GOPHER_MIN_WORDS = 40
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MWL = 3.0
GOPHER_MAX_MWL = 10.0


@register(
    "docs_gopher_filters",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, n_chars, text,
             string_split(trim(text), ' ') AS tokens
      FROM documents
    ), stats AS (
      SELECT doc_id, n_chars,
             len(tokens) AS n_words,
             list_sum(list_transform(tokens, t -> length(t))) AS char_sum,
             len(list_filter(tokens, t -> t IN ('the', 'a'))) AS stop_hits,
             length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS n_alpha
      FROM toks
    )
    SELECT doc_id, n_words,
           {sql_dround('char_sum * 1.0 / greatest(n_words, 1)', 2)} AS mean_word_len,
           {sql_dround('n_alpha * 1.0 / greatest(n_chars, 1)', 4)} AS alpha_ratio,
           stop_hits,
           (n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS}
            AND char_sum * 1.0 / greatest(n_words, 1)
                BETWEEN {GOPHER_MIN_MWL} AND {GOPHER_MAX_MWL}
            AND stop_hits >= 1) AS keep
    FROM stats
    """,
)
def docs_gopher_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rule-bundle quality gate in the style of the published Gopher
    heuristics: word-count band, mean-word-length band, and a
    stopword-presence check, plus an alphabetic-character ratio. All
    native expressions over one scan — the per-document flags feed
    docs_filter_funnel-style mix construction; thresholds are module
    constants so a corpus tune is one edit."""
    d = table(spark, sf_dir, "documents")
    toks = _tokens(F.col("text"))
    n_words = F.size(toks)
    char_sum = F.aggregate(
        toks, F.lit(0), lambda acc, t: acc + F.length(t)
    )
    mwl = char_sum * 1.0 / F.greatest(n_words, F.lit(1))
    stop_hits = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS)))
    n_alpha = F.length(F.regexp_replace(F.col("text"), "[^a-zA-Z]", ""))
    return d.select(
        "doc_id",
        n_words.alias("n_words"),
        dround(mwl, 2).alias("mean_word_len"),
        dround(n_alpha * 1.0 / F.greatest(F.col("n_chars"), F.lit(1)), 4).alias(
            "alpha_ratio"
        ),
        stop_hits.alias("stop_hits"),
        (
            n_words.between(GOPHER_MIN_WORDS, GOPHER_MAX_WORDS)
            & mwl.between(GOPHER_MIN_MWL, GOPHER_MAX_MWL)
            & (stop_hits >= 1)
        ).alias("keep"),
    )


# ---------------------------------------------------------------------------
# Embedding int8 quantization (storage/bandwidth compression for ANN)
# ---------------------------------------------------------------------------


@register(
    "embedding_quantization",
    oracle=f"""
    WITH vecs AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
    ), scaled AS (
      SELECT vec_id, label, v,
             list_max(list_transform(v, x -> abs(x))) / 127.0 AS s
      FROM vecs
    ), deq AS (
      SELECT vec_id, label, v,
             CASE WHEN s > 0
                  THEN list_transform(v, x -> floor(x / s + 0.5) * s)
                  ELSE v END AS d
      FROM scaled
    ), cos AS (
      SELECT vec_id, label,
             list_dot_product(v, d)
               / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(d, d)))
               AS c
      FROM deq
    )
    SELECT label,
           count(*) AS n_vectors,
           {sql_davg('c', 6)} AS avg_cosine,
           {sql_dround('min(c)', 6)} AS min_cosine
    FROM cos GROUP BY label
    """,
)
def embedding_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization quality report: quantize each vector
    with a per-vector scale (max_abs/127, the standard scheme), dequantize
    and measure cosine fidelity per label. At 100 TB this is a 4x
    storage/bandwidth cut for ANN sharding; the report is the gate that
    says whether recall survives. Quantization uses floor(x/s + 0.5)
    (round-half-toward-+inf) — identical on both engines, unlike
    round(), which half-ties differently. Fully shuffle-free per vector;
    one tiny per-label aggregate at the end."""
    e = table(spark, sf_dir, "embeddings").withColumn(
        "v", F.col("embedding").cast("array<double>")
    )
    s = F.array_max(F.transform(F.col("v"), lambda x: F.abs(x))) / 127.0
    scaled = e.withColumn("s", s)
    deq = scaled.withColumn(
        "d",
        F.when(
            F.col("s") > 0,
            F.transform(F.col("v"), lambda x: F.floor(x / F.col("s") + 0.5) * F.col("s")),
        ).otherwise(F.col("v")),
    )
    cos = deq.withColumn("c", _cosine(F.col("v"), F.col("d")))
    # avg goes through the exact-decimal route (davg): a raw double avg
    # is summation-order-dependent across engines
    return cos.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        davg(F.col("c"), 6).alias("avg_cosine"),
        dround(F.min("c"), 6).alias("min_cosine"),
    )


# ---------------------------------------------------------------------------
# Length-bucketed batching: exact-percentile quartile bins over token
# counts — the standard prep for length-sorted training batches. Two
# passes: one exact-percentile aggregate (a 1-row broadcast), then a
# single bucketing scan. The quartile fractions are dyadic (0.25/0.5/
# 0.75), so the linear interpolation inside the percentile is bit-exact
# in IEEE double on both engines regardless of how each associates the
# arithmetic — that's what makes an exact-percentile boundary safe to
# compare against. At scale the percentile pass can swap to
# percentile_approx without changing the shape.
# ---------------------------------------------------------------------------


@register(
    "docs_length_buckets",
    oracle="""
    WITH wt AS (
      SELECT doc_id, len(string_split(trim(text), ' ')) AS n_tokens FROM documents
    ), q AS (
      SELECT quantile_cont(CAST(n_tokens AS DOUBLE), 0.25) AS q1,
             quantile_cont(CAST(n_tokens AS DOUBLE), 0.50) AS q2,
             quantile_cont(CAST(n_tokens AS DOUBLE), 0.75) AS q3
      FROM wt
    )
    SELECT CASE WHEN n_tokens <= q1 THEN 'q1'
                WHEN n_tokens <= q2 THEN 'q2'
                WHEN n_tokens <= q3 THEN 'q3' ELSE 'q4' END AS bucket,
           count(*) AS n_docs,
           min(n_tokens) AS min_tokens,
           max(n_tokens) AS max_tokens,
           CAST(CAST(CAST(CAST(sum(n_tokens) AS DOUBLE) / count(*) AS VARCHAR)
                AS DECIMAL(38,4)) AS DOUBLE) AS avg_tokens
    FROM wt, q
    GROUP BY 1
    """,
)
def docs_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quartile length buckets for batch packing (see section comment)."""
    d = table(spark, sf_dir, "documents")
    wt = d.select("doc_id", _n_tokens(F.col("text")).alias("n_tokens"))
    q = wt.agg(
        F.percentile(F.col("n_tokens").cast("double"), F.lit(0.25)).alias("q1"),
        F.percentile(F.col("n_tokens").cast("double"), F.lit(0.50)).alias("q2"),
        F.percentile(F.col("n_tokens").cast("double"), F.lit(0.75)).alias("q3"),
    )
    n = F.col("n_tokens")
    return (
        wt.crossJoin(F.broadcast(q))
        .select(
            "n_tokens",
            F.when(n <= F.col("q1"), "q1")
            .when(n <= F.col("q2"), "q2")
            .when(n <= F.col("q3"), "q3")
            .otherwise("q4")
            .alias("bucket"),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n_tokens").alias("min_tokens"),
            F.max("n_tokens").alias("max_tokens"),
            dround(
                F.sum("n_tokens").cast("double") / F.count(F.lit(1)), 4
            ).alias("avg_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# Weighted training-mix sampling: per-source keep rates (up/down-weighting
# sources is how training mixes are tuned). Same content-addressed hash
# bucketing as docs_hash_sample, but the threshold comes from a per-source
# rate table — a broadcast join, so the whole mix is one shuffle-free
# filter pass over the corpus, deterministic across engines and re-runs.
# ---------------------------------------------------------------------------


def _mix_rate_sql() -> str:
    # src0..src19: rate rises with the numeric suffix mod 4 (25/50/75/100%)
    return "(25 * (1 + CAST(substr(source, 4) AS INTEGER) % 4))"


@register(
    "docs_weighted_mix",
    oracle=f"""
    SELECT source,
           count(*) AS n_kept,
           min({_sql_hash_bucket('doc_id', 100)}) AS min_bucket,
           max({_sql_hash_bucket('doc_id', 100)}) AS max_bucket
    FROM documents
    WHERE {_sql_hash_bucket('doc_id', 100)} < {_mix_rate_sql()}
    GROUP BY source
    """,
)
def docs_weighted_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source weighted sampling: keep rate 25/50/75/100% by source
    (derived from the source id here; a real mix ships the rate table as
    a broadcast dim). Pure filter — no shuffle until the audit count."""
    d = table(spark, sf_dir, "documents")
    rate = 25 * (
        1 + F.substring(F.col("source"), 4, 10).cast("int") % 4
    )
    bucket = _hash_bucket(F.col("doc_id"), 100)
    return (
        d.where(bucket < rate)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.min(bucket).alias("min_bucket"),
            F.max(bucket).alias("max_bucket"),
        )
    )


# ---------------------------------------------------------------------------
# Sequence packing (GPT-style concat-and-chunk): lay the token stream out
# per shard in a stable order, running-sum the lengths, and assign each
# document to the 2048-token chunk its first token lands in. The window
# is partitioned by shard (content-addressed), so parallelism is the
# shard count and no global order exists — the standard way packing runs
# on a cluster. Pure integer arithmetic: trivially hash-exact.
# ---------------------------------------------------------------------------

PACK_SEQ_LEN = 2048
PACK_SHARDS = 8


@register(
    "docs_pack_sequences",
    oracle=f"""
    WITH wt AS (
      SELECT doc_id,
             {_sql_hash_bucket('doc_id', PACK_SHARDS)} AS shard,
             len(string_split(trim(text), ' ')) AS n_tokens
      FROM documents
    ), laid AS (
      SELECT shard, n_tokens,
             sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING) AS cum
      FROM wt
    )
    SELECT shard,
           -- DuckDB '/' is float division and CAST..BIGINT rounds
           -- half-even; floor() matches Spark's F.floor exactly
           CAST(floor((cum - n_tokens) / {PACK_SEQ_LEN}) AS BIGINT) AS pack_id,
           count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS n_tokens
    FROM laid
    GROUP BY shard, pack_id
    """,
)
def docs_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-shard concat-and-chunk packing summary (see section comment).
    pack_id = floor(start_offset / seq_len): which 2048-token training
    chunk this document starts in."""
    d = table(spark, sf_dir, "documents")
    # NULL-text guard (r14 fuzz find, see _n_tokens): unguarded, a
    # NULL-text doc would pack into pack 0 with a NEGATIVE (-1) token
    # contribution; the oracle's NULL rides the running sum without
    # perturbing it and lands in a NULL pack_id group — mirror that.
    wt = d.select(
        "doc_id",
        _hash_bucket(F.col("doc_id"), PACK_SHARDS).alias("shard"),
        _n_tokens(F.col("text")).alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    laid = wt.select(
        "shard",
        "n_tokens",
        F.sum("n_tokens").over(w).alias("cum"),
    )
    return (
        laid.select(
            "shard",
            "n_tokens",
            F.floor((F.col("cum") - F.col("n_tokens")) / PACK_SEQ_LEN).alias(
                "pack_id"
            ),
        )
        .groupBy("shard", "pack_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# Iterative numeric ML: 2 unrolled Lloyd k-means iterations (K=4, init =
# vec_id 0..3), exactly the shape MLlib's KMeans distributes — assign is
# a broadcast join against the K x dims centroid table (K*dims rows, KB),
# update is one groupBy mean. Cross-engine exactness does the heavy
# lifting here: squared-distance terms and coordinate sums go through the
# string-route decimal (order-independent), so both engines compute
# bit-identical centroids and the argmin (ORDER BY d2, cid) can never
# flip — an iterative floating-point algorithm with a hash-exact oracle.
# The components fixpoint (dedup_components) is the graph sibling.
# ---------------------------------------------------------------------------

KMEANS_K = 4
_EMB_DIMS = 64

def _sql_kmeans_assign(pts: str, cent: str, out: str) -> str:
    """One assignment round: d2 = |x|² − 2·x·c + |c|² from PRECOMPUTED
    norms plus one dot product per (vector, centroid) — the identical
    IEEE scalar combination the Spark side evaluates, over dot products
    the cosine oracles already prove bit-identical across engines
    (``list_dot_product`` ≡ the index-order ``aggregate`` fold).
    Argmin breaks exact-tie doubles by cid."""
    return f"""j_{out} AS (
      SELECT p.vec_id, c.cid,
             (p.nx - 2 * list_dot_product(p.emb, c.carr) + c.nc) AS d2
      FROM {pts} p CROSS JOIN {cent} c
    ), {out} AS (
      SELECT vec_id, cid, d2 FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
        FROM j_{out}
      ) WHERE rn = 1
    )"""


def sql_kmeans_chain(k_expr: str) -> str:
    """DuckDB CTE chain e/c0/a1/m1/c1/a2 — 2 Lloyd rounds with the
    centroid count given as a SQL integer expression (a literal for
    ``embedding_kmeans``, a count-derived scalar subquery for the
    adaptive-K SemDeDup). Twin of :func:`kmeans_assignments`: distances
    are deterministic doubles from proven-identical dot-product folds;
    centroid MEANS stay on the exact string-route decimal sum (order-
    independent), so the doubles entering round 2 are bit-identical on
    both engines.

    Precondition (shared with :func:`kmeans_assignments`): embeddings
    are fixed-length non-null-element vectors (64-dim in the testdata).
    A ragged or null-element array does not diverge silently — Spark's
    ``zip_with`` dot pads with null and yields NULL d2 while DuckDB's
    ``list_dot_product`` raises — but the failure mode differs per
    engine, so callers feeding non-curated embedding columns must
    pre-filter on ``size(emb) = <dim>`` and element non-nullness."""
    return f"""e AS (
      SELECT vec_id, embedding::DOUBLE[] AS emb,
             list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) AS nx
      FROM embeddings WHERE embedding IS NOT NULL
    ), c0 AS (
      SELECT vec_id AS cid, emb AS carr, nx AS nc FROM e WHERE vec_id < {k_expr}
    ), {_sql_kmeans_assign('e', 'c0', 'a1')}, m1 AS (
      SELECT a1.cid, p.dim,
             CAST(sum(CAST(CAST(p.x AS VARCHAR) AS DECIMAL(28,10))) AS DOUBLE)
               / count(*) AS c
      FROM (SELECT vec_id, i - 1 AS dim, emb[i] AS x
            FROM e, generate_series(1, {_EMB_DIMS}) AS t(i)) p
      JOIN a1 USING (vec_id) GROUP BY a1.cid, p.dim
    ), c1 AS (
      SELECT cid, carr, list_dot_product(carr, carr) AS nc FROM (
        SELECT cid, list(c ORDER BY dim) AS carr FROM m1 GROUP BY cid
      )
    ), {_sql_kmeans_assign('e', 'c1', 'a2')}"""


@register(
    "embedding_kmeans",
    oracle=f"""
    WITH {sql_kmeans_chain(str(KMEANS_K))}
    SELECT cid, count(*) AS n_members,
           {sql_dround(
               'CAST(sum(CAST(CAST(d2 AS VARCHAR) AS DECIMAL(28,10))) AS DOUBLE)',
               4,
           )} AS inertia
    FROM a2 GROUP BY cid
    """,
)
def embedding_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2 Lloyd iterations over the embeddings (see section comment);
    returns per-centroid membership and inertia after iteration 2. The
    per-vector d2 doubles are bit-identical across engines (see
    kmeans_assignments), and the cross-member inertia SUM goes through
    the string-route decimal so it is partial-order-independent."""
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    from . import DEC

    a2 = kmeans_assignments(e, KMEANS_K)
    return a2.groupBy("cid").agg(
        F.count(F.lit(1)).alias("n_members"),
        dround(
            F.sum(F.col("d2").cast("string").cast(DEC)).cast("double"), 4
        ).alias("inertia"),
    )


def kmeans_assignments(e: DataFrame, k: int) -> DataFrame:
    """(vec_id, cid, d2) after 2 exact-decimal Lloyd rounds over any
    frame with (vec_id, emb: array<double>); init = the points with
    vec_id < k. The shared clustering core of ``embedding_kmeans`` and
    the cluster-bounded SemDeDup (curation_suite) — the decimal
    string-route distance/mean arithmetic makes assignments
    bit-identical across engines and partitionings, so both consumers
    carry hash-exact oracles.

    Assignment is the MLlib shape made declarative: the K centroids
    travel as a BROADCAST side of a nested-loop join (K rows of
    array<double> — ≤ a few MB at the 4096-cluster cap, never literal
    expressions), each vector's K squared distances come MAP-SIDE from
    d2 = |x|² − 2·x·c + |c|² with both norms precomputed (one proven
    dot-product fold per pair, the _SQL_COS_AB parity pattern), and the
    argmin is a ``min(struct(d2, cid))`` hash aggregate whose map-side
    combine reduces each vector to ONE row before the exchange — the
    assign shuffle is n rows, independent of K. (The first cut shuffled
    the per-(vec, cid) distance partials — n·K rows, quadratic once K
    scales with n: measured alpha 1.79, SCALE.md capacity plan;
    this shape brings the exponent below 1.) The n·K·d distance
    arithmetic itself is irreducible Lloyd work, embarrassingly
    parallel and shuffle-free. The centroid-update shuffle is
    (cid, dim) partials — bounded by K·d per mapper, not by n.
    Determinism: each dot is an index-order fold (partition-
    independent), the d2 combination is one fixed IEEE expression, and
    exact double ties break by cid — so assignments are bit-identical
    across engines and partitionings without any per-term decimal
    casts in the hot path (centroid MEANS keep the exact decimal sum:
    they feed round 2 and must be order-independent)."""
    from . import DEC

    # SQL-string spellings of the identical expressions (r14 build-cost
    # cut — kmeans_assignments measured ~0.43 s of py4j plan-build per
    # invocation through the Column/lambda API; see _dot_sql)
    ev = e.where(F.col("emb").isNotNull()).selectExpr(
        "vec_id", "emb", f"{_dot_sql('emb', 'emb')} AS nx"
    )

    def assign(cent: DataFrame) -> DataFrame:
        scored = ev.crossJoin(F.broadcast(cent)).selectExpr(
            "vec_id",
            "cid",
            f"nx - 2 * {_dot_sql('emb', 'carr')} + nc AS d2",
        )
        best = scored.groupBy("vec_id").agg(
            F.expr("min(struct(d2, cid)) AS b")
        )
        return best.selectExpr("vec_id", "b.cid AS cid", "b.d2 AS d2")

    # .limit(k) on both centroid frames is a no-op row-wise (vec_id is
    # unique so the filter already yields ≤ k rows; groupBy(cid) yields
    # ≤ k groups) but it makes the ≤-k bound EXPLICIT in the physical
    # plan, which is what certifies the broadcast side of the
    # nested-loop assign join for the plan lint's O(n²) guard.
    cents0 = (
        ev.where(F.col("vec_id") < k)
        .select(
            F.col("vec_id").alias("cid"),
            F.col("emb").alias("carr"),
            F.col("nx").alias("nc"),
        )
        .limit(k)
    )
    a1 = assign(cents0)
    pts = ev.selectExpr("vec_id", "posexplode(emb) AS (dim, x)")
    c1_dims = (
        pts.join(a1.select("vec_id", "cid"), "vec_id")
        .groupBy("cid", "dim")
        .agg(
            F.expr(
                f"cast(sum(cast(cast(x AS string) AS {DEC})) AS double)"
                " / count(1) AS c"
            )
        )
    )
    c1 = c1_dims.groupBy("cid").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(dim, c))), s -> s.c)"
            " AS carr"
        )
    )
    c1 = c1.selectExpr(
        "cid", "carr", f"{_dot_sql('carr', 'carr')} AS nc"
    ).limit(k)
    return assign(c1)


# ---------------------------------------------------------------------------
# Higher-order array functions in the hot path: per-document token-length
# profile via transform -> sort -> slice -> aggregate, all inside
# whole-stage codegen (no explode, no shuffle — the array never leaves
# the row). The pattern that replaces a Python "for token in doc" loop.
# ---------------------------------------------------------------------------


@register(
    "docs_token_length_profile",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             list_transform(string_split(trim(text), ' '), x -> length(x)) AS lens
      FROM documents
    )
    SELECT doc_id,
           list_sort(lens, 'DESC')[1] AS top1_len,
           list_sort(lens, 'DESC')[2] AS top2_len,
           list_sort(lens, 'DESC')[3] AS top3_len,
           len(list_filter(lens, x -> x >= 8)) AS n_long,
           CAST(list_sum(lens) AS BIGINT) AS total_chars
    FROM t
    """,
)
def docs_token_length_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    lens = F.transform(
        F.split(F.trim(F.col("text")), " "), lambda x: F.length(x)
    )
    desc = F.reverse(F.array_sort(lens))
    return d.select(
        "doc_id",
        # scalar columns, not the array itself: the driver canonicalizer
        # cannot hash array cells (the approx_user_stats r1 lesson)
        F.element_at(desc, 1).alias("top1_len"),
        F.element_at(desc, 2).alias("top2_len"),
        F.element_at(desc, 3).alias("top3_len"),
        F.size(F.filter(lens, lambda x: x >= 8)).alias("n_long"),
        F.aggregate(lens, F.lit(0).cast("bigint"), lambda a, x: a + x).alias(
            "total_chars"
        ),
    )


# ---------------------------------------------------------------------------
# Null-safe equi-join (<=> / IS NOT DISTINCT FROM): the exact semantics
# the merge upsert uses for nullable conflict keys (fact_enrollments'
# NULL course_sk — SURVEY §7 trap 6), exhibited as an oracle-checked
# query: NULL keys match NULL lookup rows instead of dropping.
# ---------------------------------------------------------------------------


@register(
    "orders_null_safe_join",
    oracle="""
    WITH o AS (
      SELECT o_orderkey,
             CASE WHEN o_orderpriority = '3-MEDIUM' THEN NULL
                  ELSE o_orderpriority END AS prio_key
      FROM orders
    ), lk AS (
      SELECT * FROM (VALUES ('1-URGENT', 100), ('2-HIGH', 50), (NULL, 0))
        AS t(prio_key, boost)
    )
    SELECT lk.prio_key, lk.boost, count(*) AS n_orders
    FROM o JOIN lk ON o.prio_key IS NOT DISTINCT FROM lk.prio_key
    GROUP BY lk.prio_key, lk.boost
    """,
)
def orders_null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").select(
        F.when(F.col("o_orderpriority") == "3-MEDIUM", None)
        .otherwise(F.col("o_orderpriority"))
        .alias("prio_key")
    )
    lk = F.broadcast(
        o.sparkSession.createDataFrame(
            [("1-URGENT", 100), ("2-HIGH", 50), (None, 0)], ["prio_key", "boost"]
        )
    )
    return (
        o.join(lk, o["prio_key"].eqNullSafe(lk["prio_key"]))
        .groupBy(lk["prio_key"].alias("prio_key"), "boost")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


# ---------------------------------------------------------------------------
# Corpus n-gram frequency table: top bigrams with document frequency —
# the vocabulary/statistics pass every corpus pipeline runs. Shingle
# explode reuses the posexplode+lead shape (linear); the count keys on
# the bigram itself, where AQE skew-join/agg splitting absorbs the
# Zipfian head at scale.
# ---------------------------------------------------------------------------


@register(
    "docs_bigram_freq",
    oracle="""
    WITH bi0 AS (
      -- zip the token list against its own tail: length-robust (no
      -- fixed series cap), one row per adjacent pair
      SELECT doc_id, unnest(list_zip(t, list_slice(t, 2, len(t)))) AS p
      FROM (SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents)
    ), bi AS (
      SELECT doc_id, p[1] || ' ' || p[2] AS bigram FROM bi0
      WHERE p[2] IS NOT NULL
    )
    SELECT bigram, count(*) AS n, count(DISTINCT doc_id) AS df
    FROM bi GROUP BY bigram
    ORDER BY n DESC, bigram
    LIMIT 20
    """,
)
def docs_bigram_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 bigrams by corpus frequency with document frequency,
    deterministic (n DESC, bigram) tie-break.

    r11 (VERDICT r10 #3 family): bigrams were built with lead() over a
    Window.partitionBy(doc_id) — a sort+exchange of the FULL token
    volume before any aggregation — and counted with count_distinct
    (a second, expanded exchange). Both are gone: per-doc bigram
    counts come from the map-side run-length machinery
    (_doc_elem_counts over the gram_rows-style sliced array), and on
    per-doc-distinct rows n is sum(cnt) and df is count(*) — one
    vocabulary-bounded exchange total."""
    d = table(spark, sf_dir, "documents")
    counts = _doc_elem_counts(
        d,
        lambda t: (
            f"transform(sequence(1, size({t}) - 1), "
            f"bi -> array_join(slice({t}, bi, 2), ' '))"
        ),
        out="bigram",
        min_toks=2,
    )
    return (
        counts.groupBy("bigram")
        .agg(
            F.sum("cnt").alias("n"),
            F.count(F.lit(1)).alias("df"),
        )
        .orderBy(F.desc("n"), "bigram")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# TF-IDF top terms per document. tf is built entirely MAP-SIDE (r11,
# VERDICT r10 #3): a document's term counts are a function of its own
# row, so the (doc, term) hash aggregate the r1 shape paid — plus the
# sort-merge df join and the window exchange, three full passes of the
# doc-term frame, sh/in 5.2 — collapses to run-length-encoding the
# SORTED token array inside the row (the _doc_distinct_gram_arrays
# trick, extended to carry run lengths). df then aggregates the
# already-per-doc-distinct exploded runs (vocabulary-bounded exchange
# after map-side partial sums) and joins BACK by broadcast, so the only
# remaining full pass of the doc-term frame is the unavoidable
# row_number exchange on doc_id. The score is rounded through the
# string route BEFORE ranking so the row_number ordering (tfidf DESC,
# term) is identical on both engines — ranking on the raw double would
# let a 1-ulp ln() divergence flip tie order. At 100 TB: tf is
# zero-exchange; df is vocabulary-sized (Heaps' law keeps natural-
# language vocab far below the corpus — if a pathological vocabulary
# ever outgrew the broadcast bar, drop the hint and AQE falls back to a
# shuffled join on term); one doc-term exchange for the ranking.
# ---------------------------------------------------------------------------


@register(
    "docs_tfidf_top_terms",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(trim(text), ' ')) AS term
      FROM documents
    ), tf AS (
      SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2
    ), df AS (
      SELECT term, count(*) AS df FROM tf GROUP BY 1
    ), n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term, tf.tf, df.df,
             {sql_dround('tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df)', 6)}
               AS tfidf
      FROM tf JOIN df USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, tf, df, tfidf, rnk FROM (
      SELECT *, row_number() OVER (
        PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rnk
      FROM scored)
    WHERE rnk <= 3
    """,
)
def docs_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document (classic smooth-free idf =
    ln(N/df)), deterministic (rounded-score DESC, term) ranking."""
    d = table(spark, sf_dir, "documents")
    # Per-doc (term, tf) with ZERO exchange: map-side run-length counts
    # over the sorted token array (_doc_elem_counts).
    tf = _doc_elem_counts(d, lambda t: t, out="term").withColumnRenamed(
        "cnt", "tf"
    )
    # Rows are per-doc distinct on term, so df is a plain count with
    # map-side partial sums: the exchange carries at most |vocab| rows
    # per input partition, never the doc-term volume.
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            dround(
                F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")),
                6,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), "term")
    return scored.select(
        "doc_id", "term", "tf", "df", "tfidf", F.row_number().over(w).alias("rnk")
    ).where(F.col("rnk") <= 3)


# ---------------------------------------------------------------------------
# Fixed-width histogram: one scan, one hash agg on a derived integer
# bucket; the share-of-total rides a partition-less window over the
# bucket rows (bounded domain), not a second scan. floor(x / width) on a
# double is IEEE-identical across engines, so the bucket key itself is
# oracle-exact.
# ---------------------------------------------------------------------------


@register(
    "events_value_histogram",
    oracle=f"""
    WITH b AS (
      SELECT CAST(floor(value / 50) AS BIGINT) AS bucket, count(*) AS n
      FROM events GROUP BY 1
    )
    SELECT bucket, bucket * 50.0 AS lo, (bucket + 1) * 50.0 AS hi, n,
           {sql_dround('CAST(n AS DOUBLE) / sum(n) OVER ()', 8)} AS share
    FROM b
    """,
)
def events_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width (50-unit) value histogram with share-of-total."""
    e = table(spark, sf_dir, "events")
    b = e.groupBy(
        F.floor(F.col("value") / 50).cast("long").alias("bucket")
    ).agg(F.count(F.lit(1)).alias("n"))
    total = Window.partitionBy()
    return b.select(
        "bucket",
        (F.col("bucket") * 50.0).alias("lo"),
        ((F.col("bucket") + 1) * 50.0).alias("hi"),
        "n",
        dround(F.col("n").cast("double") / F.sum("n").over(total), 8).alias(
            "share"
        ),
    )


# ---------------------------------------------------------------------------
# RAG-style overlapping token chunking (size 32, stride 16): the
# embedding-prep twin of docs_pack_sequences (which is the training-prep
# shape). Chunk starts come from sequence()+posexplode — linear in token
# count, shuffle-free (narrow transforms only); the md5 chunk digest
# makes the output oracle-exact and is the content address a downstream
# embedding cache would key on. At 100 TB this is a map-only pass whose
# output is ~2x the input tokens (stride = size/2), the expected ratio.
# ---------------------------------------------------------------------------

CHUNK_SIZE = 32
CHUNK_STRIDE = 16


@register(
    "docs_chunk_overlap",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, string_split(trim(text), ' ') AS toks FROM documents
    ), starts AS (
      SELECT doc_id, toks, unnest(generate_series(0, len(toks) - 1, {CHUNK_STRIDE}))
               AS start
      FROM t
    ), chunks AS (
      SELECT doc_id, CAST(start / {CHUNK_STRIDE} AS BIGINT) AS chunk_idx, start,
             list_slice(toks, start + 1, least(start + {CHUNK_SIZE}, len(toks)))
               AS chunk
      FROM starts
    )
    SELECT doc_id, chunk_idx, start, len(chunk) AS n_tokens,
           md5(array_to_string(chunk, ' ')) AS chunk_md5
    FROM chunks
    """,
)
def docs_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping 32-token chunks at stride 16 per document, with a
    content-address digest per chunk."""
    d = table(spark, sf_dir, "documents")
    toks = d.select("doc_id", _tokens(F.col("text")).alias("toks"))
    starts = toks.select(
        "doc_id",
        "toks",
        F.explode(
            F.sequence(
                F.lit(0), F.size("toks") - 1, F.lit(CHUNK_STRIDE)
            )
        ).alias("start"),
    )
    chunk = F.slice(F.col("toks"), F.col("start") + 1, CHUNK_SIZE)
    return starts.select(
        "doc_id",
        (F.col("start") / CHUNK_STRIDE).cast("long").alias("chunk_idx"),
        "start",
        F.size(chunk).alias("n_tokens"),
        F.md5(F.array_join(chunk, " ")).alias("chunk_md5"),
    )


# ---------------------------------------------------------------------------
# Corpus rebalancing: per-language stratified hash sampling. Training-data
# mixes routinely downsample over-represented languages; the keep/drop
# decision must be a pure function of the document id (reproducible,
# shuffle-free, re-runnable on a grown corpus without resampling old
# docs). One map-side predicate per row — no shuffle at any corpus size.
# ---------------------------------------------------------------------------

# keep-rate per language as an INTEGER uint32 threshold (rate * 2^32),
# so both engines compare the same md5-derived integer — no float rates
STRATA_THRESHOLDS = {
    "en": 858993459,  # 20% — over-represented, downsample hard
    "de": 2147483648,  # 50%
    "fr": 2147483648,  # 50%
    "es": 2147483648,  # 50%
}
STRATA_DEFAULT_THRESHOLD = 4294967296  # keep everything else (zh, ...)


@register(
    "docs_stratified_sample",
    oracle=f"""
    WITH hashed AS (
      SELECT doc_id, lang, source,
             CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                  AS UINTEGER) AS BIGINT) AS h
      FROM documents
    )
    SELECT doc_id, lang, source FROM hashed
    WHERE h < CASE lang
      {" ".join(f"WHEN '{k}' THEN {v}" for k, v in STRATA_THRESHOLDS.items())}
      ELSE {STRATA_DEFAULT_THRESHOLD} END
    """,
)
def docs_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-language stratified sample: keep doc iff
    uint32(md5(doc_id)[:8]) < rate_for(lang) * 2^32. Thresholds are
    integer literals so Spark and the oracle compare identical values."""
    d = table(spark, sf_dir, "documents")
    h = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast(
        "long"
    )
    thr = F.lit(STRATA_DEFAULT_THRESHOLD)
    for lang, t in STRATA_THRESHOLDS.items():
        thr = F.when(F.col("lang") == lang, F.lit(t)).otherwise(thr)
    return d.where(h < thr).select("doc_id", "lang", "source")


# ---------------------------------------------------------------------------
# Exact duplicated-span detection (the exact-substring side of training
# -data dedup, in the spirit of Lee et al.'s "Deduplicating Training Data
# Makes Language Models Better"): a position is "duplicated" when the
# k-token gram starting there also appears in ANOTHER document. Linear
# pipeline — gram df via one hash agg, join back, per-doc agg; never a
# doc-pair join, so templated corpora cannot blow it up.
# ---------------------------------------------------------------------------

DUP_SPAN_K = 8  # tokens per gram

# 60-bit gram fingerprint: the two gram-keyed exchanges of the dup-span
# family (gram-df aggregate + df join-back) carried the raw ~50-byte
# 8-token gram text; LZ4 shrinks text but the keys still dominated the
# wire. Keying on the first 15 hex chars of md5 (< 2^60, fits a signed
# long on BOTH engines — no unsigned overflow) measured 15.4 → 5.6 MB
# shuffle at sf0.1 (2.75×; SCALE.md capacity-plan protocol). The
# oracle applies the IDENTICAL transform, so engine parity is exact
# even if fingerprints collide; the collision effect on the SIGNAL is a
# false df-merge at ~n_grams²/2^61 — ~4e-7 of grams at 10¹² — the
# standard fingerprint trade of production exact-substring dedup.
@register(
    "docs_dup_spans",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents
    ), grams AS (
      SELECT doc_id, {_SQL_GRAM_KEY64} AS gk FROM (
        SELECT doc_id,
               unnest(list_transform(
                 range(1, len(t) - {DUP_SPAN_K} + 2),
                 i -> array_to_string(list_slice(t, i, i + {DUP_SPAN_K} - 1), ' ')
               )) AS g
        FROM toks WHERE len(t) >= {DUP_SPAN_K}
      )
    ), gdf AS (
      SELECT gk, count(DISTINCT doc_id) AS df FROM grams GROUP BY gk
    ), marked AS (
      SELECT grams.doc_id, (gdf.df >= 2) AS dup
      FROM grams JOIN gdf ON grams.gk = gdf.gk
    )
    SELECT doc_id,
           count(*) AS n_grams,
           CAST(sum(CASE WHEN dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_grams,
           {sql_dround("sum(CASE WHEN dup THEN 1 ELSE 0 END) * 1.0 / count(*)", 4)}
             AS dup_ratio
    FROM marked GROUP BY doc_id
    """,
)
def docs_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-span profile over 8-token grams.

    gram-df >= 2 (another doc shares the exact 8-token span) marks the
    position duplicated; output is each doc's duplicated-position count
    and ratio — the signal exact-substring dedup pipelines threshold on.
    Grams travel as 60-bit md5 fingerprints (see _SQL_GRAM_KEY64: 2.75×
    less shuffle, oracle applies the identical transform).
    """
    d = table(spark, sf_dir, "documents")
    # r15 (VERDICT r14 #3): ONE gram+md5 pass over the corpus, persisted
    # as 8 B/position arrays; all three legs below derive from it
    # map-side (previously: two full gram pipelines + a third doc scan).
    ga = persist_tracked(_gram_key_arrays(d, DUP_SPAN_K))
    grams = ga.select("doc_id", F.explode("garr").alias("gk"))
    # r8c: df from the zero-shuffle per-doc-distinct rows — a plain
    # count(*) with map-side partials (vocabulary-bounded exchange)
    # instead of count_distinct's gram-volume dedup exchange
    sks = _distinct_sk_rows(_distinct_arrays(ga, "array_sort(garr)"))
    gdf = sks.groupBy("sk").agg(F.count(F.lit(1)).alias("df"))
    dup_keys = gdf.where(F.col("df") >= 2).select(F.col("sk").alias("gk"))
    # n_grams = size(garr) — identical to size(tokens) - (K-1) on the
    # >= K-token docs the garr frame keeps; no gram rows shuffled
    n_grams = ga.select("doc_id", F.size("garr").alias("n_grams"))
    dup_counts = (
        grams.join(dup_keys, "gk", "semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_dup_grams"))
    )
    return (
        n_grams.join(dup_counts, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_grams").cast("long").alias("n_grams"),
            F.coalesce(F.col("n_dup_grams"), F.lit(0)).alias("n_dup_grams"),
            dround(
                F.coalesce(F.col("n_dup_grams"), F.lit(0)) * 1.0 / F.col("n_grams"),
                4,
            ).alias("dup_ratio"),
        )
    )


# ---------------------------------------------------------------------------
# Maximal duplicated-span RANGES (the actual Lee et al. suffix-array
# output shape): consecutive duplicated gram positions merge into
# [start_pos, end_pos) token intervals via a lag-based gap-and-island
# pass. Two positions belong to one island when their K-token grams
# overlap or touch (gap <= K), so each output row is a maximal
# contiguous duplicated token range — what an exact-substring dedup
# actually cuts. Same linear gram-df pipeline as docs_dup_spans (never
# a doc-pair join); the island window shuffles on doc_id once.
# ---------------------------------------------------------------------------


@register(
    "docs_dup_span_ranges",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents
    ), grams AS (
      SELECT doc_id, i AS pos,
             array_to_string(list_slice(t, i, i + {DUP_SPAN_K} - 1), ' ') AS g
      FROM toks, LATERAL (
        SELECT unnest(range(1, len(t) - {DUP_SPAN_K} + 2)) AS i
      ) r
      WHERE len(t) >= {DUP_SPAN_K}
    ), gkeys AS (
      SELECT doc_id, pos, {_SQL_GRAM_KEY64} AS gk FROM grams
    ), gdf AS (
      SELECT gk, count(DISTINCT doc_id) AS df FROM gkeys GROUP BY gk
    ), dup_pos AS (
      SELECT gkeys.doc_id, gkeys.pos
      FROM gkeys JOIN gdf ON gkeys.gk = gdf.gk
      WHERE gdf.df >= 2
    ), flagged AS (
      SELECT doc_id, pos,
             CASE WHEN lag(pos) OVER w IS NULL
                    OR pos - lag(pos) OVER w > {DUP_SPAN_K}
                  THEN 1 ELSE 0 END AS new_island
      FROM dup_pos
      WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ), islands AS (
      SELECT doc_id, pos,
             sum(new_island) OVER (
               PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING
             ) AS span_id
      FROM flagged
    )
    SELECT doc_id, CAST(span_id AS BIGINT) AS span_id,
           min(pos) AS start_pos,
           max(pos) + {DUP_SPAN_K} AS end_pos,
           max(pos) + {DUP_SPAN_K} - min(pos) AS span_len
    FROM islands GROUP BY doc_id, span_id
    """,
)
def docs_dup_span_ranges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal duplicated token ranges [start_pos, end_pos) per document.

    A position is duplicated when its 8-token gram appears in another
    document (gram df >= 2, as docs_dup_spans); overlapping/touching
    duplicated grams merge into one maximal span. All-integer output —
    no float canonicalization needed; the island window orders by the
    unique (doc_id, pos) so ranking is tie-free. Grams travel as 60-bit
    md5 fingerprints (see _SQL_GRAM_KEY64).
    """
    d = table(spark, sf_dir, "documents")
    # r15 (VERDICT r14 #3): ONE gram+md5 pass over the corpus, persisted
    # as 8 B/position arrays shared by the instance and df legs
    # (previously two full gram pipelines over the documents table).
    # posexplode is 0-based; pos = i0 + 1 matches the old 1-based
    # sequence explode exactly.
    ga = persist_tracked(_gram_key_arrays(d, DUP_SPAN_K))
    grams = ga.select(
        "doc_id", F.posexplode("garr").alias("i0", "gk")
    ).select("doc_id", (F.col("i0") + 1).cast("long").alias("pos"), "gk")
    # r8c: df from the zero-shuffle per-doc-distinct rows (vocabulary-
    # bounded count); only DUPLICATED gram positions reach the semi-join
    # exchange, whose right side reuses the df agg's partitioning
    sks = _distinct_sk_rows(_distinct_arrays(ga, "array_sort(garr)"))
    gdf = sks.groupBy("sk").agg(F.count(F.lit(1)).alias("df"))
    dup_keys = gdf.where(F.col("df") >= 2).select(F.col("sk").alias("gk"))
    dup_pos = grams.join(dup_keys, "gk", "semi").select("doc_id", "pos")
    w = Window.partitionBy("doc_id").orderBy("pos")
    flagged = dup_pos.withColumn(
        "new_island",
        F.when(
            F.lag("pos").over(w).isNull()
            | (F.col("pos") - F.lag("pos").over(w) > DUP_SPAN_K),
            1,
        ).otherwise(0),
    )
    islands = flagged.withColumn(
        "span_id",
        F.sum("new_island").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return islands.groupBy("doc_id", "span_id").agg(
        F.min("pos").alias("start_pos"),
        (F.max("pos") + DUP_SPAN_K).alias("end_pos"),
        (F.max("pos") + DUP_SPAN_K - F.min("pos")).alias("span_len"),
    )


# ---------------------------------------------------------------------------
# Batch ANN within IVF cells: top-3 neighbors for EVERY query vector in
# one pass, searching only the query's own cell (labels stand in for
# learned IVF cells, as in knn_ivf). The whole batch is ONE equi-join on
# the cell id — parallel across queries and cells, no per-query driver
# loop, no nested-loop join anywhere.
# ---------------------------------------------------------------------------

KNN_BATCH_QUERY_MOD = 50  # every 50th vector is a query
KNN_BATCH_TOPK = 3

_BATCH_COS = (
    "list_dot_product({a}, {b}) / "
    "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))"
)


@register(
    "knn_batch_ivf",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings
    ), q AS (
      SELECT vec_id AS query_id, label, emb AS qv FROM e
      WHERE vec_id % {KNN_BATCH_QUERY_MOD} = 0
    ), scored AS (
      SELECT q.query_id, e.vec_id, e.label,
             {_BATCH_COS.format(a="e.emb", b="q.qv")} AS cos
      FROM q JOIN e ON e.label = q.label AND e.vec_id != q.query_id
    ), ranked AS (
      SELECT query_id, vec_id, label,
             CAST(CAST(CAST(cos AS VARCHAR) AS DECIMAL(38,6)) AS DOUBLE) AS cosine,
             row_number() OVER (
               PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rnk
      FROM scored
    )
    SELECT query_id, vec_id, label, cosine, rnk FROM ranked
    WHERE rnk <= {KNN_BATCH_TOPK}
    """,
)
def knn_batch_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 same-cell neighbors for every query vector in one equi-join.

    The scale path for bulk ANN: queries and corpus co-shuffle on the
    cell id once, each cell scores its own queries (cells are
    corpus/n_cells sized), and a per-query window takes the top-k with a
    deterministic (cos DESC, vec_id) order. Contrast with the per-query
    probe of knn_ivf (single lookup) and knn_bruteforce (full-scan
    baseline)."""
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("emb")
    )
    q = e.where(F.col("vec_id") % KNN_BATCH_QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("q_label"),
        F.col("emb").alias("qv"),
    )
    scored = q.join(
        e, (e.label == q.q_label) & (e.vec_id != q.query_id)
    ).select(
        "query_id",
        "vec_id",
        "label",
        _cosine(F.col("emb"), F.col("qv")).alias("cos"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= KNN_BATCH_TOPK)
        .select(
            "query_id",
            "vec_id",
            "label",
            dround(F.col("cos"), 6).alias("cosine"),
            "rnk",
        )
    )


# ---------------------------------------------------------------------------
# Incremental ingestion dedup: flag NEW documents that near-duplicate the
# EXISTING corpus without re-pairing the corpus against itself. The
# corpus side's band keys are exactly what a production pipeline keeps as
# its standing dedup index; each ingest batch only hashes itself and
# semi-joins the index — cost scales with the batch, not the corpus.
# ---------------------------------------------------------------------------

INCR_BATCH_MOD = 10  # doc_id % 10 == 9 plays the incoming batch


@register(
    "docs_incremental_dedup",
    oracle=f"""{_SQL_SIGS}, {_SQL_BANDS}, new_bands AS (
      SELECT * FROM bands WHERE doc_id % {INCR_BATCH_MOD} = {INCR_BATCH_MOD - 1}
    ), corpus_bands AS (
      SELECT * FROM bands WHERE doc_id % {INCR_BATCH_MOD} != {INCR_BATCH_MOD - 1}
    ), hits AS (
      SELECT n.doc_id, count(DISTINCT c.doc_id) AS n_corpus_matches
      FROM new_bands n JOIN corpus_bands c
        ON n.band_idx = c.band_idx AND n.band_key = c.band_key
      GROUP BY n.doc_id
    )
    SELECT d.doc_id,
           coalesce(h.n_corpus_matches, 0) AS n_corpus_matches,
           (h.doc_id IS NOT NULL) AS is_dup_candidate
    FROM (SELECT doc_id FROM documents
          WHERE doc_id % {INCR_BATCH_MOD} = {INCR_BATCH_MOD - 1}) d
    LEFT JOIN hits h ON d.doc_id = h.doc_id
    """,
)
def docs_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup flags for an ingest batch against the standing corpus.

    Both sides share one signature computation here (the corpus index
    would be precomputed in production); the candidate test is an
    equi-join on (band_idx, band_key) between batch and corpus bands —
    never batch x batch or corpus x corpus. Output: every batch doc with
    how many distinct corpus docs it collides with."""
    d = table(spark, sf_dir, "documents")
    bands = band_rows(minhash_signatures_df(d))
    is_batch = F.col("doc_id") % INCR_BATCH_MOD == INCR_BATCH_MOD - 1
    new_bands = bands.where(is_batch)
    corpus_bands = bands.where(~is_batch)
    hits = (
        new_bands.alias("n")
        .join(
            corpus_bands.alias("c"),
            (F.col("n.band_idx") == F.col("c.band_idx"))
            & (F.col("n.band_key") == F.col("c.band_key")),
        )
        .groupBy(F.col("n.doc_id").alias("doc_id"))
        .agg(F.count_distinct(F.col("c.doc_id")).alias("n_corpus_matches"))
    )
    batch_docs = d.where(is_batch).select("doc_id")
    return (
        batch_docs.join(hits.withColumnRenamed("doc_id", "h_id"),
                        batch_docs.doc_id == F.col("h_id"), "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_corpus_matches"), F.lit(0)).alias("n_corpus_matches"),
            F.col("h_id").isNotNull().alias("is_dup_candidate"),
        )
    )


# ---------------------------------------------------------------------------
# Embedding quality filtering: L2-norm outliers per IVF cell. Broken
# embeddings (zeroed, saturated, wrong scale) show up as norm outliers;
# the Tukey fence per cell is two exact percentiles over a per-cell norm
# distribution — one hash agg per cell plus a broadcast-back of the tiny
# per-cell fence table. All comparisons run on identically-quantized
# values so the flag can never straddle an engine rounding difference.
# ---------------------------------------------------------------------------


@register(
    "embedding_norm_outliers",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, label,
             {sql_dround('sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))', 6)} AS norm
      FROM embeddings
    ), fences AS (
      SELECT label,
             {sql_dround('quantile_cont(norm, 0.25) - 1.5 * (quantile_cont(norm, 0.75) - quantile_cont(norm, 0.25))', 6)} AS lo,
             {sql_dround('quantile_cont(norm, 0.75) + 1.5 * (quantile_cont(norm, 0.75) - quantile_cont(norm, 0.25))', 6)} AS hi
      FROM e GROUP BY label
    )
    SELECT e.vec_id, e.label, e.norm,
           (e.norm < f.lo OR e.norm > f.hi) AS is_outlier
    FROM e JOIN fences f ON e.label = f.label
    """,
)
def embedding_norm_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cell Tukey-fence outlier flags on embedding L2 norms.

    Norms are quantized (dround 6) BEFORE the percentile/fence math and
    the comparison, so both engines flag from identical inputs. The
    fences table is |cells| rows — broadcast back to the full set."""
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        dround(
            F.sqrt(_dot(F.col("embedding").cast("array<double>"),
                        F.col("embedding").cast("array<double>"))),
            6,
        ).alias("norm"),
    )
    q1 = F.expr("percentile(norm, 0.25)")
    q3 = F.expr("percentile(norm, 0.75)")
    fences = e.groupBy("label").agg(
        dround(q1 - 1.5 * (q3 - q1), 6).alias("lo"),
        dround(q3 + 1.5 * (q3 - q1), 6).alias("hi"),
    )
    return e.join(F.broadcast(fences), "label").select(
        "vec_id",
        "label",
        "norm",
        ((F.col("norm") < F.col("lo")) | (F.col("norm") > F.col("hi"))).alias(
            "is_outlier"
        ),
    )


# ---------------------------------------------------------------------------
# Model-free perplexity proxy: per-document mean unigram surprisal under
# the corpus's own token distribution (-ln p(t), p from one tf pass).
# The standard cheap quality score when no LM is available: gibberish and
# rare-token spam score high, templated boilerplate scores low. Linear:
# one vocabulary hash agg, one join back on token, one per-doc agg; the
# corpus total rides a broadcast scalar.
# ---------------------------------------------------------------------------


@register(
    "docs_unigram_logprob",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(trim(text), ' ')) AS t FROM documents
    ), tf AS (
      SELECT t, count(*) AS tf FROM toks GROUP BY t
    ), tot AS (
      SELECT count(*) AS n_total FROM toks
    ), scored AS (
      SELECT toks.doc_id, ln(CAST(n_total AS DOUBLE) / tf.tf) AS surprisal
      FROM toks JOIN tf ON toks.t = tf.t CROSS JOIN tot
    )
    SELECT doc_id, count(*) AS n_tokens,
           {sql_davg("surprisal", 6)} AS avg_surprisal
    FROM scored GROUP BY doc_id
    """,
)
def docs_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean per-token -ln p(token) per document, p = corpus unigram MLE.

    The surprisal sum routes through DECIMAL(28,10) (davg) so the
    per-document mean is independent of partition order on both engines;
    ln() gets bit-identical arguments (a double ratio of two bigints)."""
    d = table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(_tokens(F.col("text"))).alias("t"))
    tf = toks.groupBy("t").agg(F.count(F.lit(1)).alias("tf"))
    total = toks.agg(F.count(F.lit(1)).alias("n_total"))
    scored = (
        toks.join(tf, "t")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            F.log(F.col("n_total").cast("double") / F.col("tf")).alias("surprisal"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        davg(F.col("surprisal"), 6).alias("avg_surprisal"),
    )


# ---------------------------------------------------------------------------
# Lang-ID quality: confusion matrix of the n-gram heuristic against the
# labeled language — the monitoring query a corpus pipeline runs to decide
# whether the cheap classifier is good enough per language before routing.
# One groupBy over the scored scan; share-of-actual rides a bounded window.
# ---------------------------------------------------------------------------


@register(
    "docs_lang_confusion",
    oracle=f"""{_SQL_LANG_GUESS}
    SELECT lang, guessed_lang, count(*) AS n,
           {sql_dround('count(*) * 1.0 / sum(count(*)) OVER (PARTITION BY lang)', 6)}
             AS share_of_actual
    FROM guessed GROUP BY lang, guessed_lang
    """,
)
def docs_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(actual lang, guessed lang) counts + within-language share."""
    scored = docs_lang_id(spark, sf_dir)
    counts = scored.groupBy("lang", "guessed_lang").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("lang")
    return counts.select(
        "lang",
        "guessed_lang",
        "n",
        dround(F.col("n") * 1.0 / F.sum("n").over(w), 6).alias("share_of_actual"),
    )


# ---------------------------------------------------------------------------
# Estimator calibration: MinHash-estimated Jaccard (fraction of agreeing
# signature components) vs the exact value, per verified candidate pair.
# The report that justifies the banding parameters: |est - exact| stays
# inside the 1/sqrt(k) band. Costs one 16-column signature self-join over
# the (tiny) candidate set.
# ---------------------------------------------------------------------------

_SQL_SIG_AGREE = " + ".join(
    f"CASE WHEN a.sig_{i} = b.sig_{i} THEN 1 ELSE 0 END" for i in range(N_HASHES)
)


@register(
    "minhash_estimate_accuracy",
    oracle=f"""{_SQL_SIGS}, {_SQL_CAND}, {_sql_verify("cand")}, agree AS (
      SELECT c.doc_a, c.doc_b, ({_SQL_SIG_AGREE}) AS n_agree
      FROM cand c
      JOIN sigs a ON a.doc_id = c.doc_a
      JOIN sigs b ON b.doc_id = c.doc_b
    )
    SELECT g.doc_a, g.doc_b,
           {sql_dround(f'g.n_agree * 1.0 / {N_HASHES}', 4)} AS est_jaccard,
           {sql_dround('m.n_common * 1.0 / (sa.n_sh + sb.n_sh - m.n_common)', 4)}
             AS exact_jaccard,
           {sql_dround(f'abs(g.n_agree * 1.0 / {N_HASHES} - m.n_common * 1.0 / (sa.n_sh + sb.n_sh - m.n_common))', 4)}
             AS abs_err
    FROM agree g
    JOIN common m ON m.doc_a = g.doc_a AND m.doc_b = g.doc_b
    JOIN sizes sa ON sa.doc_id = g.doc_a
    JOIN sizes sb ON sb.doc_id = g.doc_b
    """,
)
def minhash_estimate_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per candidate pair: signature-agreement Jaccard estimate vs exact."""
    d = table(spark, sf_dir, "documents")
    sigs = persist_tracked(minhash_signatures_df(d))
    cand = _band_pairs(sigs)
    # per-doc fingerprint arrays + map-side intersect (r8b); n_common > 0
    # replicates the oracle's inner-join drop of zero-overlap candidates.
    # fp deliberately NOT persisted: measured slower (see
    # minhash_verified_pairs — recompute beats cache round-trip for the
    # plain 3-gram array pipeline)
    scored = _verify_pair_overlap(cand, _doc_distinct_gram_arrays(d)).where(
        F.col("n_common") > 0
    )
    sa_sig = sigs.alias("sa_sig")
    sb_sig = sigs.alias("sb_sig")
    n_agree = sum(
        (F.col(f"sa_sig.sig_{i}") == F.col(f"sb_sig.sig_{i}")).cast("int")
        for i in range(N_HASHES)
    )
    agree = (
        cand.join(sa_sig, cand.doc_a == F.col("sa_sig.doc_id"))
        .join(sb_sig, cand.doc_b == F.col("sb_sig.doc_id"))
        .select("doc_a", "doc_b", n_agree.alias("n_agree"))
    )
    est = F.col("n_agree") * 1.0 / N_HASHES
    exact = _overlap_jaccard()
    return (
        agree.join(scored, ["doc_a", "doc_b"])
        .select(
            "doc_a",
            "doc_b",
            dround(est, 4).alias("est_jaccard"),
            dround(exact, 4).alias("exact_jaccard"),
            dround(F.abs(est - exact), 4).alias("abs_err"),
        )
    )


# ---------------------------------------------------------------------------
# Embedding drift monitor: per-cell centroid shift between two
# deterministic halves of the corpus (stand-in for yesterday/today
# snapshots). The production data-drift alarm for an embedding pipeline:
# a re-run encoder or upstream distribution change moves cell centroids.
# Decimal-quantized means keep both engines' centroids identical.
# ---------------------------------------------------------------------------


@register(
    "embedding_centroid_drift",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, label, vec_id % 2 AS half, embedding::DOUBLE[] AS emb
      FROM embeddings
    ), pos AS (
      SELECT vec_id, label, half, generate_subscripts(emb, 1) AS pos,
             unnest(emb) AS x
      FROM e
    ), cent AS (
      SELECT label, half, pos,
             CAST(sum(CAST(CAST(x AS VARCHAR) AS DECIMAL(28,10))) AS DOUBLE)
               / count(x) AS cx,
             count(DISTINCT vec_id) AS n_vecs
      FROM pos GROUP BY label, half, pos
    ), paired AS (
      SELECT a.label, a.pos, a.cx AS cx0, b.cx AS cx1,
             a.n_vecs AS n_a, b.n_vecs AS n_b
      FROM cent a JOIN cent b
        ON a.label = b.label AND a.pos = b.pos AND a.half = 0 AND b.half = 1
    )
    SELECT label,
           max(n_a) AS n_even, max(n_b) AS n_odd,
           {sql_dround('sqrt(sum((cx0 - cx1) * (cx0 - cx1)))', 6)} AS centroid_l2_shift
    FROM paired GROUP BY label
    """,
)
def embedding_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 distance between per-cell centroids of the even/odd halves."""
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        (F.col("vec_id") % 2).alias("half"),
        F.col("embedding").cast("array<double>").alias("emb"),
    )
    pos = e.select(
        "vec_id", "label", "half", F.posexplode("emb").alias("pos0", "x")
    ).select("vec_id", "label", "half", (F.col("pos0") + 1).alias("pos"), "x")
    cx = (
        F.sum(F.col("x").cast("string").cast("decimal(28,10)")).cast("double")
        / F.count("x")
    )
    cent = pos.groupBy("label", "half", "pos").agg(
        cx.alias("cx"), F.count_distinct("vec_id").alias("n_vecs")
    )
    a = cent.where(F.col("half") == 0).alias("ca")
    b = cent.where(F.col("half") == 1).alias("cb")
    paired = a.join(
        b, (F.col("ca.label") == F.col("cb.label")) & (F.col("ca.pos") == F.col("cb.pos"))
    ).select(
        F.col("ca.label").alias("label"),
        F.col("ca.cx").alias("cx0"),
        F.col("cb.cx").alias("cx1"),
        F.col("ca.n_vecs").alias("n_a"),
        F.col("cb.n_vecs").alias("n_b"),
    )
    diff = F.col("cx0") - F.col("cx1")
    return paired.groupBy("label").agg(
        F.max("n_a").alias("n_even"),
        F.max("n_b").alias("n_odd"),
        dround(F.sqrt(F.sum(diff * diff)), 6).alias("centroid_l2_shift"),
    )


# ---------------------------------------------------------------------------
# Exactly-k-per-group sampling: deterministic priority sampling (take the
# k smallest md5 priorities per source). Unlike rate-based sampling
# (docs_hash_sample / docs_stratified_sample), this guarantees the exact
# per-group count — the shape used for eval-set carving and per-domain
# caps. One window over the (source, priority) sort; reproducible because
# the priority is content-addressed, and stable under corpus growth
# everywhere the new docs' priorities don't displace the old top-k.
# ---------------------------------------------------------------------------

PER_SOURCE_K = 3


@register(
    "docs_per_source_sample",
    oracle=f"""
    WITH pri AS (
      SELECT doc_id, source, md5(CAST(doc_id AS VARCHAR)) AS priority
      FROM documents
    ), ranked AS (
      SELECT doc_id, source, priority,
             row_number() OVER (
               PARTITION BY source ORDER BY priority, doc_id) AS rn
      FROM pri
    )
    SELECT doc_id, source, rn AS sample_rank FROM ranked
    WHERE rn <= {PER_SOURCE_K}
    """,
)
def docs_per_source_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-{k}-per-source deterministic sample (min-md5 priorities)."""
    d = table(spark, sf_dir, "documents")
    pri = d.select(
        "doc_id", "source", F.md5(F.col("doc_id").cast("string")).alias("priority")
    )
    w = Window.partitionBy("source").orderBy("priority", "doc_id")
    return (
        pri.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= PER_SOURCE_K)
        .select("doc_id", "source", F.col("rn").alias("sample_rank"))
    )


# ---------------------------------------------------------------------------
# Token-budget-constrained corpus selection: per language, admit the
# best documents (fewest repeated shingles first — the docs_repetition
# signal inverted) until the language's token budget is exhausted. The
# standard "data mixing under a token budget" pass: one quality sort +
# running-sum window per language; a greedy prefix, deterministic
# because the order totally tie-breaks on doc_id.
# ---------------------------------------------------------------------------

LANG_TOKEN_BUDGET = 4000


@register(
    "docs_token_budget_mix",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang, len(string_split(trim(text), ' ')) AS n_tokens
      FROM documents
    ), sh AS ({_SQL_SHINGLES_DUP}),
    rep AS (
      SELECT doc_id,
             len(shingles) - len(list_distinct(shingles)) AS n_repeated
      FROM sh
    ), ordered AS (
      SELECT t.doc_id, t.lang, t.n_tokens,
             coalesce(r.n_repeated, 0) AS n_repeated,
             CAST(sum(t.n_tokens) OVER (
               PARTITION BY t.lang
               ORDER BY coalesce(r.n_repeated, 0), t.doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS BIGINT) AS cum_tokens
      FROM toks t LEFT JOIN rep r ON t.doc_id = r.doc_id
    )
    SELECT doc_id, lang, n_tokens, n_repeated, cum_tokens
    FROM ordered WHERE cum_tokens <= {LANG_TOKEN_BUDGET}
    """,
)
def docs_token_budget_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy per-language selection under a token budget, best-first.

    Quality = fewest repeated shingles (templated/spun docs admit last);
    the running token sum stops each language exactly at its budget.
    Note the oracle's list_distinct is per-row over one doc's shingles —
    bounded by doc length, not the O(n²)-per-row corpus trap.

    The running sum itself uses the bucketed decomposition
    (`operators.windows.bucketed_running_sum`, r5 scale audit): a plain
    per-language window sorts EVERY document of a language in one task.
    The bucket — struct(n_repeated, doc_id div 4096) — is a strict
    prefix of the (n_repeated, doc_id) order, so per-task sorts are
    bounded by the id-range granule and the per-language offset pass
    runs over per-bucket totals, not documents. Result is bit-identical
    to the single-window form."""
    from ..operators.windows import bucketed_running_sum

    d = table(spark, sf_dir, "documents")
    toks = d.select("doc_id", "lang", _n_tokens(F.col("text")).alias("n_tokens"))
    # r8c: n_repeated = (n_grams - n_distinct) is pure per-doc
    # arithmetic — gram count from the token count, distinct count from
    # the map-side distinct-array size (STRING elements, so the count
    # matches the oracle's list_distinct exactly; no fingerprint
    # transform needed when only the size is consumed). The old shape
    # paid count_distinct's gram-volume dedup exchange keyed by doc_id.
    dist = _doc_distinct_gram_arrays(d, lambda g: g).select(
        "doc_id", F.size("arr").alias("n_distinct")
    )
    joined = toks.join(dist, "doc_id", "left").select(
        "doc_id",
        "lang",
        "n_tokens",
        F.coalesce(
            F.greatest(F.col("n_tokens") - 2, F.lit(0)) - F.col("n_distinct"),
            F.lit(0),
        ).cast("long").alias("n_repeated"),
    )
    bucket = F.struct(
        F.col("n_repeated").alias("r"),
        F.floor(F.col("doc_id") / 4096).alias("idg"),
    )
    cum = bucketed_running_sum(
        joined,
        part_cols=["lang"],
        bucket=bucket,
        order_cols=["doc_id"],
        value=F.col("n_tokens"),
        out_col="cum_tokens",
    )
    return (
        cum.where(F.col("cum_tokens") <= LANG_TOKEN_BUDGET)
        .select(
            "doc_id",
            "lang",
            "n_tokens",
            "n_repeated",
            F.col("cum_tokens").cast("long").alias("cum_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# ANN recall report: how much of the exact top-10 the IVF probe retains.
# The calibration number that decides whether single-cell probing is
# acceptable or n_probe must rise — the ANN twin of
# minhash_estimate_accuracy. Both rankings already exist as registered
# queries; this query joins them.
# ---------------------------------------------------------------------------


@register(
    "knn_ivf_recall",
    oracle=f"""
    WITH q AS (
      SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0
    ), bf AS (
      SELECT e.vec_id,
             {_IVF_COS.format(a="e.embedding::DOUBLE[]", b="q.qv")} AS cos
      FROM embeddings e CROSS JOIN q WHERE e.vec_id != 0
      ORDER BY cos DESC, e.vec_id LIMIT 10
    ), e AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings
    ), pos AS (
      SELECT vec_id, label, generate_subscripts(emb, 1) AS pos, unnest(emb) AS x
      FROM e
    ), cent AS (
      SELECT label, pos,
             CAST(sum(CAST(CAST(x AS VARCHAR) AS DECIMAL(28,10))) AS DOUBLE)
               / count(x) AS cx
      FROM pos GROUP BY label, pos
    ), centroids AS (
      SELECT label, list(cx ORDER BY pos) AS centroid FROM cent GROUP BY label
    ), probe AS (
      SELECT c.label FROM centroids c CROSS JOIN q
      ORDER BY {_IVF_COS.format(a="c.centroid", b="q.qv")} DESC, c.label
      LIMIT 1
    ), ivf AS (
      SELECT e.vec_id,
             {_IVF_COS.format(a="e.emb", b="q.qv")} AS cos
      FROM e JOIN probe ON e.label = probe.label CROSS JOIN q
      WHERE e.vec_id != 0
      ORDER BY cos DESC, e.vec_id LIMIT 10
    )
    SELECT count(ivf.vec_id) AS n_overlap,
           {sql_dround('count(ivf.vec_id) * 1.0 / 10', 4)} AS recall_at_10
    FROM bf LEFT JOIN ivf ON bf.vec_id = ivf.vec_id
    """,
)
def knn_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@10 of the single-cell IVF probe against exact brute force."""
    bf = knn_bruteforce(spark, sf_dir).select("vec_id")
    ivf = knn_ivf(spark, sf_dir).select(F.col("vec_id").alias("ivf_vec_id"))
    joined = bf.join(ivf, bf.vec_id == F.col("ivf_vec_id"), "left")
    return joined.agg(
        F.count("ivf_vec_id").alias("n_overlap"),
        dround(F.count("ivf_vec_id") * 1.0 / 10, 4).alias("recall_at_10"),
    )


# ---------------------------------------------------------------------------
# Multi-probe IVF: the standard answer to a weak single-cell recall
# number (knn_ivf_recall) — probe the top-P cells instead of 1. Cost
# scales with P/n_cells of the corpus; the probe list is a P-row
# broadcast, so the candidate fetch stays one equi-join on the cell id.
# ---------------------------------------------------------------------------

IVF_N_PROBE = 3


@register(
    "knn_ivf_multiprobe",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings
    ), q AS (
      SELECT emb AS qv FROM e WHERE vec_id = 0
    ), pos AS (
      SELECT vec_id, label, generate_subscripts(emb, 1) AS pos, unnest(emb) AS x
      FROM e
    ), cent AS (
      SELECT label, pos,
             CAST(sum(CAST(CAST(x AS VARCHAR) AS DECIMAL(28,10))) AS DOUBLE)
               / count(x) AS cx
      FROM pos GROUP BY label, pos
    ), centroids AS (
      SELECT label, list(cx ORDER BY pos) AS centroid FROM cent GROUP BY label
    ), probes AS (
      SELECT c.label FROM centroids c CROSS JOIN q
      ORDER BY {_IVF_COS.format(a="c.centroid", b="q.qv")} DESC, c.label
      LIMIT {IVF_N_PROBE}
    ), scored AS (
      SELECT e.vec_id, e.label, {_IVF_COS.format(a="e.emb", b="q.qv")} AS cos
      FROM e JOIN probes ON e.label = probes.label CROSS JOIN q
      WHERE e.vec_id != 0
    )
    SELECT vec_id, label,
           CAST(CAST(CAST(cos AS VARCHAR) AS DECIMAL(38,6)) AS DOUBLE) AS cosine
    FROM scored ORDER BY cos DESC, vec_id LIMIT 10
    """,
)
def knn_ivf_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 via the {P} nearest cells — recall rises with P while cost
    stays P/n_cells of a full scan (knn_ivf is the P=1 special case)."""
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("emb")
    )
    pos = e.select("vec_id", "label", F.posexplode("emb").alias("pos", "x"))
    cx = (
        F.sum(F.col("x").cast("string").cast("decimal(28,10)")).cast("double")
        / F.count("x")
    )
    centroids = (
        pos.groupBy("label", "pos").agg(cx.alias("cx"))
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "cx"))).alias("pairs"))
        .select("label", F.transform("pairs", lambda p: p["cx"]).alias("centroid"))
    )
    q = F.broadcast(
        e.where(F.col("vec_id") == 0).select(F.col("emb").alias("qv")).limit(1)
    )
    probes = (
        centroids.crossJoin(q)
        .select("label", _cosine(F.col("centroid"), F.col("qv")).alias("cos"))
        .orderBy(F.desc("cos"), F.asc("label"))
        .limit(IVF_N_PROBE)
        .select(F.col("label").alias("probe_label"))
    )
    candidates = e.join(F.broadcast(probes), e.label == F.col("probe_label"))
    scored = (
        candidates.where(F.col("vec_id") != 0)
        .crossJoin(q)
        .select("vec_id", "label", _cosine(F.col("emb"), F.col("qv")).alias("cos"))
    )
    return (
        scored.orderBy(F.desc("cos"), F.asc("vec_id"))
        .limit(10)
        .select("vec_id", "label", dround(F.col("cos"), 6).alias("cosine"))
    )


# ---------------------------------------------------------------------------
# Content-defined chunking: boundaries where a token's hash hits a
# pattern (expected chunk length = modulus), so an insertion early in a
# document shifts no downstream boundaries — chunk-level dedup keeps
# matching, unlike fixed-stride chunking (docs_chunk_overlap) where one
# added token re-addresses every later chunk. One posexplode + one
# per-doc ordered window (running boundary count) + one per-chunk agg;
# the window and the agg share the doc_id shuffle.
# ---------------------------------------------------------------------------

CDC_MODULUS = 8  # expected tokens per chunk


@register(
    "docs_cdc_chunks",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(trim(text), ' ')) AS t,
             generate_subscripts(string_split(trim(text), ' '), 1) AS pos
      FROM documents
    ), marked AS (
      SELECT doc_id, pos, t,
             CASE WHEN CAST(CAST('0x' || substr(md5(t), 1, 8) AS UINTEGER)
                       AS BIGINT) % {CDC_MODULUS} = 0
                  THEN 1 ELSE 0 END AS is_boundary
      FROM toks
    ), seg AS (
      SELECT doc_id, pos, t,
             CAST(sum(is_boundary) OVER (
               PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS BIGINT) AS chunk_id
      FROM marked
    )
    SELECT doc_id, chunk_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           md5(string_agg(t, ' ' ORDER BY pos)) AS chunk_md5
    FROM seg GROUP BY doc_id, chunk_id
    """,
)
def docs_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variable-size chunks with content-defined (rolling-hash) bounds.

    r8c: ZERO-shuffle. Chunking is per-document by definition, so the
    whole pass is array algebra inside one codegen stage: boundary
    positions filter out of the token array map-side, each (chunk_id,
    start, end) segment derives from adjacent boundaries, and the chunk
    digest is md5 over the sliced token span. The previous shape paid a
    doc_id window exchange plus a (doc_id, chunk_id) aggregation
    exchange — both shipping every token row — to compute something
    each document already had locally. Two Generate barriers bind the
    token and boundary arrays (the gram_rows anti-collapse pattern).
    chunk_id numbering matches the window form: the pre-first-boundary
    span is chunk 0 (absent when the doc starts on a boundary),
    boundary j starts chunk j."""
    d = table(spark, sf_dir, "documents")
    # size >= 1 mirrors the posexplode form (docs with a null/empty
    # token array produced no rows there) and keeps sequence() ascending
    toks = d.select(
        "doc_id", F.explode(F.array(_tokens(F.col("text")))).alias("toks")
    ).where(F.size("toks") >= 1)
    h = lambda t: F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("long")
    bound = toks.select(
        "doc_id",
        "toks",
        F.explode(
            F.array(
                F.filter(
                    F.sequence(F.lit(1), F.size("toks")),
                    lambda i: h(F.element_at(F.col("toks"), i)) % CDC_MODULUS
                    == 0,
                )
            )
        ).alias("bpos"),
    )
    # (chunk_id, start) pairs: chunk 0 at position 1 unless the doc
    # starts on a boundary; boundary j (1-based) starts chunk j.
    # head is [] or one element — filter keeps the literal's type
    head = F.filter(
        F.array(
            F.struct(F.lit(0).cast("long").alias("cid"), F.lit(1).alias("start"))
        ),
        lambda _: (F.size("bpos") == 0) | (F.element_at("bpos", 1) > 1),
    )
    starts = F.concat(
        head,
        F.transform(
            F.col("bpos"),
            lambda b, i: F.struct(
                (i + 1).cast("long").alias("cid"), b.alias("start")
            ),
        ),
    )
    with_starts = bound.select(
        "doc_id", "toks", F.explode(F.array(starts)).alias("starts")
    )
    chunk = F.explode(
        F.transform(
            F.sequence(F.lit(1), F.size("starts")),
            lambda j: F.struct(
                F.element_at(F.col("starts"), j)["cid"].alias("chunk_id"),
                F.element_at(F.col("starts"), j)["start"].alias("start"),
                F.when(
                    j < F.size("starts"),
                    F.element_at(F.col("starts"), j + 1)["start"] - 1,
                )
                .otherwise(F.size("toks"))
                .alias("end"),
            ),
        )
    )
    segs = with_starts.select("doc_id", "toks", chunk.alias("c"))
    span = F.slice(
        F.col("toks"), F.col("c.start"), F.col("c.end") - F.col("c.start") + 1
    )
    return segs.select(
        "doc_id",
        F.col("c.chunk_id").alias("chunk_id"),
        (F.col("c.end") - F.col("c.start") + 1).cast("long").alias("n_tokens"),
        F.md5(F.array_join(span, " ")).alias("chunk_md5"),
    )


# ---------------------------------------------------------------------------
# Provenance: near-duplicate content arriving from DIFFERENT sources
# (mirrors, re-crawls, dataset overlap — on this corpus 22 of 23
# verified near-dup pairs cross sources while zero pairs are verbatim-
# equal, so provenance dedup must run at the near-dup layer, not on
# content digests). Reuses the verified-pairs pipeline and annotates
# each accepted pair with both sources via two co-partitioned joins.
# ---------------------------------------------------------------------------


@register(
    "docs_cross_source_leakage",
    oracle=f"""{_SQL_SIGS}, {_SQL_CAND}, {_sql_verify("cand")}, verified AS (
      SELECT doc_a, doc_b,
             n_common * 1.0 / (sa.n_sh + sb.n_sh - n_common) AS jac
      FROM common
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE n_common * 1.0 / (sa.n_sh + sb.n_sh - n_common)
            >= {MINHASH_VERIFY_J}
    )
    SELECT v.doc_a, v.doc_b,
           da.source AS src_a, db.source AS src_b,
           CAST(CAST(CAST(v.jac AS VARCHAR) AS DECIMAL(38,4)) AS DOUBLE) AS jaccard
    FROM verified v
    JOIN documents da ON da.doc_id = v.doc_a
    JOIN documents db ON db.doc_id = v.doc_b
    WHERE da.source != db.source
    """,
)
def docs_cross_source_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verified near-dup pairs whose two documents have different sources."""
    d = table(spark, sf_dir, "documents").select("doc_id", "source")
    vp = minhash_verified_pairs(spark, sf_dir)
    da = d.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("src_a"))
    db = d.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("src_b"))
    return (
        vp.join(da, "doc_a")
        .join(db, "doc_b")
        .where(F.col("src_a") != F.col("src_b"))
        .select("doc_a", "doc_b", "src_a", "src_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# Source scorecard: the per-source quality panel a corpus curator reads
# before weighting sources in a mix — volume, length profile, exact-dup
# rate, and stopword density in ONE scan + one agg per source (all other
# signals live in their own queries; this is the cheap always-on panel).
# ---------------------------------------------------------------------------


@register(
    "docs_source_scorecard",
    oracle=f"""
    WITH per_doc AS (
      SELECT source,
             len(string_split(trim(text), ' ')) AS n_tokens,
             n_chars,
             md5(text) AS digest,
             len(list_filter(string_split(trim(text), ' '),
                 t -> t IN ('the', 'a'))) AS n_stop
      FROM documents
    )
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           {sql_dround('sum(n_tokens) * 1.0 / count(*)', 4)} AS mean_tokens,
           CAST(count(*) - count(DISTINCT digest) AS BIGINT) AS n_exact_dups,
           {sql_dround('sum(n_stop) * 1.0 / greatest(sum(n_tokens), 1)', 6)}
             AS stopword_density
    FROM per_doc GROUP BY source
    """,
)
def docs_source_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source volume / length / exact-dup / stopword panel."""
    d = table(spark, sf_dir, "documents")
    toks = _tokens(F.col("text"))
    per_doc = d.select(
        "source",
        F.size(toks).alias("n_tokens"),
        "n_chars",
        F.md5(F.col("text")).alias("digest"),
        F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS))).alias("n_stop"),
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        dround(F.sum("n_tokens") * 1.0 / F.count(F.lit(1)), 4).alias("mean_tokens"),
        (F.count(F.lit(1)) - F.count_distinct("digest")).alias("n_exact_dups"),
        dround(
            F.sum("n_stop") * 1.0 / F.greatest(F.sum("n_tokens"), F.lit(1)), 6
        ).alias("stopword_density"),
    )


# ---------------------------------------------------------------------------
# Point-in-time-correct training snapshot over the event log: features
# computed ONLY from events before the cutoff, the label ONLY from after
# — the leakage guard every feature store enforces (train/serve skew
# comes from violating exactly this line). Two filtered aggregations of
# one scan, joined on user; the cutoff is a literal, so both filters
# push down to the parquet scan.
# ---------------------------------------------------------------------------

PIT_CUTOFF = "2024-01-22 00:00:00"


@register(
    "events_pit_features",
    oracle=f"""
    WITH feat AS (
      SELECT user_id,
             count(*) AS n_events_pre,
             CAST(count(CASE WHEN event_type = 'error' THEN 1 END) AS BIGINT)
               AS n_errors_pre,
             {sql_dsum("value", 2)} AS value_sum_pre,
             max(ts) AS last_seen_pre
      FROM events WHERE ts < TIMESTAMP '{PIT_CUTOFF}'
      GROUP BY user_id
    ), label AS (
      SELECT user_id,
             CAST(count(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT) > 0
               AS purchased_after
      FROM events WHERE ts >= TIMESTAMP '{PIT_CUTOFF}'
      GROUP BY user_id
    )
    SELECT f.user_id, f.n_events_pre, f.n_errors_pre, f.value_sum_pre,
           f.last_seen_pre,
           coalesce(l.purchased_after, false) AS purchased_after
    FROM feat f LEFT JOIN label l ON f.user_id = l.user_id
    """,
)
def events_pit_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe features (pre-cutoff) + label (post-cutoff) per user."""
    e = table(spark, sf_dir, "events")
    cutoff = F.lit(PIT_CUTOFF).cast("timestamp")
    feat = (
        e.where(F.col("ts") < cutoff)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events_pre"),
            F.count(F.when(F.col("event_type") == "error", 1)).alias("n_errors_pre"),
            dsum(F.col("value"), 2).alias("value_sum_pre"),
            F.max("ts").alias("last_seen_pre"),
        )
    )
    label = (
        e.where(F.col("ts") >= cutoff)
        .groupBy("user_id")
        .agg(
            (F.count(F.when(F.col("event_type") == "purchase", 1)) > 0).alias(
                "purchased_after"
            )
        )
    )
    return feat.join(label, "user_id", "left").select(
        "user_id",
        "n_events_pre",
        "n_errors_pre",
        "value_sum_pre",
        "last_seen_pre",
        F.coalesce(F.col("purchased_after"), F.lit(False)).alias("purchased_after"),
    )


# ---------------------------------------------------------------------------
# Feature drift: Population Stability Index of the value distribution
# between the first and second half of the event log, per event type.
# The standard "did the feature move" alarm (PSI > 0.2 = investigate).
# One scan -> bucket counts per (type, half) -> per-type PSI; the bucket
# domain is fixed-width so the shuffle key space is bounded.
# ---------------------------------------------------------------------------

PSI_CUTOFF = "2024-01-16 00:00:00"
PSI_BUCKET_WIDTH = 100
PSI_EPS = "0.0005"  # Laplace-style floor so empty buckets don't blow up ln


@register(
    "events_value_psi",
    oracle=f"""
    WITH b AS (
      SELECT event_type,
             CASE WHEN ts < TIMESTAMP '{PSI_CUTOFF}' THEN 0 ELSE 1 END AS half,
             CAST(floor(value / {PSI_BUCKET_WIDTH}) AS BIGINT) AS bucket
      FROM events
    ), counts AS (
      SELECT event_type, half, bucket, count(*) AS n
      FROM b GROUP BY event_type, half, bucket
    ), tot AS (
      SELECT event_type, half, CAST(sum(n) AS BIGINT) AS n_half
      FROM counts GROUP BY event_type, half
    ), shares AS (
      SELECT c.event_type, c.bucket,
             {sql_dround(f"max(CASE WHEN c.half = 0 THEN c.n * 1.0 / t.n_half END)", 8)} AS p0,
             {sql_dround(f"max(CASE WHEN c.half = 1 THEN c.n * 1.0 / t.n_half END)", 8)} AS p1
      FROM counts c JOIN tot t
        -- null-safe on event_type (r14 parity-fuzz pin): the Spark side
        -- computes n_half with a WINDOW, which keeps a NULL event_type
        -- as its own partition; a plain equi-join here would drop it
        ON c.event_type IS NOT DISTINCT FROM t.event_type
           AND c.half = t.half
      GROUP BY c.event_type, c.bucket
    ), terms AS (
      SELECT event_type,
             (coalesce(p0, 0) - coalesce(p1, 0))
               * ln((coalesce(p0, 0) + {PSI_EPS}) / (coalesce(p1, 0) + {PSI_EPS}))
               AS term
      FROM shares
    )
    SELECT event_type,
           {sql_dround("CAST(sum(CAST(CAST(term AS VARCHAR) AS DECIMAL(28,10))) AS DOUBLE)", 6)}
             AS psi
    FROM terms GROUP BY event_type
    """,
)
def events_value_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSI of value distributions between the log's two time halves."""
    e = table(spark, sf_dir, "events")
    cutoff = F.lit(PSI_CUTOFF).cast("timestamp")
    b = e.select(
        "event_type",
        F.when(F.col("ts") < cutoff, 0).otherwise(1).alias("half"),
        F.floor(F.col("value") / PSI_BUCKET_WIDTH).cast("long").alias("bucket"),
    )
    counts = b.groupBy("event_type", "half", "bucket").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("event_type", "half")
    shares = counts.withColumn("n_half", F.sum("n").over(w)).groupBy(
        "event_type", "bucket"
    ).agg(
        dround(
            F.max(F.when(F.col("half") == 0, F.col("n") * 1.0 / F.col("n_half"))), 8
        ).alias("p0"),
        dround(
            F.max(F.when(F.col("half") == 1, F.col("n") * 1.0 / F.col("n_half"))), 8
        ).alias("p1"),
    )
    eps = float(PSI_EPS)
    p0 = F.coalesce(F.col("p0"), F.lit(0.0))
    p1 = F.coalesce(F.col("p1"), F.lit(0.0))
    term = (p0 - p1) * F.log((p0 + eps) / (p1 + eps))
    return shares.select("event_type", term.alias("term")).groupBy(
        "event_type"
    ).agg(
        dround(
            F.sum(F.col("term").cast("string").cast("decimal(28,10)")).cast("double"),
            6,
        ).alias("psi")
    )


# ---------------------------------------------------------------------------
# N-gram novelty: how much genuinely NEW content each document adds over
# the corpus that arrived before it (doc_id as arrival order). Shingle ->
# first-seen doc via one min-agg, join back, per-doc share. The curation
# signal for "is this source still contributing, or replaying".
# ---------------------------------------------------------------------------


@register(
    "docs_ngram_novelty",
    oracle=f"""{_SQL_GRAMS}, keyed AS (
      SELECT doc_id, {_sql_key64('s')} AS sk FROM exploded
    ), first_seen AS (
      SELECT sk, min(doc_id) AS first_doc FROM keyed GROUP BY sk
    ), novel AS (
      SELECT first_doc AS doc_id, CAST(count(*) AS BIGINT) AS n_novel
      FROM first_seen GROUP BY first_doc
    ), sizes AS (
      SELECT doc_id, count(DISTINCT sk) AS n_shingles FROM keyed GROUP BY doc_id
    )
    SELECT s.doc_id, s.n_shingles,
           coalesce(n.n_novel, 0) AS n_novel,
           {sql_dround('coalesce(n.n_novel, 0) * 1.0 / s.n_shingles', 4)}
             AS novelty
    FROM sizes s LEFT JOIN novel n ON n.doc_id = s.doc_id
    """,
)
def docs_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share of each doc's distinct shingles first seen in that doc.

    r8c shape: per-doc-distinct fingerprint rows (zero-shuffle arrays)
    feed ONE min-agg keyed on the 60-bit fingerprint (map-side partial
    min makes the exchange near-vocabulary-bounded), and per-doc novel
    counts come straight off that agg (groupBy(first_doc)) — the old
    join-back of the full gram stream is gone; n_shingles is the size
    of the doc's own array. Counts are fingerprint-distinct on BOTH
    engines (the oracle applies the identical transform — the dup-span
    collision trade)."""
    d = table(spark, sf_dir, "documents")
    # r9: persisted — arrs feeds both the first-seen agg (via rows) and
    # the per-doc sizes projection; un-cached, the gram-array pipeline
    # evaluated twice (subtree reuse does not fire across consumers)
    arrs = persist_tracked(_doc_distinct_gram_arrays(d))
    rows = arrs.select("doc_id", F.explode("arr").alias("sk"))
    first = rows.groupBy("sk").agg(F.min("doc_id").alias("first_doc"))
    novel = first.groupBy(F.col("first_doc").alias("doc_id")).agg(
        F.count(F.lit(1)).alias("n_novel")
    )
    sizes = arrs.select("doc_id", F.size("arr").cast("long").alias("n_shingles"))
    return sizes.join(novel, "doc_id", "left").select(
        "doc_id",
        "n_shingles",
        F.coalesce(F.col("n_novel"), F.lit(0)).alias("n_novel"),
        dround(
            F.coalesce(F.col("n_novel"), F.lit(0)) * 1.0 / F.col("n_shingles"), 4
        ).alias("novelty"),
    )


# ---------------------------------------------------------------------------
# Eval-set contamination by NEAR-duplicate (not just exact match): SimHash
# near-pairs whose endpoints land in different train/val/test splits.
# Exact-match decontamination (docs_decontamination) misses lightly
# edited copies; this catches them. Both inputs are pure functions —
# the near-pair join is the only shuffle, and the split label is computed
# map-side from doc_id (no join against an assignment table).
# ---------------------------------------------------------------------------


def _split_case(col: Column) -> Column:
    b = _hash_bucket(col, 100)
    return F.when(b < 90, "train").when(b < 95, "val").otherwise("test")


def _sql_split_case(expr: str) -> str:
    return (
        f"CASE WHEN {_sql_hash_bucket(expr, 100)} < 90 THEN 'train' "
        f"WHEN {_sql_hash_bucket(expr, 100)} < 95 THEN 'val' "
        "ELSE 'test' END"
    )


@register(
    "split_leakage_pairs",
    oracle=f"""{_SQL_SIMHASH_WORDS},
    bands AS (
{_SQL_SIMHASH_BANDS}
    ), pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             {_SQL_HAMMING} AS hamming
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.band_key = b.band_key
           AND a.doc_id < b.doc_id
      WHERE {_SQL_HAMMING} <= {SIMHASH_HAM_MAX}
    ), labeled AS (
      SELECT doc_a, doc_b, hamming,
             {_sql_split_case('doc_a')} AS split_a,
             {_sql_split_case('doc_b')} AS split_b
      FROM pairs
    )
    SELECT * FROM labeled WHERE split_a != split_b
    """,
)
def split_leakage_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs (SimHash hamming <= 3) crossing split boundaries —
    the documents an exact-match decontamination pass would leak."""
    pairs = simhash_near_pairs(spark, sf_dir)
    labeled = pairs.select(
        "doc_a",
        "doc_b",
        "hamming",
        _split_case(F.col("doc_a")).alias("split_a"),
        _split_case(F.col("doc_b")).alias("split_b"),
    )
    return labeled.where(F.col("split_a") != F.col("split_b"))


# ---------------------------------------------------------------------------
# Temperature-based multilingual sampling (the mT5/XLM-R recipe): language
# sampling probability p_l proportional to n_l^alpha with alpha < 1, which
# flattens the head and lifts rare languages without the unbounded
# replication a pure rebalance implies. Pure aggregate over |langs| rows —
# every float is string-route quantized before the cross-language sum, so
# the result is partition-order-free on both engines.
# ---------------------------------------------------------------------------

TEMP_MIX_ALPHA = 0.3


@register(
    "docs_temperature_mix",
    oracle=f"""
    WITH n AS (
      SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang
    ), w AS (
      SELECT lang, n_docs,
             CAST(CAST(CAST(pow(n_docs, {TEMP_MIX_ALPHA}) AS VARCHAR)
                  AS DECIMAL(38,6)) AS DOUBLE) AS wgt
      FROM n
    ), t AS (
      SELECT CAST(sum(CAST(CAST(wgt AS VARCHAR) AS DECIMAL(28,10))) AS DOUBLE)
               AS tot,
             CAST(sum(n_docs) AS BIGINT) AS n_total
      FROM w
    )
    SELECT w.lang, w.n_docs,
           {sql_dround('w.wgt / t.tot', 6)} AS sample_prob,
           {sql_dround('(w.wgt / t.tot) * t.n_total / w.n_docs', 4)}
             AS upsample_factor
    FROM w CROSS JOIN t
    """,
)
def docs_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language sampling probability n^alpha / sum(n^alpha) and the
    implied upsample factor vs natural frequency (alpha=0.3)."""
    d = table(spark, sf_dir, "documents")
    n = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    w = n.select(
        "lang",
        "n_docs",
        dround(F.pow(F.col("n_docs"), F.lit(TEMP_MIX_ALPHA)), 6).alias("wgt"),
    )
    t = w.agg(
        F.sum(F.col("wgt").cast("string").cast("decimal(28,10)"))
        .cast("double")
        .alias("tot"),
        F.sum("n_docs").alias("n_total"),
    )
    return w.crossJoin(F.broadcast(t)).select(
        "lang",
        "n_docs",
        dround(F.col("wgt") / F.col("tot"), 6).alias("sample_prob"),
        dround(
            (F.col("wgt") / F.col("tot")) * F.col("n_total") / F.col("n_docs"), 4
        ).alias("upsample_factor"),
    )


# ---------------------------------------------------------------------------
# Zipf slope per language: the exponent of the term-frequency power law,
# fit by least squares on (ln rank, ln freq) over the top-N terms. A
# healthy natural-language corpus sits near -1; templated or synthetic
# text drifts far off — a cheap corpus-quality fingerprint. The fit sums
# are quantized per row and summed as exact decimals, so the slope is
# identical on both engines regardless of partitioning; covar_pop/
# regr_slope are deliberately NOT used (their double accumulation is
# partition-order-dependent).
# ---------------------------------------------------------------------------

ZIPF_TOP_N = 500


@register(
    "docs_zipf_slope",
    oracle=f"""
    WITH tf AS (
      SELECT lang, t AS term, count(*) AS freq
      FROM (
        SELECT lang, unnest(string_split(trim(text), ' ')) AS t
        FROM documents
      )
      GROUP BY lang, t
    ), ranked AS (
      SELECT lang, freq,
             row_number() OVER (
               PARTITION BY lang ORDER BY freq DESC, term
             ) AS rnk
      FROM tf
    ), pts AS (
      SELECT lang,
             {sql_dround('ln(rnk)', 8)} AS x,
             {sql_dround('ln(freq)', 8)} AS y
      FROM ranked WHERE rnk <= {ZIPF_TOP_N}
    ), sums AS (
      SELECT lang,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(CAST(x AS VARCHAR) AS DECIMAL(28,10))) AS DOUBLE) AS sx,
             CAST(sum(CAST(CAST(y AS VARCHAR) AS DECIMAL(28,10))) AS DOUBLE) AS sy,
             CAST(sum(CAST(CAST({sql_dround('x * y', 8)} AS VARCHAR)
                  AS DECIMAL(28,10))) AS DOUBLE) AS sxy,
             CAST(sum(CAST(CAST({sql_dround('x * x', 8)} AS VARCHAR)
                  AS DECIMAL(28,10))) AS DOUBLE) AS sxx
      FROM pts GROUP BY lang
    )
    SELECT lang, n AS n_terms,
           {sql_dround('(n * sxy - sx * sy) / (n * sxx - sx * sx)', 4)}
             AS zipf_slope
    FROM sums
    """,
)
def docs_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Least-squares slope of ln(freq) vs ln(rank) over the top-500 terms
    per language (ties broken by term so ranks are engine-stable)."""
    d = table(spark, sf_dir, "documents")
    tf = (
        d.select("lang", F.explode(_tokens(F.col("text"))).alias("term"))
        .groupBy("lang", "term")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    w = Window.partitionBy("lang").orderBy(F.desc("freq"), F.asc("term"))
    pts = (
        tf.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= ZIPF_TOP_N)
        .select(
            "lang",
            dround(F.log(F.col("rnk")), 8).alias("x"),
            dround(F.log(F.col("freq")), 8).alias("y"),
        )
    )
    dec = lambda c: c.cast("string").cast("decimal(28,10)")  # noqa: E731
    sums = pts.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec(F.col("x"))).cast("double").alias("sx"),
        F.sum(dec(F.col("y"))).cast("double").alias("sy"),
        F.sum(dec(dround(F.col("x") * F.col("y"), 8))).cast("double").alias("sxy"),
        F.sum(dec(dround(F.col("x") * F.col("x"), 8))).cast("double").alias("sxx"),
    )
    return sums.select(
        "lang",
        F.col("n").alias("n_terms"),
        dround(
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
            / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")),
            4,
        ).alias("zipf_slope"),
    )


# ---------------------------------------------------------------------------
# Two-sample Kolmogorov-Smirnov drift test — the non-parametric companion
# to events_value_psi (same time-half split): PSI needs a bucket width,
# KS compares the raw empirical CDFs and reports the sup-distance with
# the classical alpha=0.05 decision threshold.
# ---------------------------------------------------------------------------

KS_ALPHA_COEF = 1.36  # c(alpha) for alpha = 0.05 in the asymptotic bound


@register(
    "events_ks_test",
    oracle=f"""
    WITH halves AS (
      SELECT event_type, value,
             CASE WHEN ts < TIMESTAMP '{PSI_CUTOFF}' THEN 0 ELSE 1 END AS half
      FROM events
    ), per_value AS (
      SELECT event_type, value,
             count(CASE WHEN half = 0 THEN 1 END) AS n0,
             count(CASE WHEN half = 1 THEN 1 END) AS n1
      FROM halves GROUP BY event_type, value
    ), cum AS (
      SELECT event_type, value,
             sum(n0) OVER w AS c0, sum(n1) OVER w AS c1,
             sum(n0) OVER t AS tot0, sum(n1) OVER t AS tot1
      FROM per_value
      WINDOW w AS (PARTITION BY event_type ORDER BY value),
             t AS (PARTITION BY event_type)
    ), d AS (
      SELECT event_type,
             CAST(max(tot0) AS BIGINT) AS n_a, CAST(max(tot1) AS BIGINT) AS n_b,
             {sql_dround('max(abs(c0 * 1.0 / tot0 - c1 * 1.0 / tot1))', 6)}
               AS d_stat
      FROM cum GROUP BY event_type
    )
    SELECT event_type, n_a, n_b, d_stat,
           {sql_dround(f'{KS_ALPHA_COEF} * sqrt((n_a + n_b) * 1.0 / (n_a * n_b))', 6)}
             AS d_crit,
           d_stat > {sql_dround(f'{KS_ALPHA_COEF} * sqrt((n_a + n_b) * 1.0 / (n_a * n_b))', 6)}
             AS drifted
    FROM d
    """,
)
def events_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample KS test of the value distribution between the log's
    two time halves, per event type: D = sup |F_a(v) - F_b(v)| computed
    on the merged distinct-value support with one cumulative window, and
    the asymptotic alpha=0.05 critical value. No binning parameter (the
    PSI monitor's one knob) and no per-row Python — the empirical CDFs
    are a groupBy plus one window over distinct values, so the shuffle
    is bounded by distinct-value cardinality per type. sqrt() is IEEE
    correctly-rounded on both engines, so the verdict column is
    hash-stable."""
    e = table(spark, sf_dir, "events")
    cutoff = F.lit(PSI_CUTOFF).cast("timestamp")
    halves = e.select(
        "event_type",
        "value",
        F.when(F.col("ts") < cutoff, 0).otherwise(1).alias("half"),
    )
    per_value = halves.groupBy("event_type", "value").agg(
        F.count(F.when(F.col("half") == 0, 1)).alias("n0"),
        F.count(F.when(F.col("half") == 1, 1)).alias("n1"),
    )
    # asc_nulls_last mirrors DuckDB's ASC default (r14 parity-fuzz
    # class: NULL values must accumulate at the same end of the CDF on
    # both engines)
    w = Window.partitionBy("event_type").orderBy(F.asc_nulls_last("value"))
    t = Window.partitionBy("event_type")
    cum = per_value.select(
        "event_type",
        F.sum("n0").over(w).alias("c0"),
        F.sum("n1").over(w).alias("c1"),
        F.sum("n0").over(t).alias("tot0"),
        F.sum("n1").over(t).alias("tot1"),
    )
    d = cum.groupBy("event_type").agg(
        F.max("tot0").cast("long").alias("n_a"),
        F.max("tot1").cast("long").alias("n_b"),
        dround(
            F.max(
                F.abs(
                    F.col("c0") * 1.0 / F.col("tot0")
                    - F.col("c1") * 1.0 / F.col("tot1")
                )
            ),
            6,
        ).alias("d_stat"),
    )
    crit = dround(
        KS_ALPHA_COEF
        * F.sqrt((F.col("n_a") + F.col("n_b")) * 1.0 / (F.col("n_a") * F.col("n_b"))),
        6,
    )
    return d.select(
        "event_type",
        "n_a",
        "n_b",
        "d_stat",
        crit.alias("d_crit"),
        (F.col("d_stat") > crit).alias("drifted"),
    )


# ---------------------------------------------------------------------------
# Join-key skew diagnostic: the report an engineer reads BEFORE choosing
# a salting factor — per-key weight of the heaviest keys vs the mean.
# ---------------------------------------------------------------------------

SKEW_TOP_N = 10


@register(
    "events_key_skew",
    oracle=f"""
    WITH counts AS (
      SELECT user_id, count(*) AS n_events FROM events GROUP BY user_id
    ), stats AS (
      SELECT CAST(sum(n_events) AS BIGINT) AS n_total,
             CAST(count(*) AS BIGINT) AS n_keys
      FROM counts
    )
    SELECT user_id, n_events,
           {sql_dround('n_events * 1.0 * n_keys / n_total', 4)} AS skew_ratio,
           {sql_dround('n_events * 1.0 / n_total', 6)} AS share
    FROM counts CROSS JOIN stats
    ORDER BY n_events DESC, user_id LIMIT {SKEW_TOP_N}
    """,
)
def events_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaviest join keys on the event log: the top-{N} user_ids by row
    count with their weight relative to the mean key (skew_ratio) and to
    the whole table (share). skew_ratio >> 1 on a production log is the
    signal to salt that key's shuffle or enable AQE skew-join handling
    — this report is the measurement step. One hash agg + a broadcast
    scalar join + top-k; cost is the same groupBy any per-key metric
    pays."""
    e = table(spark, sf_dir, "events")
    counts = e.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events"))
    stats = counts.agg(
        F.sum("n_events").cast("long").alias("n_total"),
        F.count(F.lit(1)).cast("long").alias("n_keys"),
    )
    return (
        counts.crossJoin(F.broadcast(stats))
        .select(
            "user_id",
            "n_events",
            dround(
                F.col("n_events") * 1.0 * F.col("n_keys") / F.col("n_total"), 4
            ).alias("skew_ratio"),
            dround(F.col("n_events") * 1.0 / F.col("n_total"), 6).alias("share"),
        )
        .orderBy(F.desc("n_events"), F.asc("user_id"))
        .limit(SKEW_TOP_N)
    )


# ---------------------------------------------------------------------------
# Event lateness profile — the measurement behind a watermark choice:
# how late do events actually arrive relative to the maximum event time
# already seen in their arrival order? The histogram's tail mass IS the
# fraction of data a given watermark would drop.
# ---------------------------------------------------------------------------

LATENESS_BUCKET_S = 60  # one-minute histogram buckets


@register(
    "events_lateness_profile",
    oracle=f"""
    WITH ordered AS (
      SELECT event_type, ts,
             max(ts) OVER (PARTITION BY event_type ORDER BY event_id) AS high_water
      FROM events
    ), lateness AS (
      SELECT event_type,
             CAST(floor(date_diff('second', ts, high_water)
                        / {LATENESS_BUCKET_S}) AS BIGINT) AS bucket
      FROM ordered
    )
    SELECT event_type, bucket,
           CAST(count(*) AS BIGINT) AS n_events,
           {sql_dround("count(*) * 1.0 / sum(count(*)) OVER (PARTITION BY event_type)", 6)}
             AS share
    FROM lateness GROUP BY event_type, bucket
    """,
)
def events_lateness_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lateness histogram per event type: each event's distance behind
    the running event-time high-water mark in ARRIVAL order (event_id —
    the log's ingestion sequence), bucketed per minute. Bucket 0 is
    in-order data; the share column at bucket b is exactly the data a
    b-minute watermark would have dropped — the empirical basis for the
    streaming jobs' watermark settings, produced from the same log they
    replay. One window in arrival order + one hash agg; the window
    partitions by type so state is a single max per partition."""
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("event_id")
    ordered = e.select(
        "event_type", "ts", F.max("ts").over(w).alias("high_water")
    )
    lateness = ordered.select(
        "event_type",
        F.floor(
            (F.col("high_water").cast("long") - F.col("ts").cast("long"))
            / LATENESS_BUCKET_S
        )
        .cast("long")
        .alias("bucket"),
    )
    share_w = Window.partitionBy("event_type")
    return (
        lateness.groupBy("event_type", "bucket")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "event_type",
            "bucket",
            "n_events",
            dround(
                F.col("n_events") * 1.0 / F.sum("n_events").over(share_w), 6
            ).alias("share"),
        )
    )


# ---------------------------------------------------------------------------
# Linear (probabilistic) counting — an approximate-distinct estimator
# that, unlike the HLL/quantile sketch query (approx_user_stats,
# rows-only by design), is fully deterministic and oracle-checkable:
# hash users into M buckets, count occupied buckets, estimate
# n ~= -M * ln(empty/M) (Whang et al.'s classic load-factor inversion).
# ---------------------------------------------------------------------------

LC_M = 65536  # bucket count: keeps load factor ~0.15 for the testdata's
# ~10k distinct users (linear counting needs M comfortably above n or the
# bitmap saturates and ln(0) blows up); production sizing is M ~ n_max,
# still only a few MB of bitmap where exact count_distinct shuffles every
# key.


@register(
    "events_lc_distinct",
    oracle=f"""
    WITH b AS (
      SELECT event_type,
             CAST(CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8)
                  AS UINTEGER) AS BIGINT) % {LC_M} AS bucket,
             user_id
      FROM events
    ), per_type AS (
      SELECT event_type,
             CAST(count(DISTINCT bucket) AS BIGINT) AS n_buckets_used,
             CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct
      FROM b GROUP BY event_type
    )
    SELECT event_type, n_buckets_used, exact_distinct,
           {sql_dround(f'-{LC_M}.0 * ln(({LC_M} - n_buckets_used) * 1.0 / {LC_M})', 4)}
             AS lc_estimate,
           {sql_dround(
               f'(-{LC_M}.0 * ln(({LC_M} - n_buckets_used) * 1.0 / {LC_M})'
               f' - exact_distinct) / exact_distinct', 4)}
             AS rel_err
    FROM per_type
    """,
)
def events_lc_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate distinct users per event type by linear counting,
    reported against the exact count with the relative error. The
    estimator state is an M-bit occupancy set — a groupBy over (type,
    bucket) with map-side combine, mergeable across shards like every
    sketch here — where exact distinct must shuffle the full key set.
    The exact column exists to ground the accuracy claim (|rel_err|
    bound locked by pytest); a production pipeline keeps only the
    bitmap. Same md5 bucket family as the hash sampler, so the oracle
    reconstructs identical buckets."""
    e = table(spark, sf_dir, "events")
    bucket = (
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % LC_M
    )
    b = e.select("event_type", bucket.alias("bucket"), "user_id")
    per_type = b.groupBy("event_type").agg(
        F.count_distinct("bucket").cast("long").alias("n_buckets_used"),
        F.count_distinct("user_id").cast("long").alias("exact_distinct"),
    )
    est = -float(LC_M) * F.log(
        (LC_M - F.col("n_buckets_used")) * 1.0 / LC_M
    )
    return per_type.select(
        "event_type",
        "n_buckets_used",
        "exact_distinct",
        dround(est, 4).alias("lc_estimate"),
        dround((est - F.col("exact_distinct")) / F.col("exact_distinct"), 4).alias(
            "rel_err"
        ),
    )


# ---------------------------------------------------------------------------
# LSH band-configuration sweep — the tuning panel behind the b x r
# choice: candidate volume and verify precision for three bandings of
# the SAME 16 signatures. The collision threshold s* = (1/b)^(1/r) is
# precomputed in Python and emitted as a literal on both engines (pow()
# is not cross-engine-stable; a compile-time constant is).
# ---------------------------------------------------------------------------

BAND_SWEEP_CFGS = [(2, 8), (4, 4), (8, 2)]  # (n_bands, rows_per_band)


def _sql_band_sweep_cfg(n_bands: int, n_rows: int) -> str:
    bands = "\n      UNION ALL\n".join(
        "      SELECT doc_id, {} AS band_idx, {} AS band_key FROM sigs".format(
            b,
            " || '|' || ".join(f"sig_{n_rows * b + r}" for r in range(n_rows)),
        )
        for b in range(n_bands)
    )
    return f"""
      SELECT DISTINCT {n_bands} AS n_bands, {n_rows} AS rows_per_band,
             a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM (
{bands}
      ) a JOIN (
{bands}
      ) b ON a.band_idx = b.band_idx AND a.band_key = b.band_key
             AND a.doc_id < b.doc_id
    """


_SQL_SWEEP_CANDS = "\n      UNION ALL\n".join(
    _sql_band_sweep_cfg(b, r) for b, r in BAND_SWEEP_CFGS
)

# CAST through VARCHAR so DuckDB lands on the exact same double the
# Python-computed literal is (a bare 16-digit literal would parse as
# DECIMAL and change the column type)
_SQL_SWEEP_SSTAR = " ".join(
    f"WHEN n_bands = {b} THEN CAST('{(1.0 / b) ** (1.0 / r)!r}' AS DOUBLE)"
    for b, r in BAND_SWEEP_CFGS
)


@register(
    "minhash_band_sweep",
    oracle=f"""{_SQL_SIGS}, cands AS (
{_SQL_SWEEP_CANDS}
    ), distinct_pairs AS (
      SELECT DISTINCT doc_a, doc_b FROM cands
    ), {_sql_verify("distinct_pairs")}, jac AS (
      SELECT m.doc_a, m.doc_b,
             m.n_common * 1.0 / (sa.n_sh + sb.n_sh - m.n_common) AS j
      FROM common m
      JOIN sizes sa ON sa.doc_id = m.doc_a
      JOIN sizes sb ON sb.doc_id = m.doc_b
    )
    SELECT c.n_bands, c.rows_per_band,
           CASE {_SQL_SWEEP_SSTAR} END AS s_star,
           CAST(count(*) AS BIGINT) AS n_candidates,
           CAST(count(CASE WHEN coalesce(j.j, 0) >= {MINHASH_VERIFY_J}
                      THEN 1 END) AS BIGINT) AS n_verified,
           {sql_dround(
               f'count(CASE WHEN coalesce(j.j, 0) >= {MINHASH_VERIFY_J} THEN 1 END)'
               ' * 1.0 / count(*)', 4)} AS precision
    FROM cands c
    LEFT JOIN jac j ON j.doc_a = c.doc_a AND j.doc_b = c.doc_b
    GROUP BY c.n_bands, c.rows_per_band
    """,
)
def minhash_band_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate volume vs verify precision for three bandings (2x8 /
    4x4 / 8x2) of the same signature matrix — the measurement behind
    choosing b and r: more, narrower bands lower the collision
    threshold s* and flood the verifier; fewer, wider bands miss
    moderate-similarity pairs. Signatures are computed ONCE and
    persisted; each config is a stack + equi-join (never all-pairs);
    the exact-Jaccard verify runs once over the UNION of candidates and
    joins back, so adding configs adds band joins, not verify passes."""
    d = table(spark, sf_dir, "documents")
    sigs = persist_tracked(minhash_signatures_df(d))
    # per-doc key arrays feed both sides of the verify join; persist so
    # the gram pipeline runs once, not twice (r8b)
    fp = persist_tracked(_doc_distinct_gram_arrays(d))
    cands = None
    for b, r in BAND_SWEEP_CFGS:
        c = _band_pairs(sigs, b, r).select(
            F.lit(b).alias("n_bands"), F.lit(r).alias("rows_per_band"), "doc_a", "doc_b"
        )
        cands = c if cands is None else cands.unionByName(c)
    distinct_pairs = cands.select("doc_a", "doc_b").distinct()
    # map-side intersect over the persisted arrays (r8b); zero-overlap
    # candidates keep j = 0.0 rows, which the old left-join + coalesce
    # produced too — n_verified and precision are unchanged
    jac = _verify_pair_overlap(distinct_pairs, fp).select(
        "doc_a", "doc_b", _overlap_jaccard().alias("j")
    )
    s_star = None
    for b, r in BAND_SWEEP_CFGS:
        lit = F.lit((1.0 / b) ** (1.0 / r))
        s_star = (
            F.when(F.col("n_bands") == b, lit)
            if s_star is None
            else s_star.when(F.col("n_bands") == b, lit)
        )
    verified = F.count(
        F.when(F.coalesce(F.col("j"), F.lit(0.0)) >= MINHASH_VERIFY_J, 1)
    )
    return (
        cands.join(jac, ["doc_a", "doc_b"], "left")
        .groupBy("n_bands", "rows_per_band")
        .agg(
            F.count(F.lit(1)).alias("n_candidates"),
            verified.alias("n_verified"),
            dround(verified * 1.0 / F.count(F.lit(1)), 4).alias("precision"),
        )
        .select(
            "n_bands",
            "rows_per_band",
            s_star.alias("s_star"),
            "n_candidates",
            "n_verified",
            "precision",
        )
    )


# ---------------------------------------------------------------------------
# Event-sequence transition matrix — first-order behavioral model of the
# event log: P(next type | current type) per user journey.
# ---------------------------------------------------------------------------


@register(
    "event_transition_matrix",
    oracle=f"""
    WITH ordered AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS next_type
      FROM events
    ), pairs AS (
      SELECT event_type AS from_type, next_type AS to_type
      FROM ordered WHERE next_type IS NOT NULL
    )
    SELECT from_type, to_type,
           CAST(count(*) AS BIGINT) AS n_transitions,
           {sql_dround("count(*) * 1.0 / sum(count(*)) OVER (PARTITION BY from_type)", 6)}
             AS p_transition
    FROM pairs GROUP BY from_type, to_type
    """,
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order transition matrix over per-user event sequences:
    counts and row-normalized P(next | current) for every (from, to)
    type pair. One lead() window per user (ordered by ts with event_id
    as the unique tie-break) + one hash agg; output is bounded by
    |event types|² regardless of log size. The behavioral-model
    companion to user_sessions/user_funnel: funnels check one path,
    this reports every edge."""
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.asc_nulls_last("ts"), "event_id")
    ordered = e.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).where(F.col("next_type").isNotNull())
    share_w = Window.partitionBy("from_type")
    return (
        ordered.select(
            F.col("event_type").alias("from_type"),
            F.col("next_type").alias("to_type"),
        )
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n_transitions"))
        .select(
            "from_type",
            "to_type",
            "n_transitions",
            dround(
                F.col("n_transitions")
                * 1.0
                / F.sum("n_transitions").over(share_w),
                6,
            ).alias("p_transition"),
        )
    )


# ---------------------------------------------------------------------------
# Near-dup graph shape: triangle count + global clustering coefficient.
# Dedup graphs from templated corpora are clique-y (high clustering);
# hash-collision noise is wedge-y (low). One number distinguishes them.
# ---------------------------------------------------------------------------


@register(
    "dedup_graph_triangles",
    oracle=f"""{_SQL_COMPONENT_CTES}
    , tri AS (
      SELECT count(*) AS n_triangles
      FROM edges e1
      JOIN edges e2 ON e2.doc_a = e1.doc_b
      JOIN edges e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b
    ), deg AS (
      SELECT v, count(*) AS d FROM (
        SELECT doc_a AS v FROM edges UNION ALL SELECT doc_b FROM edges
      ) GROUP BY v
    ), agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n_vertices,
             CAST(sum(d * (d - 1) / 2) AS BIGINT) AS n_wedges
      FROM deg
    )
    SELECT a.n_vertices,
           (SELECT CAST(count(*) AS BIGINT) FROM edges) AS n_edges,
           a.n_wedges,
           CAST(t.n_triangles AS BIGINT) AS n_triangles,
           {sql_dround('3.0 * t.n_triangles / greatest(a.n_wedges, 1)', 6)}
             AS global_clustering
    FROM agg a CROSS JOIN tri t
    """,
)
def dedup_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the verified near-dup graph: vertices, edges,
    wedges (sum of deg-choose-2), triangles (ordered a<b<c three-way
    edge join — each triangle counted once), and the global clustering
    coefficient 3T/W. The triangle join's cost is bounded by the
    verified-edge list (already near-dup-sparse), never the corpus; at
    100 TB this is the standard edge-ordered triangle enumeration whose
    skew is bounded by max component degree."""
    edges = persist_tracked(
        minhash_verified_pairs(spark, sf_dir).select("doc_a", "doc_b")
    )
    e1, e2, e3 = edges.alias("e1"), edges.alias("e2"), edges.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.doc_a") == F.col("e1.doc_b"))
        .join(
            e3,
            (F.col("e3.doc_a") == F.col("e1.doc_a"))
            & (F.col("e3.doc_b") == F.col("e2.doc_b")),
        )
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    deg = (
        edges.select(F.col("doc_a").alias("v"))
        .unionByName(edges.select(F.col("doc_b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    # n_edges = Σdeg / 2 exactly (every edge contributes one degree to
    # each endpoint), so it rides the SAME aggregate as vertices/wedges
    # — the separate count pass over edges and its crossJoin job are
    # gone (r14; one fewer consumer of the persisted edge list). `div`
    # keeps it integer-exact at any scale.
    agg = deg.agg(
        F.count(F.lit(1)).cast("long").alias("n_vertices"),
        # coalesce: empty edge set must stay 0 (the count(*) it replaces)
        F.expr("coalesce(sum(d) div 2, 0L)").alias("n_edges"),
        F.sum(F.col("d") * (F.col("d") - 1) / 2).cast("long").alias("n_wedges"),
    )
    return (
        agg.crossJoin(F.broadcast(tri))
        .select(
            "n_vertices",
            "n_edges",
            "n_wedges",
            F.col("n_triangles").cast("long").alias("n_triangles"),
            dround(
                3.0 * F.col("n_triangles") / F.greatest(F.col("n_wedges"), F.lit(1)),
                6,
            ).alias("global_clustering"),
        )
    )


# ---------------------------------------------------------------------------
# Daily-count lag-1 autocorrelation per event type — exact-integer
# Pearson r over adjacent calendar days (both present; the gap-fill
# query is the companion when the calendar has holes).
# ---------------------------------------------------------------------------


@register(
    "events_daily_autocorr",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
             count(*) AS n
      FROM events GROUP BY 1, 2
    ), lagged AS (
      SELECT a.event_type, a.n AS x, b.n AS y
      FROM daily a JOIN daily b
        ON b.event_type = a.event_type AND b.day = a.day + INTERVAL 1 DAY
    ), sums AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n_pairs,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(y * y) AS BIGINT) AS syy
      FROM lagged GROUP BY event_type
    )
    SELECT event_type, n_pairs,
           {sql_dround(
               '(n_pairs * sxy - sx * sy) * 1.0 /'
               ' greatest(sqrt((n_pairs * sxx - sx * sx) * 1.0'
               '               * (n_pairs * syy - sy * sy)), 1e-12)', 6)}
             AS lag1_autocorr
    FROM sums
    """,
)
def events_daily_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 autocorrelation of daily event counts per type: Pearson r
    over (day, day+1) count pairs, from EXACT integer sums (n, Σx, Σy,
    Σxy, Σx², Σy²) so the statistic is partition-order-independent on
    both engines — the same exact-moments trick the Zipf slope and the
    variance gate use. Near 0 on a memoryless log; spikes reveal
    day-over-day momentum or batch-ingest artifacts."""
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.to_date(F.date_trunc("day", F.col("ts"))).alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    a, b = daily.alias("a"), daily.alias("b")
    lagged = a.join(
        b,
        (F.col("b.event_type") == F.col("a.event_type"))
        & (F.col("b.day") == F.date_add(F.col("a.day"), 1)),
    ).select(
        F.col("a.event_type").alias("event_type"),
        F.col("a.n").alias("x"),
        F.col("b.n").alias("y"),
    )
    sums = lagged.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    )
    num = (F.col("n_pairs") * F.col("sxy") - F.col("sx") * F.col("sy")) * 1.0
    den = F.greatest(
        F.sqrt(
            (F.col("n_pairs") * F.col("sxx") - F.col("sx") * F.col("sx"))
            * 1.0
            * (F.col("n_pairs") * F.col("syy") - F.col("sy") * F.col("sy"))
        ),
        F.lit(1e-12),
    )
    return sums.select(
        "event_type", "n_pairs", dround(num / den, 6).alias("lag1_autocorr")
    )


# ---------------------------------------------------------------------------
# Rolling burst detector: per-minute event counts z-scored against the
# trailing hour — the finer-grained rolling twin of the daily z-score
# gate (daily_event_anomalies), with exact-moment windows.
# ---------------------------------------------------------------------------

BURST_TRAIL_MIN = 60  # trailing window (minutes), current minute excluded
BURST_Z = 3.0


@register(
    "events_burst_minutes",
    oracle=f"""
    WITH per_min AS (
      SELECT event_type, date_trunc('minute', ts) AS minute, count(*) AS n
      FROM events GROUP BY 1, 2
    ), win AS (
      SELECT event_type, minute, n,
             count(n) OVER w AS w_n,
             sum(n) OVER w AS w_sum,
             sum(n * n) OVER w AS w_sumsq
      FROM per_min
      WINDOW w AS (PARTITION BY event_type ORDER BY minute
                   RANGE BETWEEN INTERVAL {BURST_TRAIL_MIN} MINUTES PRECEDING
                         AND INTERVAL 1 MINUTE PRECEDING)
    ), scored AS (
      SELECT event_type, minute, n, w_n,
             (w_sum * 1.0 / w_n) AS mu,
             sqrt(greatest(w_sumsq * 1.0 / w_n
                           - (w_sum * 1.0 / w_n) * (w_sum * 1.0 / w_n),
                           1e-12)) AS sigma
      FROM win WHERE w_n >= 30
    )
    SELECT event_type, minute, CAST(n AS BIGINT) AS n_events,
           {sql_dround('(n - mu) / sigma', 4)} AS z_score
    FROM scored
    WHERE {sql_dround('(n - mu) / sigma', 4)} > {BURST_Z}
    """,
)
def events_burst_minutes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minutes whose event count z-scores above 3 against the trailing
    hour (current minute excluded; needs >=30 trailing minutes). Moments
    come from integer sum/sumsq RANGE windows — exact on both engines —
    and only the final ratio is a double, rounded before the threshold
    compare so the alert set is hash-stable. State per partition is one
    hour of minute counts: the same bounded-window discipline the
    streaming jobs use."""
    e = table(spark, sf_dir, "events")
    per_min = e.groupBy(
        "event_type", F.date_trunc("minute", F.col("ts")).alias("minute")
    ).agg(F.count(F.lit(1)).alias("n"))
    w = (
        Window.partitionBy("event_type")
        .orderBy(F.col("minute").cast("long"))
        .rangeBetween(-BURST_TRAIL_MIN * 60, -60)
    )
    win = per_min.select(
        "event_type",
        "minute",
        "n",
        F.count("n").over(w).alias("w_n"),
        F.sum("n").over(w).alias("w_sum"),
        F.sum(F.col("n") * F.col("n")).over(w).alias("w_sumsq"),
    ).where(F.col("w_n") >= 30)
    mu = F.col("w_sum") * 1.0 / F.col("w_n")
    sigma = F.sqrt(
        F.greatest(
            F.col("w_sumsq") * 1.0 / F.col("w_n") - mu * mu, F.lit(1e-12)
        )
    )
    z = dround((F.col("n") - mu) / sigma, 4)
    return win.select(
        "event_type",
        "minute",
        F.col("n").cast("long").alias("n_events"),
        z.alias("z_score"),
    ).where(F.col("z_score") > BURST_Z)
