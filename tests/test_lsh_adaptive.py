"""Adaptive LSH bucket width (r10): formula parity + organic activation.

The r10 capacity extension measured embedding_verified_topk at
alpha 1.82 — with FIXED 4-bit buckets, sign-LSH candidates are a
constant fraction of all pairs. The fix is occupancy-targeted width
past a footer gate (scale_suite._lsh_bits), mirrored in the oracle SQL
from count(*). These tests pin (a) the Python/SQL width formulas equal
value-by-value across the gate, the cap, and every power-of-two edge,
(b) bucket assignment parity Spark-vs-DuckDB on a synthetic corpus
BIG enough that the gate flips organically (no monkeypatch), and
(c) that the adaptive family below the gate is bit-identical to the
frozen 4-bit family (recorded results unchanged).
"""

from __future__ import annotations

import pathlib

import duckdb
import pytest

from edu_data_pipeline_spark.suite import load_all, scale_suite
from edu_data_pipeline_spark.suite.scale_suite import (
    LSH_ADAPT_MIN_VECS,
    LSH_MAX_BITS,
    LSH_TARGET_BUCKET,
    N_LSH_BITS,
    N_LSH_TABLES,
    _hyperplane_bits_sql,
    _lsh_bits,
    _SQL_LSH_BITS,
)

pytestmark = pytest.mark.usefixtures("spark")


def test_lsh_bits_formula_matches_oracle():
    """Python width == SQL width for every n that could disagree:
    around the gate, around every 512*2^k edge (where ceil(log2) sits
    on an integer and float rounding could flip engines apart), and in
    the cap regime."""
    con = duckdb.connect()
    ns = [0, 1, 511, 512, 513]
    ns += [LSH_ADAPT_MIN_VECS + d for d in (-2, -1, 0, 1, 2)]
    for k in range(0, 40):
        edge = LSH_TARGET_BUCKET * (1 << k)
        ns += [edge - 1, edge, edge + 1]
    ns += [10**6, 10**8, 10**9, 10**12, 2**52]
    for n in sorted(set(ns)):
        sql = _SQL_LSH_BITS.replace("count(*)", str(n))
        got = con.execute(f"SELECT {sql}").fetchone()[0]
        want = _lsh_bits(n)
        assert got == want, (n, got, want)
        assert N_LSH_BITS <= want <= LSH_MAX_BITS


def test_lsh_bits_sub_gate_family_is_frozen():
    """Below the gate the hyperplane family must be EXACTLY the
    pre-r10 4-bit one: same bit count, same plane ids (p = t*4 + b),
    so every recorded sub-gate result is unchanged."""
    assert _lsh_bits(LSH_ADAPT_MIN_VECS - 1) == N_LSH_BITS
    for t in range(N_LSH_TABLES):
        assert _hyperplane_bits_sql(t, 8, N_LSH_BITS) == _hyperplane_bits_sql(
            t, 8, 4
        )


def _write_corpus(path: pathlib.Path, n: int, dim: int) -> None:
    """Deterministic n x dim embeddings parquet (md5-derived doubles —
    no RNG, reproducible across runs/engines)."""
    import hashlib

    import pyarrow as pa
    import pyarrow.parquet as pq

    def vec(i: int) -> list[float]:
        h = hashlib.md5(f"v{i}".encode()).digest()
        return [(h[d % 16] - 127.5) / 127.5 for d in range(dim)]

    chunk = 20_000
    schema = pa.schema(
        [
            ("vec_id", pa.int64()),
            ("label", pa.string()),
            ("embedding", pa.list_(pa.float64())),
        ]
    )
    with pq.ParquetWriter(path, schema) as w:
        for lo in range(0, n, chunk):
            hi = min(n, lo + chunk)
            w.write_table(
                pa.Table.from_pydict(
                    {
                        "vec_id": list(range(lo, hi)),
                        "label": [f"l{i % 3}" for i in range(lo, hi)],
                        "embedding": [vec(i) for i in range(lo, hi)],
                    },
                    schema=schema,
                )
            )


def test_lsh_buckets_parity_at_organic_activation(spark, tmp_path):
    """Bucket assignment Spark == DuckDB on a corpus PAST the gate —
    the footer count alone flips the width to 8 bits (100k / 512 ->
    ceil(log2 195.3) = 8); no constant is monkeypatched. Compared by
    per-(table, bucket) count + vec_id sum + vec_id xor-ish second
    moment — collision-proof enough at 1536 buckets without hauling
    600k rows through py4j."""
    from pyspark.sql import functions as F

    n, dim = LSH_ADAPT_MIN_VECS, 4
    _write_corpus(tmp_path / "embeddings.parquet", n, dim)
    sf_dir = str(tmp_path)

    assert _lsh_bits(n) == 8  # the width this corpus organically gets

    df = scale_suite.embedding_lsh_buckets(spark, sf_dir)
    got = {
        (r["table_idx"], r["bucket"]): (r["c"], r["s"], r["q"])
        for r in df.groupBy("table_idx", "bucket")
        .agg(
            F.count("*").alias("c"),
            F.sum("vec_id").alias("s"),
            F.sum(F.col("vec_id") * F.col("vec_id")).alias("q"),
        )
        .collect()
    }

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{sf_dir}/embeddings.parquet'"
    )
    oracle = load_all()["embedding_lsh_buckets"].oracle
    want = {
        (t, b): (c, s, q)
        for t, b, c, s, q in con.execute(
            f"SELECT table_idx, bucket, count(*), sum(vec_id), "
            f"sum(vec_id * vec_id) FROM ({oracle}) GROUP BY 1, 2"
        ).fetchall()
    }
    assert got == want
    # and the width really was adaptive: buckets exceed the 4-bit range
    assert max(b for _, b in got) > (1 << N_LSH_BITS) - 1
    assert max(b for _, b in got) <= (1 << 8) - 1
