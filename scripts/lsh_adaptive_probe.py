"""Measure the adaptive-LSH candidate-volume exponent (SCALE.md r10d).

The r10 capacity extension measured embedding_verified_topk at
alpha 1.82 on testdata — sub-gate, where the width is the frozen
4-bit family and sign-LSH candidates are a constant fraction of all
pairs. The fix (scale_suite._lsh_bits) targets ~LSH_TARGET_BUCKET
vectors per bucket past LSH_ADAPT_MIN_VECS. This probe demonstrates
the exponent change WITHOUT materializing pairs: per-table candidate
count is exactly sum_i c_i*(c_i-1)/2 over the bucket histogram, so two
bucket aggregations per (scale, width) give the exact candidate volume
the verify join would see (pre cross-table dedup). Corpora are
deterministic md5-derived vectors (the test_lsh_adaptive generator) at
100k and 400k — both past the gate, so the adaptive width is the
ORGANIC one (8 -> 10 bits); the forced-4-bit runs are the
counterfactual the old code would have executed.

Usage: python scripts/lsh_adaptive_probe.py
Prints one markdown row per (n, width): bits, buckets, max occupancy,
candidate pairs, and the fitted exponent per width.

    python scripts/lsh_adaptive_probe.py --uniform [--dim D]

runs the r11 occupancy-skew control instead: the same histogram fit
(adaptive width only) on a near-continuous corpus at ambient dimension
D (default 16), isolating whether the residual exponent comes from the
corpus or from the hyperplane-arrangement geometry. Measured: the
corpus is innocent; the planes~dim regime is the cause (alpha 1.25 at
dim 16 on BOTH corpora -> 1.02 at dim 256).

r11 (VERDICT r10 #4): after the candidate counts, the probe also runs
the REAL registry query (embedding_verified_topk) end-to-end at both
post-gate scales and fits the standard capacity-row exponent from
shuffleWriteBytes deltas — the adaptive-path successor to the r10d
table's sub-gate alpha-1.82 exhibit row, measured with the identical
protocol (noop write, stage-byte deltas, input = scanned parquet
bytes).
"""

from __future__ import annotations

import math
import pathlib
import sys

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))

import os  # noqa: E402

from pyspark.sql import functions as F  # noqa: E402

from edu_data_pipeline_spark.session import get_spark  # noqa: E402
from edu_data_pipeline_spark.suite import scale_suite  # noqa: E402

ROOT = os.environ.get("LSHPROBE_ROOT", "/tmp/lsh_adaptive_probe")
SCALES = (100_000, 400_000)
DIM = 16


def _materialize(p: pathlib.Path, writer, *args) -> None:
    """Write a corpus parquet ATOMICALLY: a run interrupted mid-
    ParquetWriter must not leave a truncated file that later runs
    mistake for a complete corpus and reuse, skewing the measurement
    (ADVICE r11 #2). The writer targets a temp name in the same
    directory; os.replace() publishes it only once fully written. The
    temp name is per-process (pid suffix) so two concurrent probe runs
    cannot race on the same tmp file — a shared name would let one
    process's finally-unlink or os.replace remove/publish the other's
    in-progress write (ADVICE r12 #3)."""
    if p.exists():
        return
    p.parent.mkdir(parents=True, exist_ok=True)
    tmp = p.with_name(f"{p.name}.{os.getpid()}.tmp")
    try:
        writer(tmp, *args)
        os.replace(tmp, p)
    finally:
        tmp.unlink(missing_ok=True)


def _corpus(n: int) -> str:
    sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent / "tests"))
    from test_lsh_adaptive import _write_corpus

    d = pathlib.Path(ROOT) / f"sf{n}"
    _materialize(d / "embeddings.parquet", _write_corpus, n, DIM)
    return str(d)


def _write_uniform_corpus(path: pathlib.Path, n: int, dim: int) -> None:
    """Control corpus for the occupancy-skew attribution (r11): same
    deterministic md5 protocol, but each coordinate takes 2 digest
    bytes (65,536 levels vs the standard corpus's 256), so vector
    DIRECTIONS are near-continuous.

    MEASURED OUTCOME (recorded in SCALE.md r11a follow-up): at dim 16
    this control reproduces the standard corpus's exponent exactly
    (alpha 1.25, max occupancy 2,009 -> 3,777 vs 2,002 -> 3,679), so
    the residual is NOT corpus discretization — it is the cell-size
    skew of a random hyperplane arrangement when planes ~ dim. The
    --dim sweep shows the dose-response: alpha 1.25 (dim 16) -> 1.08
    (dim 64) -> 1.02 (dim 256), max occupancy collapsing toward the
    512 mean-occupancy target. Production embedding widths sit in the
    collapsed regime."""
    import hashlib

    import pyarrow as pa
    import pyarrow.parquet as pq

    def vec(i: int) -> list[float]:
        need = (2 * dim + 15) // 16
        h = b"".join(
            hashlib.md5(f"u{i}c{k}".encode()).digest() for k in range(need)
        )
        return [
            (int.from_bytes(h[2 * d : 2 * d + 2], "big") - 32767.5) / 32767.5
            for d in range(dim)
        ]

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


def _uniform_corpus(n: int, dim: int = DIM) -> str:
    d = pathlib.Path(ROOT) / f"uniform{n}d{dim}"
    _materialize(d / "embeddings.parquet", _write_uniform_corpus, n, dim)
    return str(d)


def parse_args(argv: list[str] | None = None):
    """ADVICE r11 #1: the hand-rolled `--dim` parsing raised IndexError
    on a missing value, accepted non-positive widths, and silently
    ignored `--dim` without `--uniform`. argparse + explicit checks."""
    import argparse

    parser = argparse.ArgumentParser(
        prog="lsh_adaptive_probe.py",
        description=__doc__.splitlines()[0],
    )
    parser.add_argument(
        "--uniform",
        action="store_true",
        help="run the r11 occupancy-skew control (near-continuous corpus, "
        "adaptive width only) instead of the standard probe",
    )
    parser.add_argument(
        "--dim",
        type=int,
        default=None,
        metavar="D",
        help="ambient dimension for the uniform control corpus "
        f"(default {DIM}; only meaningful with --uniform)",
    )
    args = parser.parse_args(argv)
    if args.dim is not None and args.dim < 1:
        parser.error(f"--dim must be >= 1, got {args.dim}")
    if args.dim is not None and not args.uniform:
        parser.error(
            "--dim only applies to the --uniform control corpus; the "
            "standard probe corpus is pinned at dim "
            f"{DIM} (its recorded exponents depend on it)"
        )
    return args


def main() -> None:
    args = parse_args()
    # 64g heap (the SCALE.md r10c organic dup-span record used the same):
    # the post-gate capacity fit runs
    # the REAL verify join over ~10^8-10^9 candidate pairs; the default
    # 1g local JVM OOMs in the pair-distinct hash aggregate.
    spark = get_spark(
        app_name="lsh-adaptive-probe",
        extra_conf={"spark.driver.memory": "64g"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    # --uniform: occupancy-skew control (SCALE.md r11a) — identical
    # histogram protocol on the near-continuous corpus, adaptive width
    # only (the counterfactual and the real-query fit belong to the
    # standard run).
    uniform = args.uniform
    # --dim D (uniform mode only): probe the arrangement geometry at a
    # different ambient dimension — the r11a follow-up measures whether
    # the occupancy skew is the planes≈dim regime (16-dim probe corpus)
    # or survives at production embedding widths.
    dim = args.dim if args.dim is not None else DIM
    corpus_of = (lambda n: _uniform_corpus(n, dim)) if uniform else _corpus
    print("| n | width | bits | buckets/table | max occupancy | candidate pairs |")
    print("|---|---|---|---|---|---|")
    cands: dict[str, dict[int, int]] = {"adaptive(organic)": {}, "fixed-4-bit(old)": {}}
    for n in SCALES:
        sf_dir = corpus_of(n)
        e = (
            spark.read.parquet(f"{sf_dir}/embeddings.parquet")
            .select(
                "vec_id",
                F.col("embedding").cast("array<double>").alias("emb"),
            )
        )
        organic = scale_suite._lsh_bits(n)
        widths = [("adaptive(organic)", organic)]
        if not uniform:
            widths.append(("fixed-4-bit(old)", scale_suite.N_LSH_BITS))
        for tag, bits in widths:
            hist = (
                scale_suite.lsh_bucket_rows(e, dim, bits)
                .groupBy("table_idx", "bucket")
                .agg(F.count("*").alias("c"))
                .agg(
                    F.sum(F.col("c") * (F.col("c") - 1) / 2).alias("pairs"),
                    F.max("c").alias("maxc"),
                    F.count("*").alias("nbuckets"),
                )
                .collect()[0]
            )
            pairs = int(hist["pairs"])
            cands[tag][n] = pairs
            print(
                f"| {n} | {tag} | {bits} | {hist['nbuckets'] // scale_suite.N_LSH_TABLES}"
                f" | {hist['maxc']} | {pairs:,} |",
                flush=True,
            )
    a, b = SCALES
    for tag, by_n in cands.items():
        if not by_n:
            continue
        alpha = math.log(by_n[b] / by_n[a]) / math.log(b / a)
        label = f"{tag}, uniform control" if uniform else tag
        print(f"candidate-volume exponent {label}: {alpha:.2f}")
    if uniform:
        spark.stop()
        return

    # -- capacity-row fit on the real query, adaptive (post-gate) path --
    import json
    import urllib.request

    from edu_data_pipeline_spark.suite import load_all, release_caches

    def shuffle_total() -> int:
        base = spark.sparkContext.uiWebUrl
        app = spark.sparkContext.applicationId
        with urllib.request.urlopen(
            f"{base}/api/v1/applications/{app}/stages?status=complete"
        ) as resp:
            return sum(
                s.get("shuffleWriteBytes", 0) for s in json.load(resp)
            )

    fn = load_all()["embedding_verified_topk"].fn
    print()
    print("| n (vectors) | input MB | shuffle MB | sh/in |")
    print("|---|---|---|---|")
    meas = []
    for n in SCALES:
        sf_dir = _corpus(n)
        scanned = (
            pathlib.Path(sf_dir) / "embeddings.parquet"
        ).stat().st_size
        sh0 = shuffle_total()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        release_caches()
        spark.catalog.clearCache()
        sh = shuffle_total() - sh0
        meas.append((scanned, sh))
        print(
            f"| {n:,} | {scanned/1e6:,.1f} | {sh/1e6:,.1f} "
            f"| {sh/scanned:.3f} |",
            flush=True,
        )
    (in_a, sh_a), (in_b, sh_b) = meas
    alpha = math.log(sh_b / sh_a) / math.log(in_b / in_a)
    print(
        f"embedding_verified_topk shuffle-byte exponent "
        f"(adaptive, post-gate): alpha {alpha:.2f}"
    )
    spark.stop()


if __name__ == "__main__":
    main()
