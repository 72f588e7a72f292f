"""Focused tests for the round-6 optimization internals:

* minhash kernel's int64 verify tokens (`hl`) are the SAME token set as the
  hex tokens (`hs`) — bijective reinterpretation — so verify_jaccard's
  primitive-long fast path returns bit-identical jaccards to the string
  path, pair by pair;
* the scale-adaptive scan spread repartitions a too-small-to-split file to
  defaultParallelism, leaves big-enough inputs alone, and never changes
  query results; it reads the split size as Spark parsed it, so every
  byte-size form Spark accepts works.
"""

import pyspark.sql.functions as F
import pytest

from aperag_spark.operators.corpus import (
    MINHASH_BUCKET_CAP,
    bucket_pairs,
    minhash_docs,
    verify_jaccard,
)


@pytest.fixture(scope="module")
def sf_dir():
    return "/root/testdata/sf0.01"


def test_hl_tokens_bijective_with_hs(spark, sf_dir):
    """hl[i] is the signed-int64 reinterpretation of hs[i] (same 8 digest
    bytes), so the two columns carry identical token SETS element-wise."""
    from aperag_spark.queries import _t

    md = minhash_docs(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    rows = md.select("hs", "hl").limit(50).collect()
    assert rows
    for r in rows:
        assert len(r["hs"]) == len(r["hl"])
        for h, l in zip(r["hs"], r["hl"]):
            assert int.from_bytes(bytes.fromhex(h), "big", signed=True) == l


def test_verify_jaccard_long_path_matches_string_path(spark, sf_dir):
    """The primitive-long intersect (hl present) and the string intersect
    (hl dropped) must agree on every pair's rounded jaccard."""
    from aperag_spark.queries import _t

    md = minhash_docs(
        _t(spark, sf_dir, "documents").select("doc_id", "text")
    ).localCheckpoint()
    sig = md.select("doc_id", F.posexplode("mh").alias("seed", "minhash"))
    buckets = (
        sig.groupBy("seed", "minhash")
        .agg(F.array_sort(F.collect_set("doc_id")).alias("members"))
        .where((F.size("members") > 1) & (F.size("members") <= MINHASH_BUCKET_CAP))
    )
    pairs = bucket_pairs(buckets).distinct().localCheckpoint()
    fast = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in verify_jaccard(pairs, md).collect()
    }
    slow = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in verify_jaccard(pairs, md.drop("hl")).collect()
    }
    assert fast == slow
    assert len(fast) > 0


def test_spread_scan_parallelism_and_gating(spark, sf_dir):
    """A single-row-group file too small to split spreads to
    defaultParallelism; when the configured split size would already yield
    enough splits, the scan is left untouched."""
    from aperag_spark.queries import _spread_scan

    path = f"{sf_dir}/documents.parquet"
    df = spark.read.parquet(path)
    spread = _spread_scan(spark, df, path, "doc_id")
    assert spread.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism

    # simulate a production-size input: shrink maxPartitionBytes so the file
    # "would" split into >= defaultParallelism pieces -> no repartition
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", "1024")
        untouched = _spread_scan(spark, spark.read.parquet(path), path, "doc_id")
        # the returned plan must be the scan itself (no Repartition node)
        assert "repartition" not in untouched._jdf.queryExecution().logical().toString().lower()
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)


@pytest.mark.parametrize("mpb, spreads", [("1t", True), ("512b", False)])
def test_spread_scan_reads_spark_parsed_split_size(spark, sf_dir, mpb, spreads):
    """Size suffixes Spark accepts (`t`, a bare `b`) are read as Spark
    parsed them: 1t spreads the small file, 512b splits it enough."""
    from aperag_spark.queries import _spread_scan

    path = f"{sf_dir}/documents.parquet"
    df = spark.read.parquet(path)
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", mpb)
        assert (_spread_scan(spark, df, path, "doc_id") is not df) == spreads
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)


def test_spread_scan_result_invariance(spark, sf_dir):
    """Spread must never change what a query computes: same aggregate over
    the spread and unspread scans."""
    from aperag_spark.queries import _spread_scan, _words

    path = f"{sf_dir}/documents.parquet"
    plain = spark.read.parquet(path)
    spread = _spread_scan(spark, plain, path, "doc_id")

    def agg(df):
        return (
            df.select(F.explode(_words()).alias("w"))
            .groupBy("w")
            .count()
            .orderBy("w")
            .collect()
        )

    assert agg(plain) == agg(spread)
