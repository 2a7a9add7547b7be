"""End-to-end Spark aggregation tests: distributed Bloom build over the
tokenized-sequence table, membership probes, merge-order invariance.
"""

from __future__ import annotations

import numpy as np
import pytest

from pyspark.sql import functions as F

from marker_spark.agg import (
    _place_keys,
    build_partials_arrow,
    collect_sketch,
    collect_sketches,
    merge_partials,
    salted_repartition,
    sketch_agg,
)
from marker_spark.datagen import gen_tokenized_sequences
from marker_spark.kernels import (
    bloom_factory,
    bloom_ngram_updater,
    make_ngram_membership_udf,
)
from marker_spark.ngrams import list_column_to_flat, ngram_bytes
from marker_spark.sketches.bloom import BloomSketch

N_DOCS = 2000
NGRAM = 3


@pytest.fixture(scope="module")
def tokseq_df(spark, tokseq_path):
    return spark.read.parquet(tokseq_path)


def _local_reference_sketch(factory, n):
    """Single-threaded local build over the same data = ground truth."""
    tbl = gen_tokenized_sequences(N_DOCS, seed=42).to_pandas()
    sk = factory()
    flat, offsets = list_column_to_flat(tbl["tokens"])
    mat, _ = ngram_bytes(flat, offsets, n)
    sk.insert_fixed_width(mat)
    return sk, tbl


def test_distributed_build_matches_local(spark, tokseq_df):
    factory = bloom_factory(capacity=300_000, fp=0.001)
    update = bloom_ngram_updater(NGRAM)
    local, _ = _local_reference_sketch(factory, NGRAM)

    result = sketch_agg(tokseq_df.repartition(7), factory, update, BloomSketch)
    dist = collect_sketch(result, BloomSketch)
    # Exact state equality: OR-merge across any partitioning gives the
    # same bit array as the single-pass build.
    np.testing.assert_array_equal(dist.blocks, local.blocks)
    assert dist.n_inserted == local.n_inserted


def test_partition_count_invariance(spark, tokseq_df):
    factory = bloom_factory(capacity=300_000, fp=0.001)
    update = bloom_ngram_updater(NGRAM)
    a = collect_sketch(sketch_agg(tokseq_df.repartition(2), factory, update, BloomSketch), BloomSketch)
    b = collect_sketch(
        sketch_agg(tokseq_df.repartition(13), factory, update, BloomSketch, tree_fanin=4),
        BloomSketch,
    )
    np.testing.assert_array_equal(a.blocks, b.blocks)


def test_grouped_build_by_source(spark, tokseq_df):
    factory = bloom_factory(capacity=300_000, fp=0.001)
    update = bloom_ngram_updater(NGRAM)
    result = sketch_agg(tokseq_df, factory, update, BloomSketch, group_cols=["source"])
    sketches = collect_sketches(result, BloomSketch, ["source"])
    pdf = gen_tokenized_sequences(N_DOCS, seed=42).to_pandas()
    assert set(k[0] for k in sketches) == set(pdf["source"].unique())
    # Per-group zero false negatives.
    for src, sub in pdf.groupby("source"):
        sk = sketches[(src,)]
        flat, offsets = list_column_to_flat(sub["tokens"])
        mat, _ = ngram_bytes(flat, offsets, NGRAM)
        assert bool(sk.contains_fixed_width(mat).all()), f"FN in group {src}"


def test_membership_udf_no_false_negatives(spark, tokseq_df):
    factory = bloom_factory(capacity=300_000, fp=0.001)
    update = bloom_ngram_updater(NGRAM)
    sk = collect_sketch(sketch_agg(tokseq_df, factory, update, BloomSketch), BloomSketch)

    udf = make_ngram_membership_udf(sk.to_bytes(), NGRAM)
    hits = tokseq_df.select(udf("tokens").alias("hit")).toPandas()["hit"]
    # Every inserted doc contains its own n-grams -> all true.
    assert bool(hits.all())


def test_membership_udf_fp_bounded(spark):
    # Probe docs generated with a different seed: nearly all their
    # n-grams are absent; row-level "any n-gram present" can still fire
    # on common zipf-head grams, so probe with rare high-id tokens.
    factory = bloom_factory(capacity=300_000, fp=0.001)
    update = bloom_ngram_updater(NGRAM)
    rng = np.random.default_rng(99)
    import pandas as pd

    probe_tokens = [rng.integers(10**6, 10**7, size=20).astype(np.int32) for _ in range(500)]
    sk, _ = _local_reference_sketch(factory, NGRAM)
    flat, offsets = list_column_to_flat(pd.Series(probe_tokens))
    mat, per_doc = ngram_bytes(flat, offsets, NGRAM)
    hits = sk.contains_fixed_width(mat)
    fp_rate = float(hits.mean())
    assert fp_rate <= 0.001 * 1.3
    # the DISTRIBUTED probe UDF must agree with the local kernel doc
    # for doc (any-n-gram semantics) — the negative path included
    from marker_spark.kernels import make_ngram_membership_udf

    seg = np.concatenate(([0], np.cumsum(per_doc)[:-1]))
    local_any = np.add.reduceat(hits.astype(np.int64), seg) > 0
    probe_df = spark.createDataFrame(
        pd.DataFrame({"i": range(len(probe_tokens)),
                      "tokens": [t.tolist() for t in probe_tokens]}),
        schema="i long, tokens array<int>",
    )
    udf = make_ngram_membership_udf(sk.to_bytes(), NGRAM)
    got = (
        probe_df.withColumn("h", udf("tokens")).orderBy("i").select("h").toPandas()["h"]
        .to_numpy()
    )
    assert np.array_equal(got, local_any)


def _arrow_updater(factory, update, group_col):
    """build_partials_arrow batch updater over a pandas updater."""

    def batch_update(states, batch):
        for key, sub in batch.to_pandas().groupby(group_col, sort=False):
            sk = states.get((key,))
            if sk is None:
                sk = states[(key,)] = factory()
            update(sk, sub)

    return batch_update


def test_salted_build_matches_unsalted(spark, tokseq_df):
    """salted_repartition -> build_partials_arrow -> merge_partials must
    give every source the same Bloom state as the unsalted build."""
    factory = bloom_factory(capacity=300_000, fp=0.001)
    batch_update = _arrow_updater(factory, bloom_ngram_updater(NGRAM), "source")
    counts = {r["source"]: r["count"] for r in tokseq_df.groupBy("source").count().collect()}
    shares = {g: c / N_DOCS for g, c in counts.items()}
    salted = salted_repartition(tokseq_df, "source", shares, parallelism=8)

    def build(df):
        merged = merge_partials(build_partials_arrow(df, batch_update, ["source"]),
                                BloomSketch, ["source"])
        return collect_sketches(merged, BloomSketch, ["source"])

    a, b = build(tokseq_df), build(salted)
    assert set(a) == set(b) == {(g,) for g in counts}
    for key in a:
        np.testing.assert_array_equal(a[key].blocks, b[key].blocks)
        assert a[key].n_inserted == b[key].n_inserted


def _groups_df(spark, groups):
    import pandas as pd

    return spark.createDataFrame(
        pd.DataFrame({"g": groups, "v": range(len(groups))}), schema="g string, v long"
    ).repartition(3)


def _partitions_by_group(df) -> dict:
    """group -> {partition id: rows} of a repartitioned frame."""
    out: dict = {}
    rows = df.groupBy("g", F.spark_partition_id().alias("p")).count().collect()
    for r in rows:
        out.setdefault(r["g"], {})[r["p"]] = r["count"]
    return out


SHARES = {"hot": 0.45, "b": 0.2, "c": 0.15, "d": 0.1, "e": 0.05}
GROUPS = ["hot"] * 4500 + ["b"] * 2000 + ["c"] * 1500 + ["d"] * 1000 + ["e"] * 500


def test_salted_placement_one_partition_per_key(spark):
    """Every (group, salt) key sits on its own partition: a group's rows
    fill exactly the partitions of its salts, and the hot group's salts
    are distinct partitions."""
    parallelism = 8
    salts = {g: max(1, round(s * parallelism)) for g, s in SHARES.items()}
    placed = _place_keys(salts, SHARES, parallelism)
    assert len(set(placed["hot"])) == salts["hot"] == 4
    out = salted_repartition(_groups_df(spark, GROUPS), "g", SHARES, parallelism)
    by_group = _partitions_by_group(out)
    for g, ps in placed.items():
        assert set(by_group[g]) == set(ps), g
    # rows of the hot group split evenly over its salts
    assert max(by_group["hot"].values()) - min(by_group["hot"].values()) <= 3


@pytest.mark.parametrize("parallelism", [4, 8, 32])
def test_salted_partition_count(spark, parallelism):
    """min(parallelism, #keys) partitions; none empty when the keys
    cover them."""
    n_keys = sum(max(1, round(s * parallelism)) for s in SHARES.values())
    out = salted_repartition(_groups_df(spark, GROUPS), "g", SHARES, parallelism)
    n = min(parallelism, n_keys)
    assert out.rdd.getNumPartitions() == n
    used = {p for ps in _partitions_by_group(out).values() for p in ps}
    assert used <= set(range(n))
    if n_keys >= parallelism:
        assert used == set(range(n))


def test_salted_unknown_and_null_groups_kept(spark):
    """Groups missing from shares and NULL groups fall back to the hash
    of the group: no row is lost, and NULLs still reach NULL_KEY."""
    from marker_spark.agg import NULL_KEY
    from marker_spark.kernels import bloom_binary_updater

    groups = GROUPS + ["zz"] * 200 + [None] * 300
    out = salted_repartition(_groups_df(spark, groups), "g", SHARES, 8)
    by_group = _partitions_by_group(out)
    assert sum(by_group["zz"].values()) == 200 and len(by_group["zz"]) == 1
    assert sum(by_group[None].values()) == 300 and len(by_group[None]) == 1
    assert out.count() == len(groups)
    sk = collect_sketches(
        sketch_agg(out.withColumn("v", F.col("v").cast("string")),
                   bloom_factory(20_000, 0.01), bloom_binary_updater("v"),
                   BloomSketch, group_cols=["g"]),
        BloomSketch, ["g"],
    )
    assert sk[(NULL_KEY,)].n_inserted == 300
    assert sk[("zz",)].n_inserted == 200


@pytest.mark.parametrize(
    "shares, parallelism, match",
    [
        ({"a": 1.0}, 0, "parallelism"),
        ({"a": 0.5, "b": -0.1}, 4, "shares"),
        ({"a": float("nan")}, 4, "shares"),
    ],
)
def test_salted_repartition_rejects_bad_input(spark, tokseq_df, shares, parallelism, match):
    """Bad sizing fails on the driver with a clear message, before any
    Spark job."""
    sc = spark.sparkContext
    sc.setJobGroup("salted-bad-input", "salted-bad-input")
    try:
        with pytest.raises(ValueError, match=match):
            salted_repartition(tokseq_df, "source", shares, parallelism)
        assert sc.statusTracker().getJobIdsForGroup("salted-bad-input") == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_null_group_keys_reach_a_sketch(spark):
    """Rows with a null group key must be sketched under the sentinel
    group, not silently dropped (ADVICE: pandas groupby dropna)."""
    import pandas as pd

    from marker_spark.agg import NULL_KEY
    from marker_spark.kernels import bloom_factory, bloom_binary_updater

    df = spark.createDataFrame(
        pd.DataFrame({"g": ["a", "a", None, None, None], "v": list("vwxyz")}),
        schema="g string, v string",
    ).repartition(2)
    out = sketch_agg(df, bloom_factory(1000, 0.01), bloom_binary_updater("v"),
                     BloomSketch, group_cols=["g"])
    sketches = collect_sketches(out, BloomSketch, ["g"])
    assert (NULL_KEY,) in sketches
    null_sk = sketches[(NULL_KEY,)]
    assert null_sk.n_inserted == 3
    assert null_sk.contains([b"x", b"y", b"z"]).all()
    assert sketches[("a",)].n_inserted == 2


def test_encode_series_null_cells():
    """A bytes marker column with a stray NULL must encode, not crash
    (regression: the vectorized path chose by first cell and len(None)
    blew up in pad_bytes)."""
    import pandas as pd

    from marker_spark.kernels import encode_series

    assert encode_series(pd.Series([b"abc", None, b"x"])) == [b"abc", b"None", b"x"]
    assert encode_series(pd.Series([None, b"abc"])) == [b"None", b"abc"]
    assert encode_series(pd.Series([None, None], dtype=object)) == [b"None", b"None"]
    assert encode_series(pd.Series(["a", None])) == [b"a", b"None"]
    assert encode_series(pd.Series([], dtype=object)) == []
