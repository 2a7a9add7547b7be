"""Seeded inputs and the four timed operations of the benchmark.

Every run executes the whole lifecycle of the library -- sketch-table
build, keyed n-gram probe, time-range marker probe and a cache stream --
so every end-to-end metric exists on every workload.  A workload sets the
input sizes and how the run's seconds are split between the operations;
its focus operation gets the largest input and the most iterations.

Inputs come from ``marker_spark.datagen`` and the run seed only, and are
written under the run's work directory.
"""

from __future__ import annotations

import os
import shutil
import struct
import time
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.accumulators import AccumulatorParam
from pyspark.sql import functions as F

from marker_spark.agg import build_partials_arrow, merge_partials, salted_repartition, unpack_state
from marker_spark.cache import SketchCache
from marker_spark.datagen import VOCAB_SIZE, gen_markers, gen_tokenized_sequences
from marker_spark.hashing import mmh3_ngram_i32
from marker_spark.kernels import arrow_str_codes, arrow_tokens_view, bloom_factory
from marker_spark.ngrams import ngram_starts
from marker_spark.params import CacheParams
from marker_spark.probe import probe_sketch_table
from marker_spark.sketches.bloom import BloomSketch
from marker_spark.sketches.cms import CmsSketch
from marker_spark.sketches.hll import HllSketch
from marker_spark.sketches.kll import KllSketch

FP = 0.01  # configured fp of the probe table and of both caches
BUILD_FP = 0.001  # configured fp of each build-hot composite's Bloom
OPS = ("stream", "build", "probe", "range")  # order within a round
RANGE_BUCKETS = 4  # buckets in the range-probe cache
RANGE_DURATION = 3600
STREAM_DURATION = 60  # stream cache bucket width (s), and the event time of one micro-batch
STREAM_LIFESPAN = 180
STREAM_FILL = STREAM_LIFESPAN // STREAM_DURATION + 1  # micro-batches that fill the stream ring
MARKER_WIDTH = 150  # bytes: one width for every marker set, so cost per marker does not vary by seed
MEMBER_PROBES = 4_000  # corpus rows probed by the keyed n-gram probe
BATCH_MARKERS = 500  # markers per stream micro-batch
LOOKUP_PROBES = 1_000  # probes per lookup_from call: half inserted, half absent
MIN_ROUNDS = 3  # measured rounds at least, however short --seconds is
MAX_ROUNDS = 4  # measured rounds at most, so the stream pool is never exhausted


@dataclass(frozen=True)
class Sizes:
    docs: int  # corpus rows: build input and probe-table input
    bucket_docs: int  # corpus rows per probe-table time bucket
    absent_docs: int  # out-of-vocabulary 3-token probe rows
    range_markers: int  # markers per range-probe cache bucket
    absent_markers: int  # never-inserted markers for the range probe
    lookups: int  # timed lookup_from calls per micro-batch
    per_round: dict  # op -> iterations in one measured round


WORKLOADS = {
    # write path: a larger zipf corpus whose hottest source holds ~40% of
    # the rows; the composite build is the largest share of each round
    "build-hot": Sizes(
        docs=8_000, bucket_docs=2_000, absent_docs=60_000,
        range_markers=2_000, absent_markers=30_000, lookups=170,
        per_round={"build": 1, "probe": 1, "range": 2, "stream": 2},
    ),
    # read path: large probe sets against a small table and cache, and a
    # longer closed-loop stream of micro-batches
    "probe-stream": Sizes(
        docs=4_000, bucket_docs=1_000, absent_docs=80_000,
        range_markers=5_000, absent_markers=40_000, lookups=100,
        per_round={"build": 1, "probe": 1, "range": 2, "stream": 4},
    ),
}


# --- executor-side counters ------------------------------------------------------------

class SumDict(AccumulatorParam):
    """Accumulator of name -> summed number, filled inside Python workers."""

    def zero(self, value):
        return {}

    def addInPlace(self, a, b):
        for k, v in b.items():
            a[k] = a.get(k, 0) + v
        return a


def _timed(tm, key, fn, *args):
    """fn(*args), adding its duration to tm[key] unless tm is None."""
    if tm is None:
        return fn(*args)
    t0 = time.perf_counter()
    out = fn(*args)
    tm[key] = tm.get(key, 0.0) + time.perf_counter() - t0
    return out


# --- seeded inputs ---------------------------------------------------------------------

class Inputs:
    """All inputs of one run, generated from the seed and written as
    parquet under work_dir."""

    def __init__(self, seed: int, sizes: Sizes, work_dir: str) -> None:
        self.seed, self.sizes, self.dir = seed, sizes, work_dir
        os.makedirs(work_dir, exist_ok=True)
        s = sizes
        self.corpus = gen_tokenized_sequences(s.docs, seed=seed)
        self.corpus_path = self._write("corpus", self.corpus, row_group_size=1024)
        self.n_buckets = -(-s.docs // s.bucket_docs)

        # keyed n-gram probe rows: a spread sample of corpus docs (members)
        # and out-of-vocabulary 3-token docs from a disjoint row range
        member_idx = np.linspace(0, s.docs - 1, MEMBER_PROBES).astype(np.int64)
        absent = gen_tokenized_sequences(
            s.absent_docs, seed=seed, min_tok=3, max_tok=3, start=s.docs, zipf_a=0.0
        )
        absent_tokens = pa.ListArray.from_arrays(
            absent.column("tokens").combine_chunks().offsets,
            pa.array(absent.column("tokens").combine_chunks().values.to_numpy() + VOCAB_SIZE, pa.int32()),
        )
        members = self.corpus.take(pa.array(member_idx))
        probe_rows = pa.table({
            "source": pa.concat_arrays([members.column("source").combine_chunks(),
                                        absent.column("source").combine_chunks()]),
            "bucket": pa.array(np.concatenate([member_idx // s.bucket_docs,
                                               np.arange(s.absent_docs) % self.n_buckets]), pa.int64()),
            "tokens": pa.concat_arrays([members.column("tokens").combine_chunks(), absent_tokens]),
            "member": pa.array(np.arange(MEMBER_PROBES + s.absent_docs) < MEMBER_PROBES),
        })
        # members and absent rows interleaved, so every scan split gets both
        rng = np.random.default_rng(seed)
        self.probe_rows = probe_rows.take(pa.array(rng.permutation(probe_rows.num_rows)))
        self.probe_path = self._write("probe_rows", self.probe_rows, row_group_size=2048)

        # range probe: markers of RANGE_BUCKETS hourly buckets, then the
        # probe set (every inserted marker plus never-inserted ones)
        t0 = self.range_t0 = 1_700_000_000 - 1_700_000_000 % RANGE_DURATION
        mk = _markers(RANGE_BUCKETS * s.range_markers, seed + 1)
        bucket = np.repeat(np.arange(RANGE_BUCKETS), s.range_markers)
        ts = t0 + bucket * RANGE_DURATION + (np.arange(len(mk)) % RANGE_DURATION)
        self.range_insert_path = self._write("range_insert", pa.table({
            "ts": pa.array(ts * 1_000_000, pa.timestamp("us")),
            "m": _binary(mk),
        }))
        amk = _markers(s.absent_markers, seed + 2)
        range_rows = pa.table({
            "m": pa.concat_arrays([_binary(mk), _binary(amk)]),
            "bucket": pa.array(np.concatenate([bucket, np.full(len(amk), -1)]), pa.int64()),
        })
        self.range_probe_path = self._write(
            "range_probe", range_rows.take(pa.array(rng.permutation(range_rows.num_rows))), row_group_size=4096
        )
        self.range_rows = len(mk) + len(amk)

        # stream: a pool of micro-batches, one file each, batch b filling
        # the b-th bucket of event time; the warm-up fills the ring, and a
        # traced run measures up to 2 * MAX_ROUNDS rounds
        self.stream_t0 = t0
        n_batches = STREAM_FILL + 2 * MAX_ROUNDS * s.per_round["stream"]
        smk = _markers(n_batches * BATCH_MARKERS, seed + 3)
        self.stream_dir = os.path.join(work_dir, "stream")
        for b in range(n_batches):
            sts = t0 + b * STREAM_DURATION + np.arange(BATCH_MARKERS) % STREAM_DURATION
            os.makedirs(os.path.join(self.stream_dir, f"batch={b}"))
            pq.write_table(pa.table({
                "ts": pa.array(sts * 1_000_000, pa.timestamp("us")),
                "m": _binary(smk[b * BATCH_MARKERS : (b + 1) * BATCH_MARKERS]),
            }), os.path.join(self.stream_dir, f"batch={b}", "part-0.parquet"))
        self.stream_markers = smk
        self.absent_pool = [bytes(r) for r in _markers(4 * LOOKUP_PROBES, seed + 4)]

    def _write(self, name: str, table: pa.Table, row_group_size: int = 65536) -> str:
        path = os.path.join(self.dir, f"{name}.parquet")
        pq.write_table(table, path, row_group_size=row_group_size)
        return path

    def describe(self) -> dict:
        c = self.corpus
        return {
            "seed": self.seed,
            "docs": c.num_rows,
            "tokens": int(np.asarray(c.column("n_tok")).sum()),
            "groups_build": len(set(c.column("source").to_pylist())),
            "groups_probe": len(set(zip(c.column("source").to_pylist(), np.arange(c.num_rows) // self.sizes.bucket_docs))),
            "probe_rows": self.probe_rows.num_rows,
            "range_rows": self.range_rows,
            "markers_per_batch": BATCH_MARKERS,
        }


def _markers(n: int, seed: int) -> np.ndarray:
    return gen_markers(n, seed=seed, width_lo=MARKER_WIDTH, width_hi=MARKER_WIDTH)[0]


def _binary(mat: np.ndarray) -> pa.Array:
    """Fixed-width uint8 rows -> Arrow binary array without a Python loop."""
    n, w = mat.shape
    offsets = pa.array(np.arange(n + 1, dtype=np.int32) * w, pa.int32())
    return pa.BinaryArray.from_buffers(pa.binary(), n, [None, offsets.buffers()[1], pa.py_buffer(mat.tobytes())])


def ngram_counts(corpus: pa.Table, keys: list[str], bucket_docs: int = 0) -> dict:
    """3-gram count per group key, from the generated table: sizes each
    group's Bloom.  Key "bucket" is the row index // bucket_docs, as a string."""
    n = np.maximum(np.asarray(corpus.column("n_tok")).astype(np.int64) - 2, 0)
    cols = []
    for k in keys:
        if k == "bucket":
            cols.append((np.arange(corpus.num_rows) // bucket_docs).astype(str))
        else:
            cols.append(np.asarray(corpus.column(k).to_pylist(), dtype=object))
    out: dict = {}
    for i, key in enumerate(zip(*cols)):
        out[key] = out.get(key, 0) + int(n[i])
    return out


# --- build: composite per-source sketch table --------------------------------------------

class Composite:
    """Bloom(3-gram) + HLL(p=14) + CMS(5x2^16) + KLL(k=256) for one
    source, fed by one shared hash pass.  A run subclasses it with the
    per-source Bloom capacities and, when traced, an accumulator."""

    caps: dict = {}
    acc = None

    def __init__(self, key=None):
        cap = self.caps.get(key[0] if key else None, 10_000)
        self.bloom = bloom_factory(capacity=max(int(cap * 1.2), 10_000), fp=BUILD_FP)()
        self.hll = HllSketch(p=14)
        self.cms = CmsSketch(d=5, w=1 << 16)
        self.kll = KllSketch(k=256)

    def update(self, h1, h2, n_tok, tm) -> None:
        _timed(tm, "sketches.bloom.insert_s", self.bloom.insert_hashes, h1, h2)
        _timed(tm, "sketches.hll.update_s", self.hll.update_hashes, h1)
        _timed(tm, "sketches.cms.update_s", self.cms.update_hashes, h1, h2)
        _timed(tm, "sketches.kll.update_s", self.kll.update, n_tok)
        if tm is not None:
            tm["sketches.items"] = tm.get("sketches.items", 0) + len(h1)
            tm["sketches.kll.items"] = tm.get("sketches.kll.items", 0) + len(n_tok)

    def to_bytes(self) -> bytes:
        parts = [self.bloom.to_bytes(), self.hll.to_bytes(), self.cms.to_bytes(), self.kll.to_bytes()]
        return b"".join(struct.pack("<I", len(p)) + p for p in parts)

    @classmethod
    def from_bytes(cls, buf):
        parts, off = [], 0
        while off < len(buf):
            (ln,) = struct.unpack_from("<I", buf, off)
            parts.append(buf[off + 4 : off + 4 + ln])
            off += 4 + ln
        obj = cls.__new__(cls)
        obj.bloom = BloomSketch.from_bytes(parts[0])
        obj.hll = HllSketch.from_bytes(parts[1])
        obj.cms = CmsSketch.from_bytes(parts[2])
        obj.kll = KllSketch.from_bytes(parts[3])
        return obj

    def nbytes(self) -> int:
        return self.bloom.blocks.nbytes + self.hll.registers.nbytes + self.cms.grid.nbytes

    def merge_in_place(self, other):
        t0 = time.perf_counter()
        self.bloom.merge_in_place(other.bloom)
        self.hll.merge_in_place(other.hll)
        self.cms.merge_in_place(other.cms)
        self.kll.merge_in_place(other.kll)
        if self.acc is not None:
            self.acc.add({"agg.merge_fold_s": time.perf_counter() - t0, "agg.merge_fold_bytes": other.nbytes()})
        return self


def _composite_update(states: dict, batch, cls, acc) -> None:
    """Batch updater: hash every 3-gram of the batch once, then feed
    each source's composite its slice."""
    tm = None if acc is None else {}
    flat, offsets = _timed(tm, "kernels.arrow_view_s", arrow_tokens_view, batch)
    starts, per_doc = _timed(tm, "hashing.s", ngram_starts, offsets, 3)
    h1, h2 = _timed(tm, "hashing.s", mmh3_ngram_i32, flat, starts, 3)
    codes, uniques = _timed(tm, "kernels.arrow_view_s", arrow_str_codes, batch, "source")
    ngram_codes = np.repeat(codes, per_doc)
    n_tok = np.diff(offsets).astype(np.float64)
    for gi, gname in enumerate(uniques):
        key = (gname,)
        sk = states.get(key)
        if sk is None:
            sk = states[key] = cls(key)
        sk.update(h1[ngram_codes == gi], h2[ngram_codes == gi], n_tok[codes == gi], tm)
    if tm is not None:
        tm["hashing.items"] = len(h1)
        acc.add(tm)


class BuildOp:
    """salted_repartition -> build_partials_arrow -> merge_partials ->
    parquet sink; only (source, length(sketch)) reaches the driver."""

    def __init__(self, spark, inputs: Inputs, acc) -> None:
        self.spark = spark
        self.sink = os.path.join(inputs.dir, "sketch_table")
        self.df = spark.read.parquet(inputs.corpus_path)
        stats = ngram_counts(inputs.corpus, ["source"])
        stats = {k[0]: v for k, v in stats.items()}
        total = max(sum(stats.values()), 1)
        self.shares = {g: c / total for g, c in stats.items()}
        self.n_tokens = int(np.asarray(inputs.corpus.column("n_tok")).sum())
        self.stats = stats
        self.set_acc(acc)

    def set_acc(self, acc) -> None:
        """Bind the run's Bloom capacities and (traced runs) the layer
        accumulator; the class is pickled by value into the tasks."""
        self.cls = cls = type("RunComposite", (Composite,), {"caps": self.stats, "acc": acc})
        self.batch_update = lambda states, batch: _composite_update(states, batch, cls, acc)

    def partials(self):
        # twice the core count: at parallelism = nproc the hot source's
        # salts all hash to one partition, its partials never meet in the
        # merge, and the merge fold goes unmeasured
        salted = salted_repartition(
            self.df, "source", self.shares, parallelism=2 * self.spark.sparkContext.defaultParallelism
        )
        return build_partials_arrow(salted, self.batch_update, ["source"])

    def write(self) -> None:
        merge_partials(self.partials(), self.cls, ["source"]).write.mode("overwrite").parquet(self.sink)

    def metadata(self) -> list:
        return self.spark.read.parquet(self.sink).select("source", F.length("sketch").alias("sz")).collect()

    def table(self) -> dict:
        t = pq.read_table(self.sink)
        return {
            src: unpack_state(self.cls, buf)
            for src, buf in zip(t.column("source").to_pylist(), t.column("sketch").to_pylist())
        }


# --- probe: keyed n-gram probe against a bounded (source, bucket) table ------------------

def _bloom_update(states: dict, batch, caps: dict, n_buckets: int) -> None:
    flat, offsets = arrow_tokens_view(batch)
    starts, per_doc = ngram_starts(offsets, 3)
    h1, h2 = mmh3_ngram_i32(flat, starts, 3)
    codes, uniques = arrow_str_codes(batch, "source")
    bkt = batch.column(batch.schema.get_field_index("bucket")).to_numpy(zero_copy_only=False)
    row_keys = codes * n_buckets + bkt
    ngram_keys = np.repeat(row_keys, per_doc)
    for rk in np.unique(row_keys):
        gi, gb = divmod(int(rk), n_buckets)
        key = (uniques[gi], str(gb))
        sk = states.get(key)
        if sk is None:
            sk = states[key] = bloom_factory(capacity=max(caps[key], 1_000), fp=FP)()
        sel = ngram_keys == rk
        sk.insert_hashes(h1[sel], h2[sel])


class ProbeOp:
    """``probe.probe_sketch_table(token_col=...)`` of member and absent
    docs against a Bloom per (source, bucket) sized to its n-gram count."""

    def __init__(self, spark, inputs: Inputs) -> None:
        self.spark = spark
        path = os.path.join(inputs.dir, "probe_table")
        nb = inputs.n_buckets
        corpus = spark.read.parquet(inputs.corpus_path).withColumn(
            "bucket", (F.substring("doc_id", 5, 12).cast("long") / inputs.sizes.bucket_docs).cast("int")
        )
        caps = ngram_counts(inputs.corpus, ["source", "bucket"], inputs.sizes.bucket_docs)
        partials = build_partials_arrow(
            corpus, lambda states, batch: _bloom_update(states, batch, caps, nb), ["source", "bucket"]
        )
        merge_partials(partials, BloomSketch, ["source", "bucket"]).write.mode("overwrite").parquet(path)
        self.table = spark.read.parquet(path)
        self.keys = set(caps)
        self.state_bytes = sum(len(b) for b in pq.read_table(path, columns=["sketch"]).column("sketch").to_pylist())
        self.rows = spark.read.parquet(inputs.probe_path)
        self.n_rows = inputs.probe_rows.num_rows
        src = inputs.probe_rows.column("source").to_pylist()
        bkt = inputs.probe_rows.column("bucket").to_pylist()
        member = inputs.probe_rows.column("member").to_pylist()
        # absent rows whose (source, bucket) has a Bloom each test one absent 3-gram
        self.fp_trials = sum(1 for s, b, m in zip(src, bkt, member) if not m and (s, str(b)) in self.keys)

    def plan(self):
        """Collects and broadcasts the table's states; returns the lazy probe."""
        return probe_sketch_table(self.rows, self.table, ["source", "bucket"], token_col="tokens")

    @staticmethod
    def execute(probed) -> dict:
        rows = probed.groupBy("member").agg(
            F.sum(F.col("found").cast("long")).alias("hits"), F.count(F.lit(1)).alias("n")
        ).collect()
        return {bool(r["member"]): (int(r["hits"]), int(r["n"])) for r in rows}


# --- range: SketchCache multi-range lookup UDF ------------------------------------------

def range_spec(t0: int) -> list[tuple[str, int, int]]:
    """(kind, start, end) of every range the range probe answers at once."""
    d = RANGE_DURATION
    return [
        ("cover", t0, t0 + RANGE_BUCKETS * d - 1),
        ("single", t0 + d, t0 + 2 * d - 1),
        ("single", t0 + 2 * d + 10, t0 + 2 * d + 20),
        ("partial", t0 + 2 * d + d // 2, t0 + 3 * d + d // 2),
        ("before", t0 - 2 * d, t0 - 1),
        ("inverted", t0 + 3 * d, t0 + d),
    ]


class RangeOp:
    """Marker probes over several time ranges through
    ``SketchCache.lookup_multi_range_udf``."""

    def __init__(self, spark, inputs: Inputs) -> None:
        params = CacheParams(
            duration=RANGE_DURATION, lifespan=(RANGE_BUCKETS - 1) * RANGE_DURATION, fp=FP,
            total_capacity=RANGE_BUCKETS * inputs.sizes.range_markers,
        )
        self.cache = SketchCache(params)
        self.cache.insert_batch(spark.read.parquet(inputs.range_insert_path), "ts", marker_col="m")
        self.spec = range_spec(inputs.range_t0)
        self.udf = self.cache.lookup_multi_range_udf([(lo, hi) for _, lo, hi in self.spec])
        self.udf_state_bytes = sum(len(b.sketch.to_bytes()) for b in self.cache.buckets)
        self.rows = spark.read.parquet(inputs.range_probe_path)
        self.n_rows = inputs.range_rows

    def execute(self) -> dict:
        r = self.rows.select("bucket", self.udf(F.col("m")).alias("r"))
        aggs = [F.sum(F.col(f"r.f{j}").cast("long")).alias(f"f{j}") for j in range(len(self.spec))]
        rows = r.groupBy("bucket").agg(F.count(F.lit(1)).alias("n"), *aggs).collect()
        return {int(x["bucket"]): [int(x["n"])] + [int(x[f"f{j}"]) for j in range(len(self.spec))] for x in rows}


# --- stream: closed-loop micro-batches on one SketchCache --------------------------------

class StreamCache(SketchCache):
    """SketchCache whose checkpoint writes are timed by the tracer."""

    tracer = None

    def save(self) -> list[int]:
        with self.tracer.span("cache.save"):
            written = super().save()
        if self.tracer.enabled:
            self.tracer.count("cache.saves")
            self.tracer.count("cache.save_bytes", sum(os.path.getsize(self._bucket_path(s)) for s in written))
        return written


class StreamOp:
    """One client: per micro-batch, maybe_age (which saves), insert_batch,
    then ``lookups`` timed lookup_from calls over covering, partial and
    older-bucket ranges.  Two more calls per batch, before the oldest
    bucket and inverted, return at lookup_from's edge guards without
    hashing: they are checked but not timed.

    Between its insert and its lookups the client waits until Spark has
    delivered the insert job's events and then THINK_S more: without the
    pause the lookups' tail measures the JVM's clean-up after the job,
    not the lookup path."""

    THINK_S = 0.1

    KINDS = ("cover", "partial", "older")  # timed
    GUARDS = ("before", "inverted")  # checked only

    def __init__(self, spark, inputs: Inputs, tracer) -> None:
        self.spark, self.inputs, self.tracer = spark, inputs, tracer
        self.ckpt = os.path.join(inputs.dir, "stream_ckpt")
        params = CacheParams(
            duration=STREAM_DURATION, lifespan=STREAM_LIFESPAN, fp=FP, total_capacity=STREAM_FILL * BATCH_MARKERS
        )
        self.src = spark.read.schema("ts timestamp, m binary, batch int").parquet(inputs.stream_dir)
        shutil.rmtree(self.ckpt, ignore_errors=True)
        self.cache = StreamCache(params, self.ckpt)
        self.cache.tracer = self.tracer
        self.batch = 0
        # first "older" lookup of each batch: its hits and (probe, bucket) tests
        self.older_hits = self.older_tests = 0

    def insert(self) -> None:
        b = self.batch
        now = self.inputs.stream_t0 + (b + 1) * STREAM_DURATION - 1
        with self.tracer.span("cache.age"):
            self.cache.maybe_age(now)
        with self.tracer.span("cache.insert"):
            self.cache.insert_batch(self.src.where(F.col("batch") == b), "ts", marker_col="m")

    def think(self) -> None:
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        time.sleep(self.THINK_S)

    def lookups(self, lat: list) -> list[str]:
        """Run this batch's lookups, appending each timed call's seconds
        to lat; returns the output-check failures, one per failed call."""
        b = self.batch
        half = LOOKUP_PROBES // 2
        lo = self.inputs.stream_t0 + b * STREAM_DURATION
        hi = lo + STREAM_DURATION - 1
        mk = self.inputs.stream_markers[b * BATCH_MARKERS : b * BATCH_MARKERS + half]
        inserted = [bytes(r) for r in mk]
        k = b % (len(self.inputs.absent_pool) // half)
        probes = inserted + self.inputs.absent_pool[k * half : (k + 1) * half]
        buckets = self.cache.buckets
        oldest, cur = buckets[0].start, buckets[-1]
        ranges = {
            "cover": (lo, hi),
            "partial": (lo - STREAM_DURATION // 2, lo),
            "older": (oldest, cur.start - 1) if cur.start > oldest else None,
            "before": (oldest - 3 * STREAM_DURATION, oldest - 1),
            "inverted": (hi, lo),
        }
        errors = []
        for kind in self.GUARDS:
            if self.cache.lookup_from(*ranges[kind], probes).any():
                errors.append(f"stream batch {b}: {kind} range returned a hit")
        for i in range(self.inputs.sizes.lookups):
            kind = self.KINDS[i % len(self.KINDS)]
            rng = ranges[kind]
            if rng is None:
                kind, rng = "cover", ranges["cover"]
            t0 = time.perf_counter()
            with self.tracer.span("cache.lookup"):
                found = self.cache.lookup_from(rng[0], rng[1], probes)
            lat.append(time.perf_counter() - t0)
            if kind == "older" and i < len(self.KINDS):
                self.older_hits += int(found.sum())
                self.older_tests += len(probes) * sum(1 for x in buckets if x.overlaps(*rng))
            if kind in ("cover", "partial") and not found[:half].all():
                errors.append(f"stream batch {b}: {kind} range missed inserted markers")
        self.batch += 1
        return errors
