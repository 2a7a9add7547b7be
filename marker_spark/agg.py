"""Spark aggregation layer: two-phase mergeable-sketch builds.

The reference is single-process: one writer updates one filter in
shared memory (/root/reference/markercache.cpp:197-201).  At cluster
scale the same computation becomes a classic partial+final aggregation,
which Catalyst does NOT auto-split for pandas UDAFs — so the two-phase
shape is explicit here:

  1. **Partial build** (``build_partials``): ``mapInPandas`` over the
     input — each task streams its partition's Arrow batches through a
     vectorized update kernel, accumulating one sketch per group key
     *per partition* (a hand-rolled map-side combine).  Raw rows are
     never shuffled; only the small serialized sketch states are.
  2. **Merge** (``merge_partials``): groupBy(group) + ``applyInArrow``
     combining states with the sketch's associative merge.  When the
     number of partials per group is large (wide clusters) an optional
     intermediate tree round caps per-task merge fan-in so no single
     reducer ORs thousands of multi-MB bitmaps.

Skew note: partials are keyed per-partition *inside* the map task, so
the shuffle after the build moves one sketch row per (partition, group),
never the raw rows.  But the task that builds a zipf-hot group's partial
still sees all of that group's rows in its partition, so the build side
has one skew owner, :func:`salted_repartition`: it splits each group into
salts by row share and places every (group, salt) key on its own
partition ahead of the partial build.  On the merge side
``merge_partials(tree_fanin=...)`` caps per-task merge fan-in
deterministically (no rand()).
"""

from __future__ import annotations

import math
import zlib
from collections.abc import Callable, Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SKETCH_COL = "sketch"
# Sentinel group for null keys.  Caveat: a REAL group value literally
# equal to "__null__" would merge with null-keyed rows — if your data
# uses this placeholder, rename the sentinel before building.
NULL_KEY = "__null__"
_GROUP_NONE = "__all__"
_ZMAGIC = b"MSKZ"
_RMAGIC = b"MSKR"  # uncompressed payload (dense state; zlib would not pay)


def pack_state(sk: Any) -> bytes:
    """Serialize (+ compress when it pays) a sketch state for the wire.

    Sparse partial Bloom bitmaps compress 3-100x at zlib level 1 and
    the wire bytes dominate, so compression is the default.  A MERGED
    hot-group bitmap, however, sits at 30-50% bit density — near
    max entropy — where zlib level 1 still burns ~3-4 s per 140 MB to
    save nothing (measured: the final pack was the single largest
    piece of the hot-group merge task).  A 1 MB probe decides: if even
    the probe barely shrinks, the state ships raw under its own magic.
    """
    raw = sk.to_bytes()
    if len(raw) >= (1 << 20):
        probe = zlib.compress(raw[: 1 << 20], 1)
        # compression must pay ~1.7x to beat its own cost: zlib level 1
        # on a ~40%-density merged bitmap reached only 1.27x and cost
        # 4.8 s per 140 MB (measured), slower than shipping raw
        if len(probe) > 0.6 * (1 << 20):
            return _RMAGIC + raw
    return _ZMAGIC + zlib.compress(raw, 1)


def unpack_state(sketch_cls: type, buf: bytes) -> Any:
    head = bytes(buf[:4])
    if head == _ZMAGIC:
        buf = zlib.decompress(bytes(buf[4:]))
    elif head == _RMAGIC:
        buf = bytes(buf[4:])
    return sketch_cls.from_bytes(buf)


def _call_factory(factory: Callable, key: tuple | None) -> Any:
    """Factories may be group-aware (factory(key) sizes state per group,
    e.g. per-source Bloom capacity) or zero-arg.  Dispatch by signature
    inspection, NOT try/except TypeError — catching TypeError would
    swallow a genuine bug inside a group-aware factory and silently
    retry it zero-arg with default sizing."""
    import inspect

    try:
        takes_key = len(inspect.signature(factory).parameters) >= 1
    except (TypeError, ValueError):  # builtins without inspectable signatures
        try:
            return factory(key)
        except TypeError:
            return factory()
    if takes_key:
        return factory(key)
    return factory()


def build_partials(
    df: DataFrame,
    factory: Callable[[], Any],
    update: Callable[[Any, pd.DataFrame], None],
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Map-side partial sketches: one row (group..., sketch) per
    (input partition, group key)."""
    group_cols = list(group_cols or [])
    out_fields = [f"`{c}` string" for c in group_cols]
    schema = ", ".join(out_fields + [f"{SKETCH_COL} binary"])

    def partition_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        states: dict[tuple, Any] = {}
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if group_cols:
                # dropna=False: rows with a null group key must reach a
                # sketch (pandas' default silently drops them); nulls map
                # to a sentinel group so the emitted key column is a
                # stable string.
                for key, sub in pdf.groupby(group_cols, sort=False, dropna=False):
                    if not isinstance(key, tuple):
                        key = (key,)
                    key = tuple(NULL_KEY if pd.isna(k) else k for k in key)
                    sk = states.get(key)
                    if sk is None:
                        sk = states[key] = _call_factory(factory, key)
                    update(sk, sub)
            else:
                sk = states.get((_GROUP_NONE,))
                if sk is None:
                    sk = states[(_GROUP_NONE,)] = _call_factory(factory, None)
                update(sk, pdf)
        if states:
            rows = {
                c: [str(k[i]) for k in states] for i, c in enumerate(group_cols)
            }
            rows[SKETCH_COL] = [pack_state(s) for s in states.values()]
            yield pd.DataFrame(rows)

    return df.mapInPandas(partition_fn, schema=schema)


def merge_partials(
    partials: DataFrame,
    sketch_cls: type,
    group_cols: list[str] | None = None,
    tree_fanin: int = 0,
    finalize: Callable[[Any], dict] | None = None,
    finalize_schema: str | None = None,
) -> DataFrame:
    """Final merge: groupBy(group) associative combine of sketch states.

    Runs as ``applyInArrow`` — sketch payloads stay Arrow buffers end
    to end instead of being copied into pandas object cells (states can
    be tens of MB; the per-byte path is the cost here, not the OR).

    ``tree_fanin > 0`` inserts one deterministic intermediate round:
    partials are sharded by ``monotonically_increasing_id() % fanin``
    within each group, merged per shard, then the (at most ``fanin``)
    shard sketches merge in the final task — bounding any single task's
    input to ~fanin states.  Merge associativity (exact for
    Bloom/HLL/CMS) makes the tree shape irrelevant to the result.

    ``finalize`` (with ``finalize_schema``, e.g. ``"n long, err double"``)
    makes the final merge task emit metadata columns computed from the
    merged sketch INSTEAD of the state bytes — the merged state never
    leaves the executor, so metadata-style queries move O(#groups) rows
    of scalars, not O(corpus) sketch bytes, through the Python<->JVM
    path or to the driver.  Declare numeric columns as long/double (and
    string/boolean) so pyarrow's inference matches the declared schema.
    """
    import pyarrow as pa

    group_cols = list(group_cols or [])

    def _merge_acc(table: "pa.Table"):
        # zlib decompression releases the GIL, and for a hot group the
        # serial decompress of N multi-MB partials dominates the merge
        # task (measured: ~2 GB of raw bitmap behind one group at the
        # 1M-doc build).  A bounded thread pool keeps a few unpacks in
        # flight ahead of the (associative, left-to-right) merge fold;
        # the window bounds peak memory to ~window live states.
        col = table.column(SKETCH_COL)
        bufs = [buf for chunk in col.chunks for buf in chunk]
        acc = None
        if len(bufs) <= 2:
            for buf in bufs:
                state = unpack_state(sketch_cls, buf.as_py())
                acc = state if acc is None else acc.merge_in_place(state)
            return acc
        from collections import deque
        from concurrent.futures import ThreadPoolExecutor

        def _fold(acc, fut):
            state = fut.result()
            return state if acc is None else acc.merge_in_place(state)

        with ThreadPoolExecutor(max_workers=6) as ex:
            pending: deque = deque()
            for buf in bufs:
                pending.append(ex.submit(unpack_state, sketch_cls, buf.as_py()))
                if len(pending) > 6:
                    acc = _fold(acc, pending.popleft())
            while pending:
                acc = _fold(acc, pending.popleft())
        return acc

    def _group_arrays(table: "pa.Table", extra_cols: list[str]):
        arrays, names = [], []
        for c in extra_cols:
            arrays.append(pa.array([table.column(c)[0].as_py()], type=pa.string()))
            names.append(c)
        return arrays, names

    def _merge_table(table: "pa.Table", extra_cols: list[str]) -> "pa.Table":
        arrays, names = _group_arrays(table, extra_cols)
        if table.num_rows == 1:
            # single partial: the merged state IS the partial, and
            # pack(unpack(x)) == x byte-for-byte (deterministic zlib,
            # exact serde roundtrip — gated in tests) — skip the
            # decompress/recompress entirely.  The bounded-bucket
            # build shape has exactly one partial per group, so this
            # removes the whole zlib pass from its merge stage.
            buf = table.column(SKETCH_COL).combine_chunks()
            arrays.append(pa.array([buf[0].as_py()], type=pa.binary()))
        else:
            acc = _merge_acc(table)
            arrays.append(pa.array([pack_state(acc)], type=pa.binary()))
        names.append(SKETCH_COL)
        return pa.table(dict(zip(names, arrays)))

    def _finalize_table(table: "pa.Table") -> "pa.Table":
        acc = _merge_acc(table)
        arrays, names = _group_arrays(table, group_cols)
        for name, value in finalize(acc).items():
            arrays.append(pa.array([value]))
            names.append(name)
        return pa.table(dict(zip(names, arrays)))

    out_fields = [f"`{c}` string" for c in group_cols]
    schema = ", ".join(out_fields + [f"{SKETCH_COL} binary"])

    df = partials
    if tree_fanin > 0:
        shard = (F.monotonically_increasing_id() % tree_fanin).cast("string")
        df = df.withColumn("__shard", shard)
        shard_schema = ", ".join(out_fields + ["`__shard` string", f"{SKETCH_COL} binary"])
        df = df.groupBy(*(group_cols + ["__shard"])).applyInArrow(
            lambda t: _merge_table(t, group_cols + ["__shard"]), schema=shard_schema
        )
        df = df.drop("__shard")

    if finalize is not None:
        if finalize_schema is None:
            raise ValueError("finalize requires finalize_schema")
        schema = ", ".join(out_fields + [finalize_schema])
        merge_fn = _finalize_table
    else:
        merge_fn = lambda t: _merge_table(t, group_cols)  # noqa: E731
    if group_cols:
        return df.groupBy(*group_cols).applyInArrow(merge_fn, schema=schema)
    return df.groupBy().applyInArrow(merge_fn, schema=schema)


def build_partials_arrow(
    df: DataFrame,
    batch_update: Callable[[dict, Any], None],
    group_cols: list[str] | None = None,
    ckpt_dir: str | None = None,
) -> DataFrame:
    """Arrow-native partial build: ``mapInArrow`` hands whole
    RecordBatches to ``batch_update(states, batch)``, which owns
    grouping + state creation (so it can hash each batch ONCE and
    slice per group, instead of paying an Arrow->pandas conversion
    that materializes one Python object per list-typed row).

    ``states`` maps group tuple -> sketch; emission serializes with
    :func:`pack_state` like the pandas path.

    ``ckpt_dir`` enables per-partition checkpoints (north_rule
    resumability): each task writes its result batch as Arrow IPC to
    ``part-<pid>.arrow`` (atomic tmp+rename, so task retries and
    speculative duplicates are safe — the same idempotent
    write-if-absent discipline as the reference's archive,
    /root/reference/markercache.cpp:258-266) plus a lineage/metrics
    JSON (rows, groups, bytes, seconds).  On re-run over the same
    input/plan, completed partitions replay from disk, skipping the
    hash/insert compute entirely.
    """
    import pyarrow as pa

    group_cols = list(group_cols or [])
    out_fields = [f"`{c}` string" for c in group_cols]
    schema = ", ".join(out_fields + [f"{SKETCH_COL} binary"])

    if ckpt_dir:
        import os

        os.makedirs(ckpt_dir, exist_ok=True)

    def _emit(states: dict[tuple, Any]) -> "pa.RecordBatch":
        cols: dict[str, list] = {
            c: [str(k[i]) for k in states] for i, c in enumerate(group_cols)
        }
        cols[SKETCH_COL] = [pack_state(s) for s in states.values()]
        arrays = [pa.array(cols[c], type=pa.string()) for c in group_cols]
        arrays.append(pa.array(cols[SKETCH_COL], type=pa.binary()))
        return pa.RecordBatch.from_arrays(arrays, names=group_cols + [SKETCH_COL])

    def partition_fn(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        import json
        import os
        import time

        part_path = None
        if ckpt_dir is not None:
            from pyspark import TaskContext

            pid = TaskContext.get().partitionId()
            part_path = os.path.join(ckpt_dir, f"part-{pid:05d}.arrow")
            if os.path.exists(part_path):
                with pa.ipc.open_file(part_path) as reader:
                    for i in range(reader.num_record_batches):
                        yield reader.get_batch(i)
                return

        t0 = time.monotonic()
        states: dict[tuple, Any] = {}
        nrows = 0
        for batch in batches:
            if batch.num_rows:
                nrows += batch.num_rows
                batch_update(states, batch)
        if not states:
            return
        out = _emit(states)
        if part_path is not None:
            tmp = part_path + f".tmp-{os.getpid()}"
            with pa.ipc.new_file(tmp, out.schema) as writer:
                writer.write_batch(out)
            os.replace(tmp, part_path)
            meta = {
                "partition": int(part_path.rsplit("-", 1)[1].split(".")[0]),
                "rows": nrows,
                "groups": len(states),
                "bytes": sum(len(b) for b in out.column(SKETCH_COL).to_pylist()),
                "secs": round(time.monotonic() - t0, 3),
            }
            mtmp = os.path.join(ckpt_dir, f"metrics-{meta['partition']:05d}.json.tmp-{os.getpid()}")
            with open(mtmp, "w") as f:
                json.dump(meta, f)
            os.replace(mtmp, mtmp.rsplit(".tmp-", 1)[0])
        yield out

    return df.mapInArrow(partition_fn, schema=schema)


def _place_keys(salt_counts: dict, shares: dict, n: int) -> dict:
    """Longest-processing-time bin-pack of the (group, salt) keys onto
    ``n`` partitions: heaviest key first (weight = the group's row share
    over its salt count), each onto the currently lightest partition,
    ties broken by group, salt and partition index so the placement is
    deterministic.  Returns group -> partition id per salt."""
    import heapq

    keys = sorted(
        (-shares[g] / s, g, i) for g, s in salt_counts.items() for i in range(s)
    )
    loads = [(0.0, p) for p in range(n)]
    placed = {g: [0] * s for g, s in salt_counts.items()}
    for neg_w, g, i in keys:
        load, p = heapq.heappop(loads)
        placed[g][i] = p
        heapq.heappush(loads, (load - neg_w, p))
    return placed


def salted_repartition(
    df: DataFrame, group_col: str, shares: dict[str, float], parallelism: int
) -> DataFrame:
    """Repartition rows by (group, per-group salt) with salt counts
    proportional to each group's row share — a zipf-hot group gets
    ~share*parallelism salts, tail groups 1.

    The driver places every (group, salt) key on its own partition
    (:func:`_place_keys`, a balanced bin-pack on row share) and
    ``repartitionById`` routes the rows there, so two salts of the hot
    group never collide in one task and no task is launched without a
    key: the output has ``min(parallelism, #keys)`` partitions.  Groups
    missing from ``shares`` and NULL groups keep one salt and go to the
    partition the hash of the group picks.  Bounds both skew (no task
    sees much more than ~1/parallelism of the rows) and state blowup
    (total partial states ~ parallelism + #groups)."""
    if parallelism < 1:
        raise ValueError(f"salted_repartition: parallelism must be >= 1, got {parallelism}")
    bad = {g: s for g, s in shares.items() if not (s >= 0 and math.isfinite(s))}
    if bad:
        raise ValueError(
            f"salted_repartition: shares must be finite and non-negative, got {bad}"
        )
    salt_counts = {
        g: max(1, round(share * parallelism)) for g, share in shares.items()
    }
    n = max(1, min(parallelism, sum(salt_counts.values())))
    group, row = F.col(group_col), F.col("__row")
    pid = F.pmod(F.hash(group), F.lit(n))
    for g, ps in _place_keys(salt_counts, shares, n).items():
        salt = (row % len(ps)).cast("int")
        pid = F.when(group == g, F.array(*map(F.lit, ps))[salt]).otherwise(pid)
    return (
        df.withColumn("__row", F.monotonically_increasing_id())
        .withColumn("__pid", pid)
        .drop("__row")
        .repartitionById(n, "__pid")
        .drop("__pid")
    )


def sketch_agg(
    df: DataFrame,
    factory: Callable[[], Any],
    update: Callable[[Any, pd.DataFrame], None],
    sketch_cls: type,
    group_cols: list[str] | None = None,
    tree_fanin: int = 0,
    finalize: Callable[[Any], dict] | None = None,
    finalize_schema: str | None = None,
) -> DataFrame:
    """Partial build + merge in one call → DataFrame (group..., sketch),
    or (group..., finalize columns) when ``finalize`` is given.  Partials
    combine inside each input partition; to bound a hot group's task,
    run the input through :func:`salted_repartition` first.
    """
    partials = build_partials(df, factory, update, group_cols)
    return merge_partials(
        partials, sketch_cls, group_cols, tree_fanin,
        finalize=finalize, finalize_schema=finalize_schema,
    )


def collect_sketch(df: DataFrame, sketch_cls: type):
    """Driver-side: collect a single-group sketch result."""
    rows = df.collect()
    if not rows:
        return None
    acc = unpack_state(sketch_cls, rows[0][SKETCH_COL])
    for r in rows[1:]:
        acc.merge_in_place(unpack_state(sketch_cls, r[SKETCH_COL]))
    return acc


def collect_sketches(df: DataFrame, sketch_cls: type, group_cols: list[str]) -> dict[tuple, Any]:
    """Driver-side: collect grouped sketches keyed by group tuple."""
    out: dict[tuple, Any] = {}
    for r in df.collect():
        key = tuple(r[c] for c in group_cols)
        sk = unpack_state(sketch_cls, r[SKETCH_COL])
        if key in out:
            out[key].merge_in_place(sk)
        else:
            out[key] = sk
    return out
