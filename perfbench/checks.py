"""Output checks.  Each returns a list of failure messages (empty when
the output is correct); run.py counts every check as one operation."""

from __future__ import annotations

import math
import time

import numpy as np

from marker_spark.hashing import mmh3_ngram_i32
from marker_spark.ngrams import ngram_starts

FP_TOLERANCE = 1.3  # observed/configured fp allowed, as DBAppUnitTests.cpp:93
HLL_SIGMAS = 4.0  # HLL estimate within 4 standard errors of the exact count


def _doc_hashes(corpus, rows: np.ndarray):
    """(h1, h2, n_tok) of every 3-gram of the given corpus rows."""
    sub = corpus.take(rows)
    col = sub.column("tokens").combine_chunks()
    offsets = col.offsets.to_numpy().astype(np.int64)
    flat = col.values.to_numpy().astype(np.int32)
    starts, _ = ngram_starts(offsets, 3)
    h1, h2 = mmh3_ngram_i32(flat, starts, 3)
    return h1, h2, np.diff(offsets).astype(np.float64)


def build_table(corpus, table: dict, contains_clock: list) -> list[str]:
    """Zero false negatives in every source's Bloom on a sample of its
    docs; HLL, CMS and KLL within their published bounds on the exact
    values of one tail source (the fifth largest)."""
    errors = []
    sources = np.asarray(corpus.column("source").to_pylist(), dtype=object)
    names, counts = np.unique(sources, return_counts=True)
    if set(names) != set(table):
        errors.append(f"sketch table groups {sorted(table)} != corpus sources {sorted(names)}")
        return errors
    for name in names:
        rows = np.flatnonzero(sources == name)[:200]
        h1, h2, _ = _doc_hashes(corpus, rows)
        t0 = time.perf_counter()
        hit = table[name].bloom.contains_hashes(h1, h2)
        contains_clock[0] += time.perf_counter() - t0
        contains_clock[1] += len(h1)
        if not hit.all():
            errors.append(f"bloom[{name}]: {int((~hit).sum())} false negatives")

    tail = names[np.argsort(-counts, kind="stable")[min(4, len(names) - 1)]]
    h1, h2, n_tok = _doc_hashes(corpus, np.flatnonzero(sources == tail))
    sk = table[tail]

    exact = len(np.unique(h1))
    est = sk.hll.estimate()
    if abs(est - exact) > HLL_SIGMAS * sk.hll.std_error * exact:
        errors.append(f"hll[{tail}]: estimate {est:.0f} vs exact {exact}")

    pairs, true = np.unique(np.stack([h1, h2]), axis=1, return_counts=True)
    got = sk.cms.query_hashes(pairs[0], pairs[1]).astype(np.int64)
    if (got < true).any():
        errors.append(f"cms[{tail}]: {int((got < true).sum())} underestimates")
    over = (got - true) > sk.cms.eps * len(h1)
    allowed = sk.cms.delta + 4 * math.sqrt(sk.cms.delta / len(true))
    if over.mean() > allowed:
        errors.append(f"cms[{tail}]: {over.mean():.4f} of items beyond eps*N (allowed {allowed:.4f})")

    vals = np.sort(n_tok)
    for q in (0.1, 0.25, 0.5, 0.75, 0.9):
        v = sk.kll.quantile(q)
        lo = np.searchsorted(vals, v, side="left") / len(vals)
        hi = np.searchsorted(vals, v, side="right") / len(vals)
        if q < lo - sk.kll.rank_error or q > hi + sk.kll.rank_error:
            errors.append(f"kll[{tail}]: q={q} -> {v} has rank [{lo:.3f}, {hi:.3f}]")
    return errors


def probe_result(res: dict) -> list[str]:
    hits, n = res.get(True, (0, 0))
    if n == 0 or hits != n:
        return [f"keyed probe: {n - hits} of {n} member docs not found"]
    return []


def range_result(res: dict, spec: list, t0: int, duration: int) -> tuple[list[str], int, int]:
    """Checks the multi-range probe; returns (errors, fp hits, fp trials).
    ``res`` maps bucket -> [rows, hits per range]; bucket -1 rows were
    never inserted, bucket i rows were inserted into [t0 + i*duration,
    t0 + (i+1)*duration)."""
    errors = []
    fp_hits = fp_trials = 0
    for j, (kind, lo, hi) in enumerate(spec):
        for bucket, (n, *hits) in res.items():
            h = hits[j]
            inside = bucket >= 0 and lo < t0 + (bucket + 1) * duration and t0 + bucket * duration <= hi
            if kind in ("before", "inverted"):
                if h:
                    errors.append(f"range {kind}: {h} hits, expected none")
            elif inside and h != n:
                errors.append(f"range {kind} [{lo}, {hi}]: bucket {bucket} found {h} of {n}")
            elif kind == "single" and not inside:
                fp_hits += h
                fp_trials += n
    return errors, fp_hits, fp_trials


def stream_older(hits: int, tests: int, fp: float) -> list[str]:
    """Hits on ranges that exclude a marker's bucket are false positives:
    their rate per (probe, bucket) test stays near the configured fp."""
    if tests == 0:
        return []
    limit = FP_TOLERANCE * fp * tests + 4 * math.sqrt(fp * tests)
    if hits > limit:
        return [f"stream: {hits} hits in {tests} non-overlapping tests (limit {limit:.0f})"]
    return []


def fp_ratio(hits: int, trials: int, fp: float) -> tuple[list[str], float]:
    ratio = hits / trials / fp if trials else float("nan")
    if not ratio <= FP_TOLERANCE:
        return [f"bloom_fp_ratio {ratio:.3f} above {FP_TOLERANCE}"], ratio
    return [], ratio
