"""Kernel pass of the traced run: the numpy kernels alone, outside Spark.

Each public kernel function is timed on arrays the size of one unit of
Spark work in the workload that calls it: one cuckoo shard for
``kernels.cuckoo`` and one input partition for the six sibling sketches.
Both passes run in every traced run, so every workload reports the same
per-layer set; the timings do not depend on the workload's Spark inputs.
Each timing is the median of ``REPS`` calls, so a kernel's share of a
Spark operation can be read next to that operation's engine counters.
"""

from __future__ import annotations

import statistics
import time

import numpy as np

from perfbench.workloads import FANIN, N_PAGES, PAGE_PARTS, SHARDS, SKETCHES, WIDTHS

REPS = 5


def _median_time(fn, reps: int = REPS):
    times, out = [], None
    for _ in range(reps):
        t0 = time.perf_counter()
        out = fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times), out


def _keys(seed: int, lo: int, n: int) -> tuple[np.ndarray, np.ndarray]:
    from sketchlib.kernels.bitutil import mix_u64

    offset = np.uint64((seed * 0x9E3779B97F4A7C15) % (1 << 64))
    idx = np.arange(lo, lo + n, dtype=np.uint64) + offset
    return mix_u64(idx), mix_u64(idx, 2)


def cuckoo_pass(seed: int) -> tuple[dict, dict]:
    """(summed per-layer metrics, per-width detail) for one shard's worth of
    keys: the direct reducer's canonical_pairs + sorted add_batch, the
    tree's final merge of ``FANIN`` pair blobs, remove_batch of 10 %,
    from_bytes, and contains_batch on hits and on held-out misses."""
    from sketchlib.kernels.cuckoo import CuckooFilter, canonical_pairs, capacity, pack_pairs, size_for

    n = N_PAGES // SHARDS
    h, f = _keys(seed, 0, n)
    mh, mf = _keys(seed, n, n)
    detail = {}
    for w in WIDTHS:
        size = size_for(int(N_PAGES * 1.3) // SHARDS, w)
        t_pairs, (bidx, fp) = _median_time(lambda: canonical_pairs(h, f, size, w))
        order = np.lexsort((fp, bidx))
        sb, sf = bidx[order], fp[order]

        def add():
            flt = CuckooFilter.create(size, w)
            flt.add_batch(sb, sf, on_toofull="count")
            return flt

        t_add, flt = _median_time(add)
        blob = flt.to_bytes()
        t_from, _ = _median_time(lambda: CuckooFilter.from_bytes(blob))
        t_hit, hit = _median_time(lambda: flt.contains_batch(sb, sf, raise_broken_on_miss=False))
        if not hit.all():
            raise RuntimeError(f"kernel FP{w * 8}: false negative")
        t_miss, _ = _median_time(lambda: flt.contains_batch(mh, mf, raise_broken_on_miss=False))
        parts = [
            pack_pairs(bidx[i::FANIN], fp[i::FANIN], size, w) for i in range(FANIN)
        ]
        t_merge, merged = _median_time(lambda: CuckooFilter.merge(parts, seed=seed, on_toofull="count"))
        if merged.fpcount != flt.fpcount:
            raise RuntimeError(f"kernel FP{w * 8}: merge kept {merged.fpcount} of {flt.fpcount}")
        rm = np.arange(0, len(sb), 10)

        def remove():
            g = CuckooFilter.from_bytes(blob)
            g.remove_batch(sb[rm], sf[rm])
            return g

        t_rm, g = _median_time(remove)
        if g.is_broken() or g.fpcount != flt.fpcount - len(rm):
            raise RuntimeError(f"kernel FP{w * 8}: remove_batch lost count")
        detail[f"fp{w * 8}"] = {
            "canonical_pairs_s": t_pairs,
            "add_batch_s": t_add,
            "from_bytes_s": t_from,
            "contains_hit_s": t_hit,
            "contains_miss_s": t_miss,
            "merge_s": t_merge,
            "remove_batch_s": t_rm,
            "load_factor": flt.fpcount / capacity(size, w),
            "keys": n,
        }
    summed = {
        f"kernels.cuckoo.{k}": sum(d[k] for d in detail.values())
        for k in ("add_batch_s", "canonical_pairs_s", "merge_s", "remove_batch_s",
                  "contains_hit_s", "contains_miss_s", "from_bytes_s")
    }
    summed["kernels.cuckoo.load_factor"] = statistics.mean(d["load_factor"] for d in detail.values())
    return summed, detail


def sibling_pass(seed: int) -> dict:
    """add and merge of each sibling sketch on one input partition's rows
    (``N_PAGES / PAGE_PARTS``), merging ``PAGE_PARTS`` partials."""
    from sketchlib.spark.agg import SketchSpec

    n = N_PAGES // PAGE_PARTS
    out = {}
    for kind, params, _ in SKETCHES:
        spec = SketchSpec(f"k-{kind}", kind, params)

        def add(i):
            sk = spec.make(i)
            h, _ = _keys(seed, i * n, n)
            if spec.mode == "hash":
                sk.add_hashes(h)
            else:
                sk.add_values((h % np.uint64(4000)).astype(np.float64))
            return sk

        t_add, _ = _median_time(lambda: add(0))
        blobs = [add(i).to_bytes() for i in range(PAGE_PARTS)]
        t_merge, _ = _median_time(lambda: spec.merge_blobs(blobs))
        out[f"kernels.{kind}.add_s"] = t_add
        out[f"kernels.{kind}.merge_s"] = t_merge
    return out
