"""The two closed-loop workloads.

Each workload has ``setup`` (inputs, the exact reference values the
checks need, and the untimed warm-up round), ``operations`` (one round:
:func:`run_round` issues them back to back from the driver) and
``metrics`` (per-family throughputs, reported with the operation
detail; run.py derives the end-to-end metrics, which are the same for
every workload, from the timed rounds). Every call
into sketchlib goes through :meth:`Ctx.call`, which counts it as one
attempted operation, times it, and counts it as failed when it raises or
one of its output checks fails; the run continues either way.
"""

from __future__ import annotations

import os
import sys
import threading
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from functools import partial

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from perfbench.tracing import Recorder

#: published per-width FP bounds (8 slots / 2^bits)
FP_BOUND = {1: 3.125e-2, 2: 1.2207e-4, 4: 9.31e-10}
WIDTHS = (1, 2, 4)

N_PAGES = 100_000
PAGE_PARTS = 4  # > FANIN, so the cuckoo merge tree runs two levels
FANIN = 2
SHARDS = 4
N_HOSTS = 20
HELD_CHECK = 20_000  # held-out keys probed on the driver after each direct build
HELD_PROBE = 1_000_000  # held-out keys per round through the Spark misses probe
#: a copy of the sf0.1 ``documents`` test table (5 000 docs)
DOCS_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "documents.parquet")
N_DOCS = 5_000
RANK_EPS = 0.03  # KLL / t-digest median rank tolerance (tests/test_spark_sketches.py)
SE_CHECK = 3  # HLL / KMV estimates within this many standard errors of the exact count
#: calls per round of the operations that take under about 1 s and are
#: reported alone, so that no throughput rests on one sub-second call
CALLS = {"remove": 2, "wide": 2, "cogrouped": 2}


@dataclass
class Ctx:
    spark: object
    rec: Recorder
    seed: int
    cores: int
    attempted: int = 0
    failed: int = 0
    #: family -> [work units, seconds], timed rounds only
    tally: dict = field(default_factory=dict)
    round_no: int = 0
    #: the warm-up round makes one call of each operation
    warm_up: bool = False
    #: the warm-up round issues calls from several driver threads
    lock: threading.Lock = field(default_factory=threading.Lock)

    def reps(self, n: int) -> int:
        """Calls of an operation in this round: ``n``, or 1 in the warm-up."""
        return 1 if self.warm_up else n

    def fail(self, what: str, why) -> None:
        with self.lock:
            self.failed += 1
        print(f"FAILED round {self.round_no} {what}: {why}", file=sys.stderr, flush=True)

    def call(self, group, name, fn, family=None, units=0, check=None, walked=False):
        """Run ``fn()`` as one operation; ``check(result)`` returns the
        messages of its failed output checks. With ``walked``, ``fn``
        returns ``(result, df)`` where ``df`` is the DataFrame whose own
        action ran; its plan is walked after the operation has ended.
        Returns the result, or None if the call raised."""
        with self.lock:
            self.attempted += 1
        t0 = time.perf_counter()
        try:
            with self.rec.op(group, name):
                out = fn()
        except Exception:  # a failed operation is counted; the run goes on
            self.fail(name, traceback.format_exc(limit=3))
            return None
        dt = time.perf_counter() - t0
        print(f"round {self.round_no} {name}: {dt:.3f}s", file=sys.stderr, flush=True)
        if family is not None:
            with self.lock:
                acc = self.tally.setdefault(family, [0, 0.0])
                acc[0] += units
                acc[1] += dt
        if walked:
            out, df = out
            self.rec.walk(group, df)
        try:
            msgs = [m for m in (check(out) if check else []) if m]
        except Exception:  # a check that cannot read the output fails it
            msgs = [traceback.format_exc(limit=3)]
        if msgs:
            self.fail(name, "; ".join(msgs))
        return out

    def rate(self, family: str) -> float:
        units, secs = self.tally[family]
        return units / secs


def warm_up(ctx: Ctx, wl) -> None:
    """The untimed warm-up round: every operation of a round, once each,
    issued from ``ctx.cores`` driver threads so that their cold starts
    (code generation, JIT, first Python-worker use) overlap. Issued one
    after another they made set-up 5-10 s longer (see README.md)."""
    ctx.warm_up = True
    try:
        with ThreadPoolExecutor(max_workers=ctx.cores) as pool:
            for fut in [pool.submit(op, ctx) for op in wl.operations()]:
                fut.result()
    finally:
        ctx.warm_up = False


def run_round(ctx: Ctx, wl) -> None:
    """One timed round: the workload's operations back to back."""
    for op in wl.operations():
        op(ctx)


def digest(df):
    """Order-independent (rows, xor of row hashes) of a DataFrame, and the
    aggregate whose own plan computed it (``collect`` runs the DataFrame's
    own query; ``first`` or ``count`` would run a new one)."""
    agg = df.agg(F.count(F.lit(1)).alias("n"), F.bit_xor(F.xxhash64(*df.columns)).alias("x"))
    r = agg.collect()[0]
    return (int(r["n"]), int(r["x"] or 0)), agg


def counted(df):
    """Row count of ``df``, and the aggregate whose own plan computed it."""
    agg = df.agg(F.count(F.lit(1)).alias("n"))
    return int(agg.collect()[0]["n"]), agg


def _u64(s: pd.Series) -> np.ndarray:
    return s.to_numpy(dtype=np.int64).view(np.uint64)


def _pages(ctx: Ctx, cols: list[str]):
    """Seeded generated pages (Zipf hosts), projected to ``cols`` and cached."""
    from sketchlib.pipeline import generate_pages

    with ctx.rec.span("pipeline.generate_pages"):
        pages = (
            generate_pages(ctx.spark, N_PAGES, n_hosts=N_HOSTS, seed=ctx.seed, partitions=PAGE_PARTS)
            .select(*cols)
            .cache()
        )
        n = pages.count()
    if n != N_PAGES:
        raise RuntimeError(f"generated {n} pages, expected {N_PAGES}")
    return pages


def _heldout(spark, seed: int, lo: int, n: int):
    """Keys disjoint from every generated url (another host name space)."""
    return spark.range(lo, lo + n).select(
        F.concat(F.lit(f"https://heldout{seed}.example.org/q/"), F.col("id").cast("string")).alias("url")
    )


def _spec(name: str, fpsize: int):
    from sketchlib.kernels.cuckoo import size_for
    from sketchlib.spark.cuckoo import CuckooSpec

    return CuckooSpec(name, size_for(int(N_PAGES * 1.3) // SHARDS, fpsize), fpsize, num_shards=SHARDS)


def _filter_checks(sc, n_expected: int) -> list[str]:
    out = []
    if sc.is_broken():
        return ["filter is broken"]
    if sc.count() != n_expected:
        out.append(f"count {sc.count()} != {n_expected}")
    if sc.dropped != 0:
        out.append(f"dropped {sc.dropped} fingerprints at default sizing")
    return out


def _no_false_negatives(n: int) -> list[str]:
    return [] if n == 0 else [f"{n} false negatives"]


def _fp_within_bound(hits: int, probes: int, fpsize: int) -> str | None:
    """Observed FP count against the published bound, with 4 sigma of
    binomial sampling slack (the bound is an expectation)."""
    lam = FP_BOUND[fpsize] * probes
    if hits > lam + 4 * np.sqrt(lam) + 1:
        return f"FP{fpsize * 8}: {hits}/{probes} held-out hits exceeds bound {FP_BOUND[fpsize]}"
    return None


# ------------------------------------------------------------------ filter


class Filter:
    """Cuckoo write and read paths over one set of generated pages.

    Write: direct builds at FP8/16/32, partials + tree merge at FP16, and
    remove_keys of a seeded 10 %. Read, against an FP16 filter built in
    set-up: broadcast probes of the inserted keys (hits), of held-out keys
    (misses) and of the wide ``url, text, lang`` rows, and the co-grouped
    probe."""

    name = "filter"

    def setup(self, ctx: Ctx) -> None:
        """Pages, the set-up filters, then the warm-up round."""
        self.pages = _pages(ctx, ["url", "text", "lang"])
        self.keys = self.pages.select("url")
        with ctx.rec.span("setup.filters"):
            self._setup_filters(ctx)
        warm_up(ctx, self)

    def _setup_filters(self, ctx: Ctx) -> None:
        from sketchlib.spark.cuckoo import (
            FP_COL, HASH_COL, ShardedCuckoo, build_filter_direct, with_hash_fp,
        )

        spark = ctx.spark
        self.specs = {w: _spec(f"cf-fp{w * 8}", w) for w in WIDTHS}
        # remove input: a seeded 10 % of the keys, removed from the FP16
        # filter that the probes also read; both materialized once
        self.rm = self.keys.where(F.pmod(F.xxhash64("url", F.lit(ctx.seed)), F.lit(10)) == 0).cache()
        self.n_rm = self.rm.count()
        self.base16 = build_filter_direct(self.keys, self.specs[2], key=F.col("url")).localCheckpoint(eager=True)
        self.sc16 = ShardedCuckoo.from_df(self.base16, self.specs[2])
        msgs = _filter_checks(self.sc16, N_PAGES)
        if msgs:
            raise RuntimeError(f"set-up filter failed its checks: {msgs}")
        self.digest16 = self.sc16.digest()
        held = with_hash_fp(_heldout(spark, ctx.seed, 0, HELD_CHECK), "url").toPandas()
        self.held_h, self.held_f = _u64(held[HASH_COL]), _u64(held[FP_COL])
        self.held_lo = HELD_CHECK  # Spark-probed held-out ranges follow the driver-checked one
        self.fp = [0, 0]  # FP16 held-out hits, held-out probes (all rounds)
        self.stats = {"dropped": 0, "fpcount": 0, "rows": 0}

    def operations(self) -> list:
        """One round: each entry makes one operation's calls."""
        return [
            *(partial(self._direct, w=w) for w in WIDTHS),
            self._tree, self._remove,
            self._probe_hit, self._probe_miss, self._probe_wide, self._probe_cogrouped,
        ]

    # write path

    def _direct(self, ctx: Ctx, w: int) -> None:
        from sketchlib.spark.cuckoo import ShardedCuckoo, build_filter_direct

        spec = self.specs[w]

        def run():
            with ctx.rec.span("spark.cuckoo.build_filter_direct"):
                merged = build_filter_direct(self.keys, spec, key=F.col("url"))
            with ctx.rec.span("spark.cuckoo.from_df"):
                return ShardedCuckoo.from_df(merged, spec)

        def check(sc):
            msgs = _filter_checks(sc, N_PAGES)
            hits = int(sc.contains_arrays(self.held_h, self.held_f).sum())
            msgs.append(_fp_within_bound(hits, len(self.held_h), w))
            if w == 2 and sc.digest() != self.digest16:
                msgs.append("FP16 direct digest differs from the set-up build")
            with ctx.lock:
                self.stats["dropped"] += sc.dropped
                self.stats["fpcount"] += sum(f.fpcount for f in sc.filters.values())
                self.stats["rows"] += sc.rows
            return msgs

        ctx.call("spark.cuckoo.build_filter_direct", f"build_direct_fp{w * 8}", run, "build", N_PAGES, check)

    def _tree(self, ctx: Ctx) -> None:
        from sketchlib.spark.cuckoo import ShardedCuckoo, build_partials, merge_partials

        spec16 = self.specs[2]

        def tree():
            with ctx.rec.span("spark.cuckoo.build_partials"):
                partials = build_partials(self.keys, spec16, key=F.col("url"))
            with ctx.rec.span("spark.cuckoo.merge_partials"):
                # from_df's collect runs the last tree level
                return ShardedCuckoo.from_df(merge_partials(partials, fanin=FANIN), spec16)

        def tree_check(sc):
            msgs = _filter_checks(sc, N_PAGES)
            if sc.digest() != self.digest16:
                msgs.append("FP16 tree-merge digest differs from the direct build")
            return msgs

        ctx.call("spark.cuckoo.merge_partials", "tree_build_fp16", tree, "tree", N_PAGES, tree_check)

    def _remove(self, ctx: Ctx) -> None:
        from sketchlib.spark.cuckoo import ShardedCuckoo, remove_keys

        spec16 = self.specs[2]

        def remove():
            with ctx.rec.span("spark.cuckoo.remove_keys"):
                return ShardedCuckoo.from_df(remove_keys(self.base16, self.rm, spec16, key=F.col("url")), spec16)

        def remove_check(sc):
            if sc.is_broken():
                return ["filter broken after removing inserted keys"]
            n = sc.count()
            return [] if n == N_PAGES - self.n_rm else [f"count after remove {n} != {N_PAGES - self.n_rm}"]

        for _ in range(ctx.reps(CALLS["remove"])):
            ctx.call("spark.cuckoo.remove_keys", "remove_keys_fp16", remove, "remove", self.n_rm, remove_check)

    # read path, against the set-up FP16 filter

    def _probe_hit(self, ctx: Ctx) -> None:
        from sketchlib.spark.cuckoo import probe

        ctx.call("spark.cuckoo.probe_hit", "probe_hit",
                 lambda: counted(probe(self.keys, self.sc16, key=F.col("url")).where(~F.col("member"))),
                 "probe", N_PAGES, _no_false_negatives, walked=True)

    def _probe_miss(self, ctx: Ctx) -> None:
        from sketchlib.spark.cuckoo import probe

        with ctx.lock:  # each call probes a fresh held-out range
            lo, self.held_lo = self.held_lo, self.held_lo + HELD_PROBE
        held = _heldout(ctx.spark, ctx.seed, lo, HELD_PROBE)
        n_fp = ctx.call("spark.cuckoo.probe_miss", "probe_miss",
                        lambda: counted(probe(held, self.sc16, key=F.col("url")).where(F.col("member"))),
                        "probe", HELD_PROBE, walked=True)
        if n_fp is not None:
            self.fp[0] += n_fp
            self.fp[1] += HELD_PROBE

    def _probe_wide(self, ctx: Ctx) -> None:
        from sketchlib.spark.cuckoo import probe

        wide = self.pages.select("url", "text", "lang")
        for _ in range(ctx.reps(CALLS["wide"])):
            ctx.call("spark.cuckoo.probe_wide", "probe_wide",
                     lambda: counted(probe(wide, self.sc16, key=F.col("url")).where(~F.col("member"))),
                     "wide", N_PAGES, _no_false_negatives, walked=True)

    def _probe_cogrouped(self, ctx: Ctx) -> None:
        from sketchlib.spark.cuckoo import probe_cogrouped

        for _ in range(ctx.reps(CALLS["cogrouped"])):
            ctx.call("spark.cuckoo.probe_cogrouped", "probe_cogrouped",
                     lambda: counted(probe_cogrouped(self.base16, self.keys, self.specs[2], key=F.col("url"))
                                     .where(~F.col("member"))),
                     "cogrouped", N_PAGES, _no_false_negatives, walked=True)

    def finish(self, ctx: Ctx) -> None:
        """Run-level check: FP16 rate over every held-out probe of the run."""
        ctx.attempted += 1
        msg = _fp_within_bound(self.fp[0], self.fp[1], 2)
        if msg:
            ctx.fail("fp_rate", msg)

    def metrics(self, ctx: Ctx) -> dict:
        return {
            "build_docs_per_s": ctx.rate("build"),
            "tree_build_docs_per_s": ctx.rate("tree"),
            "remove_keys_per_s": ctx.rate("remove"),
            "filter_bytes_per_key": self.sc16.memory_usage() / self.sc16.count(),
            "probe_keys_per_s": ctx.rate("probe"),
            "probe_wide_rows_per_s": ctx.rate("wide"),
            "probe_cogrouped_keys_per_s": ctx.rate("cogrouped"),
            "false_positive_rate": self.fp[0] / self.fp[1],
        }

    def layer_metrics(self, ctx: Ctx) -> dict:
        return {
            "spark.cuckoo.dropped_fps": self.stats["dropped"],
            "spark.cuckoo.inserted_ratio": self.stats["fpcount"] / max(self.stats["rows"], 1),
            "spark.cuckoo.broadcast_bytes": sum(len(b) for b in self.sc16.blobs().values()),
        }


# ----------------------------------------------------------- sketch_webtext

SKETCHES = (
    # (kind, params, column)
    ("hll", (14,), "url"),
    ("kmv", (1024,), "url"),
    ("bloom", (1 << 21, 7), "url"),
    ("cms", (2048, 5), "lang"),
    ("kll", (256,), "len_text"),
    ("tdigest", (200,), "len_html"),
)


def _median_rank_ok(hist: pd.DataFrame, x: float) -> bool:
    """Is ``x`` a median of the value histogram, within RANK_EPS in rank?"""
    n = hist["c"].sum()
    below = hist.loc[hist["v"] < x, "c"].sum() / n
    upto = hist.loc[hist["v"] <= x, "c"].sum() / n
    return below - RANK_EPS <= 0.5 <= upto + RANK_EPS


class SketchWebtext:
    """No cuckoo code: the six sibling sketches through spark.agg and a
    grouped HLL per host over generated pages, then the webtext layers
    (dedup span statistics, canonical-url dedup, the curation pipeline)
    over the sf0.1 documents table."""

    name = "sketch_webtext"

    def setup(self, ctx: Ctx) -> None:
        """Pages, exact references, the documents, then the warm-up round."""
        self.pages = _pages(ctx, ["url", "lang", "text", "html"])
        with ctx.rec.span("setup.references"):
            self._setup_references(ctx)
        with ctx.rec.span("setup.documents"):
            pdf = pd.read_parquet(DOCS_PATH).sample(frac=1.0, random_state=ctx.seed)  # the seed orders rows only
            if len(pdf) != N_DOCS:
                raise RuntimeError(f"{DOCS_PATH} holds {len(pdf)} documents, expected {N_DOCS}")
            self.docs = ctx.spark.createDataFrame(pdf).repartition(ctx.cores).localCheckpoint(eager=True)
        self.first: dict[str, tuple] = {}
        warm_up(ctx, self)

    def _setup_references(self, ctx: Ctx) -> None:
        from sketchlib.spark.agg import SketchSpec

        pages = self.pages
        self.cols = {
            "url": F.col("url"),
            "lang": F.col("lang"),
            "len_text": F.length("text"),
            "len_html": F.length("html"),
        }
        self.specs = {k: SketchSpec(f"sa-{k}", k, p) for k, p, _ in SKETCHES}
        self.grouped_spec = SketchSpec("sa-host-hll", "hll", (12,))
        host = F.regexp_extract("url", r"^https://([^/]+)/", 1).alias("host")
        self.hosts = pages.select(host, "url").cache()
        # exact references, computed once on the driver from one collect
        ref = pages.select(
            "url", F.xxhash64("url").alias("h"), self.cols["len_text"].alias("t"),
            self.cols["len_html"].alias("l"), host,
        ).toPandas()
        self.distinct_urls = ref["url"].nunique()
        self.hist = {
            c: ref.groupby(k, as_index=False).size().set_axis(["v", "c"], axis=1)
            for c, k in (("len_text", "t"), ("len_html", "l"))
        }
        self.url_hash_sample = _u64(ref["h"].iloc[:2000])
        self.host_rows = ref["host"].value_counts().to_dict()

    def _check(self, kind: str, sk) -> list[str]:
        n = self.distinct_urls
        if kind in ("hll", "kmv"):
            se = 1.04 / np.sqrt(1 << self.specs["hll"].params[0]) if kind == "hll" else 1 / np.sqrt(self.specs["kmv"].params[0] - 2)
            est = sk.estimate()
            if abs(est - n) > SE_CHECK * se * n:
                return [f"{kind} estimate {est:.0f} not within {SE_CHECK} SE of {n}"]
        elif kind == "bloom":
            if not sk.contains_hashes(self.url_hash_sample).all():
                return ["bloom false negative on inserted urls"]
        elif kind == "cms":
            if sk.total != N_PAGES:
                return [f"cms total {sk.total} != {N_PAGES}"]
        else:
            hist = self.hist["len_text" if kind == "kll" else "len_html"]
            x = sk.quantile(0.5)
            if not _median_rank_ok(hist, x):
                return [f"{kind} median {x} rank off by more than {RANK_EPS}"]
        return []

    def operations(self) -> list:
        """One round: each entry makes one operation's calls."""
        return [
            *(partial(self._sketch, kind=k) for k, _, _ in SKETCHES),
            self._grouped, self._spans, self._urls, self._curation,
        ]

    def _sketch(self, ctx: Ctx, kind: str) -> None:
        from sketchlib.spark.agg import build_sketch

        col = self.cols[next(c for k, _, c in SKETCHES if k == kind)]
        ctx.call(f"spark.agg.{kind}", f"spark.agg.{kind}", lambda: build_sketch(self.pages, self.specs[kind], col),
                 "sketch", N_PAGES, lambda sk: self._check(kind, sk))

    def _grouped(self, ctx: Ctx) -> None:
        from sketchlib.spark.agg import build_sketch_grouped, grouped_estimates

        gspec = self.grouped_spec

        def grouped():
            with ctx.rec.span("spark.agg.build_sketch_grouped"):
                g = build_sketch_grouped(self.hosts, "host", gspec, "url")
            with ctx.rec.span("spark.agg.grouped_estimates"):
                est = grouped_estimates(g, gspec, "host")
                return est.collect(), est

        def grouped_check(rows):
            got = {r["host"]: r["rows"] for r in rows}
            if got != self.host_rows:
                return ["grouped sketch rows per host differ from the exact counts"]
            return []

        ctx.call("spark.agg.build_sketch_grouped", "grouped_hll", grouped, "grouped", N_PAGES,
                 grouped_check, walked=True)

    def layer_metrics(self, ctx: Ctx) -> dict:
        """Partial blob bytes: one extra untimed pass per kind (traced only)."""
        from sketchlib.spark.agg import build_sketch_partials

        total = 0
        for kind, _, col in SKETCHES:
            parts = build_sketch_partials(self.pages, self.specs[kind], self.cols[col])
            total += parts.agg(F.sum(F.octet_length("sketch"))).first()[0]
        return {"spark.agg.partial_blob_bytes": total}

    def _same(self, name: str, d) -> list[str]:
        ref = self.first.setdefault(name, d)
        return [] if d == ref else [f"{name} digest {d} differs from the first round's {ref}"]

    # webtext: outputs must equal the run's first round, whatever the row order

    def _spans(self, ctx: Ctx) -> None:
        from sketchlib.dedup import cross_doc_span_stats

        ctx.call("dedup.cross_doc_span_stats", "dedup.cross_doc_span_stats",
                 lambda: digest(cross_doc_span_stats(self.docs, n=5)), "dedup", N_DOCS,
                 lambda d: self._same("cross_doc_span_stats", d), walked=True)

    def _urls(self, ctx: Ctx) -> None:
        from sketchlib.urlops import url_dedup_canonical

        ctx.call("urlops.url_dedup_canonical", "urlops.url_dedup_canonical",
                 lambda: digest(url_dedup_canonical(self.docs)), "curation", N_DOCS,
                 lambda d: self._same("url_dedup_canonical", d), walked=True)

    def _curation(self, ctx: Ctx) -> None:
        from sketchlib.webpipe import web_curation_pipeline

        ctx.call("webpipe.web_curation_pipeline", "webpipe.web_curation_pipeline",
                 lambda: digest(web_curation_pipeline(ctx.spark, self.docs)), "curation", N_DOCS,
                 lambda d: self._same("web_curation_pipeline", d), walked=True)

    def metrics(self, ctx: Ctx) -> dict:
        return {
            "sketch_rows_per_s": ctx.rate("sketch"),
            "grouped_sketch_rows_per_s": ctx.rate("grouped"),
            "dedup_docs_per_s": ctx.rate("dedup"),
            "curation_docs_per_s": ctx.rate("curation"),
        }


WORKLOADS = {w.name: w for w in (Filter, SketchWebtext)}
