"""The two CDC workloads: a closed loop with one client draining a landed
WAL backlog into one icelet table, then a read phase.

``mor_microbatch``  many small single-file segments into a merge-on-read
                    table, ``maybe_compact(table, 8)`` after every batch:
                    the streaming hot path (narrow source -> persisted,
                    stats/write-overlapped fused MOR apply), per-batch fixed
                    costs, compaction and the MOR read resolve dominate.
``cow_bulk``        a copy-on-write table preloaded to several batches'
                    size, then a few large segments that each land as a
                    directory of part files (wide source -> unpersisted
                    sequential path, exact stats, union-fold merge): shuffle
                    bytes, text extraction and bucket rewrites dominate.

Both loops call the engine's public functions in the order
``streaming.runner.tail_segments`` does (read_change_batch, apply_batch,
in-line MOR compaction), timing each call from outside.
"""

from __future__ import annotations

import os
import random
import statistics
import sys
import time
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import functions as F

from game_library_enrichment_etl_spark import datagen as DG
from game_library_enrichment_etl_spark.cdc.apply import apply_batch
from game_library_enrichment_etl_spark.cdc.tables import create_pages_table
from game_library_enrichment_etl_spark.lake.maintenance import compact, maybe_compact
from game_library_enrichment_etl_spark.sources.readers import read_change_batch

from . import inputs, layers, measure, oracle
from .eventlog import GROUP_PREFIX
from .harness import EngineSession, noop

LOOKUPS = 8  # half Zipf-head keys, half tail keys; the median is reported
READS = 3  # full-table reads; the median is reported
COMPACT_EVERY = 8  # maybe_compact threshold, as the streaming runner's default
WARM_BATCHES = 2  # MOR set-up: untimed batches into a throwaway table


@dataclass(frozen=True)
class Shape:
    strategy: str
    n_buckets: int
    batches: int
    events_per_batch: int
    n_urls: int
    preload_batches: int  # cow: segments applied, untimed, before the drain
    part_files: int  # files per landed segment (1 = single-file source)


def shape_for(workload: str, seconds: int) -> Shape:
    """Fixed work per run, sized from ``--seconds`` (one MOR batch per 2 s,
    one COW batch per 4 s) so that two commits apply identical batches
    whatever their speed. MOR drains at least one batch past its first
    compaction, so its reads pay the LWW resolve."""
    if workload == "mor_microbatch":
        return Shape("mor", 8, max(COMPACT_EVERY + 2, seconds // 2), 1000, 3000, 0, 1)
    if workload == "cow_bulk":
        return Shape("cow", 8, max(3, seconds // 4), 8000, 8000, 3, 4)
    raise ValueError(f"unknown workload {workload!r}")


# ------------------------------------------------------------------ inputs
def make_inputs(work: str, seed: int, shape: Shape):
    """(events, segment paths, rename hints per segment, warm-up segment).

    MOR: one add/rename/widen schema evolution mid-stream, single-file
    segments. COW: the first ``preload_batches`` segments are the preload;
    every segment lands as a directory of part files."""
    n_seg = shape.preload_batches + shape.batches
    ev = inputs.events(n_seg * shape.events_per_batch, shape.n_urls, seed)
    wal = os.path.join(work, "wal")
    if shape.strategy == "mor":
        mid = shape.batches // 2
        segs = DG.write_change_segments(wal, ev, n_seg, evolution=DG.EvolutionSpec(
            add_title_from=mid, rename_lang_from=mid, widen_lsn_from=mid))
        hints = [{"lang": "language"} if k >= mid else None for k in range(n_seg)]
    else:
        segs = inputs.widen(DG.write_change_segments(wal, ev, n_seg), shape.part_files)
        hints = [None] * n_seg
    warm = []
    if not shape.preload_batches:
        # drain-sized warm-up batches for a throwaway table, half before and
        # half after the evolution
        half = WARM_BATCHES // 2
        warm = DG.write_change_segments(
            os.path.join(work, "wal_warm"),
            inputs.events(WARM_BATCHES * shape.events_per_batch, shape.n_urls, seed + 7919),
            WARM_BATCHES, evolution=DG.EvolutionSpec(
                add_title_from=half, rename_lang_from=half, widen_lsn_from=half))
    return ev, segs, hints, warm


# ------------------------------------------------------------------ run
class CdcRun:
    """One benchmark process: set-up, drain, read phase, checks, and, when
    traced, the per-layer measurements."""

    def __init__(self, workload, seed, seconds, trace, repo_root, work, t_proc0):
        self.workload = workload
        self.seed = seed
        self.shape = shape_for(workload, seconds)
        self.trace = trace
        self.root = repo_root
        self.work = work
        self.t_proc0 = t_proc0
        self.cpu = measure.ProcTreeCpu()
        self.attempted = 0
        self.failed = 0
        self.wrong = 0  # failed operations whose output was wrong
        self.layers: dict[str, tuple[float, str, str]] = {}  # name -> (value, unit, base)
        self.sess = None
        self.tracer = measure.Tracer(False)
        self.spark = None

    def fail(self, what: str, n: int = 1, wrong_output: bool = True) -> None:
        """Count ``n`` failed operations and say which check failed. Only
        checks of the program's output make the run incorrect."""
        self.failed += n
        self.wrong += n if wrong_output else 0
        print(f"perfbench check failed: {what}", file=sys.stderr)

    def layer(self, name: str, value, unit: str, base: str) -> None:
        self.layers[name] = (float(value), unit, base)

    # -------------------------------------------------------------- set-up
    def setup(self) -> None:
        sh = self.shape
        t = time.perf_counter()
        self.events, segs, hints, warm = make_inputs(self.work, self.seed, sh)
        self.datagen_s = time.perf_counter() - t  # a layer metric, not set-up
        self.preload_segs, self.segs = segs[:sh.preload_batches], segs[sh.preload_batches:]
        self.hints = hints[sh.preload_batches:]
        evdir = os.path.join(self.work, "eventlog") if self.trace else None
        self.sess = EngineSession(self.work, os.cpu_count() or 1, evdir)
        spark = self.spark = self.sess.start()
        if self.trace:
            sc = spark.sparkContext
            self.tracer = measure.Tracer(
                True,
                on_enter=lambda sp: sc.setLocalProperty(
                    "spark.jobGroup.id", f"{GROUP_PREFIX}{sp.sid}"),
                on_exit=lambda sp, parent: sc.setLocalProperty(
                    "spark.jobGroup.id",
                    None if parent is None else f"{GROUP_PREFIX}{parent.sid}"),
            )
        self.table = self._new_table("pages")
        t = time.perf_counter()
        if sh.preload_batches:
            self.first_apply_s = self._preload(self.table)
            self.preload_s = time.perf_counter() - t
            warm_table = self.table
        else:
            warm_table = create_pages_table(spark, os.path.join(self.work, "warm"),
                                            n_buckets=sh.n_buckets, merge_strategy="mor")
            for k, path in enumerate(warm):
                apply_batch(warm_table, read_change_batch(spark, path),
                            rename_hints={"lang": "language"} if k >= len(warm) // 2 else None,
                            dedup_strategy="agg")
                if k == 0:
                    self.first_apply_s = time.perf_counter() - t
            self.preload_s = 0.0
        # every query shape the timed phases run, once, untimed
        noop(warm_table.read())
        warm_table.lookup(self.events["url"].iloc[0]).collect()
        if sh.strategy == "mor":
            compact(warm_table)
        self.setup_s = time.perf_counter() - self.t_proc0 - self.datagen_s
        self.jit_s = self.sess.jit_compile_s()

    def _new_table(self, name: str):
        return create_pages_table(self.spark, os.path.join(self.work, name),
                                  n_buckets=self.shape.n_buckets,
                                  merge_strategy=self.shape.strategy)

    def _preload(self, table) -> float:
        """COW preload, untimed: the preload segments applied one by one,
        so the drain's single-segment plan has run (and JIT-compiled) a few
        times before the clock starts. Returns the first, cold apply's time."""
        first = None
        for path in self.preload_segs:
            t = time.perf_counter()
            apply_batch(table, read_change_batch(self.spark, path), dedup_strategy="agg")
            first = first if first is not None else time.perf_counter() - t
        return first

    # -------------------------------------------------------------- drain
    def drain(self, lanes: list[tuple]) -> list[dict]:
        """Apply every landed segment in order: the timed closed loop.

        ``lanes`` are (table, tracer) pairs fed the same segments in
        lockstep; the traced run drains an untraced and a traced table,
        alternating which goes first per batch, so JIT warm-up during the
        drain cannot bias one against the other. A timed run has one lane."""
        out = [{"wall": 0.0, "lat": [], "lat_full": [], "results": [], "compactions": [],
                "read_s": [], "gc_s": 0.0} for _ in lanes]
        jit0, cpu0 = self.sess.jit_compile_s(), self.cpu.seconds()
        for i, path in enumerate(self.segs):
            order = list(range(len(lanes)))
            for k in order if i % 2 == 0 else order[::-1]:
                self._batch(i, path, *lanes[k], out[k])
        cpu = self.cpu.seconds() - cpu0
        self.jit_drain_s = self.sess.jit_compile_s() - jit0
        for d in out:
            d["cpu"] = cpu
            d["events"] = sum(int(r.metrics.get("events_in", 0)) for r in d["results"])
        return out

    def _batch(self, i: int, path: str, table, tr: measure.Tracer, d: dict) -> None:
        tb = time.perf_counter()
        with tr.span("batch", request=i):
            with tr.span("sources.read_change_batch", request=i):
                df = read_change_batch(self.spark, path)
            d["read_s"].append(time.perf_counter() - tb)
            g0 = self.sess.gc_s() if tr.enabled else 0.0
            with tr.span("cdc.apply_batch", request=i):
                res = apply_batch(table, df, rename_hints=self.hints[i],
                                  dedup_strategy="agg")
            d["lat"].append(time.perf_counter() - tb)
            if tr.enabled:
                d["gc_s"] += self.sess.gc_s() - g0
            if self.shape.strategy == "mor":
                with tr.span("lake.maybe_compact", request=i):
                    tc = time.perf_counter()
                    m = maybe_compact(table, max_files_per_bucket=COMPACT_EVERY)
                    if m is not None:
                        dt = time.perf_counter() - tc
                        d["compactions"].append(
                            (m, dt, self._written_bytes(table, m) if tr.enabled else 0))
        d["lat_full"].append(time.perf_counter() - tb)  # with maintenance
        d["wall"] += d["lat_full"][-1]
        d["results"].append(res)

    @staticmethod
    def _written_bytes(table, m: dict) -> int:
        """Bytes of the data files a compaction commit wrote."""
        return sum(os.path.getsize(os.path.join(table.root, f.path))
                   for f in table.snapshot().files if f.sequence == m["snapshot_version"])

    # -------------------------------------------------------------- reads
    def read_phase(self, table, expected: pd.DataFrame, tr: measure.Tracer) -> dict:
        """Full reads (noop sink) and seed-chosen point lookups, checked
        (traced run only)."""
        full, plan, lookups, lplan, files_per = [], [], [], [], []
        keys = self._lookup_keys(expected)
        # untimed: the first query of each kind on this table still runs
        # 20-40% slower than the rest (measured), so one read and two
        # lookups (a head and a tail key) go first
        noop(table.read())
        for url in (keys[0], keys[-1]):
            table.lookup(url).collect()
        for _ in range(READS):
            with tr.span("lake.table.read"):
                t0 = time.perf_counter()
                with tr.span("table.read.plan"):
                    df = table.read()
                t1 = time.perf_counter()
                with tr.span("table.read.exec"):
                    noop(df)
                t2 = time.perf_counter()
            plan.append(t1 - t0)
            full.append(t2 - t0)
        self.attempted += READS
        exp = {r.url: (r.ts_us, r.lsn) for r in expected.itertuples(index=False)}
        for url in keys:
            self.attempted += 1
            with tr.span("lake.table.lookup"):
                t0 = time.perf_counter()
                with tr.span("table.lookup.plan"):
                    df = table.lookup(url)
                t1 = time.perf_counter()
                with tr.span("table.lookup.exec"):
                    rows = df.select(F.unix_micros("warc_ts"), "lsn").collect()
                t2 = time.perf_counter()
            lplan.append(t1 - t0)
            lookups.append(t2 - t0)
            files_per.append(len(df.inputFiles()))
            if [tuple(r) for r in rows] != [exp[url]]:
                self.fail(f"lookup {url}: {rows} != {exp[url]}")
        return {"full": full, "plan": plan, "lookups": lookups, "lplan": lplan,
                "files_per": files_per}

    def _lookup_keys(self, expected: pd.DataFrame) -> list[str]:
        """Half the keys from the 10% most-updated live urls, half from the rest."""
        live = set(expected["url"])
        freq = self.events["url"].value_counts()
        ranked = [u for u in freq.index if u in live]
        cut = max(1, len(ranked) // 10)
        rng = random.Random(self.seed)
        return rng.sample(ranked[:cut], LOOKUPS // 2) + rng.sample(ranked[cut:], LOOKUPS // 2)

    def check_state(self, table, expected: pd.DataFrame) -> tuple[pd.DataFrame, int]:
        """Compare the whole table with the replay model: (pages, mismatches)."""
        pdf = table.read().select("url", "warc_ts", "lsn", "text").toPandas()
        return pdf, oracle.state_mismatches(expected, oracle.table_state(pdf))

    # -------------------------------------------------------------- run
    def run(self) -> tuple[dict, dict | None]:
        """End-to-end metrics {name: (value, unit)} and, when traced, the
        per-layer report."""
        steal0 = measure.steal_jiffies()
        self.setup()
        lanes = [(self.table, self.tracer)]
        if self.trace:
            # the untraced reference for trace.overhead_pct and the
            # blocking-path check: same segments, a fresh table
            ref = self._new_table("pages_untraced")
            if self.shape.preload_batches:
                self._preload(ref)
            lanes.append((ref, measure.Tracer(False)))
        drained = self.drain(lanes)
        d = drained[0]
        if self.trace:
            self.ref = drained[1]
        expected = oracle.model_state(self.root, self.events)
        # the timed reads and lookups feed only per-layer metrics, so only the
        # traced run pays for them
        rd = self.read_phase(self.table, expected, self.tracer) if self.trace else None
        pages, bad = self.check_state(self.table, expected)
        self.attempted += len(d["results"]) + 1
        if bad:
            # the final state is the output of every applied batch
            self.fail(f"{bad} urls differ from the replay model", len(d["results"]) + 1)
        snap = self.table.snapshot()
        data_bytes = sum(os.path.getsize(os.path.join(self.table.root, f.path))
                         for f in snap.files)
        dedup = layers.collect(self, pages) if self.trace else None
        heap_mb, gc_rounds = self.sess.heap_retained_mb()
        self.warm_s = None
        if self.trace and time.perf_counter() - self.t_proc0 < layers.WARMUP_BY_S:
            self.warm_s = self.sess.default_warmup_s()
        self.sess.stop()
        steal = measure.steal_pct(steal0, measure.steal_jiffies())
        self.stamps = {"steal_pct": steal, "nproc": os.cpu_count(),
                       "spark_parallelism": self.sess.cores, "seed": self.seed,
                       "heap_gc_rounds": gc_rounds, "live_rows": len(pages),
                       "batches": len(d["results"]), "events": d["events"],
                       "state_mismatches": bad, "jit_compile_drain_s": self.jit_drain_s,
                       "samples_s": {"batch": d["lat_full"], "commit": d["lat"]}}
        events_per_s = d["events"] / d["wall"]
        # the CPU sample covers every lane's batches
        cpu_per_kevent = d["cpu"] / (len(drained) * d["events"] / 1e3)
        # These failed the rule for bounded metrics on a shared 4-core host
        # (median within a tenth between sets of runs, spread within bound;
        # README.md, "Bounds and measured spread"), so they are per-layer
        # metrics of the traced run; every run records the drain's in its
        # stamps.
        timing = {
            "commit_latency_p50_s": (statistics.median(d["lat"]), "s",
                                     f"median of {len(d['lat'])} batches"),
        }
        if rd is not None:
            timing["read_full_s"] = (statistics.median(rd["full"]), "s",
                                     f"median of {len(rd['full'])} reads")
            timing["lookup_p50_s"] = (statistics.median(rd["lookups"]), "s",
                                      f"median of {len(rd['lookups'])} lookups")
        self.stamps["timing"] = dict({k: v[0] for k, v in timing.items()},
                                     apply_events_per_s=events_per_s,
                                     apply_cpu_s_per_kevent=cpu_per_kevent)
        metrics = {
            "apply_events_per_s": (events_per_s, "1/s"),
            "apply_cpu_s_per_kevent": (cpu_per_kevent, "s"),
            "setup_s": (self.setup_s, "s"),
            "table_bytes_per_live_row": (data_bytes / max(len(pages), 1), "B"),
            "heap_retained_mb": (heap_mb, "MB"),
        }
        if not self.trace:
            return metrics, None
        for name, (value, unit, base) in timing.items():
            self.layer(name, value, unit, base + " (traced lane)")
        self.layer("host.steal_pct", steal, "%", "whole run")
        self.layer("session.get_spark_s", self.sess.get_spark_s, "s", "one call")
        self.layer("session.jit_compile_s", self.jit_s, "s", "JVM JIT total at end of set-up")
        self.layer("setup.first_apply_s", self.first_apply_s, "s", "first (cold) apply")
        self.layer("setup.preload_s", self.preload_s, "s", "untimed preload apply")
        self.layer("bench.datagen_s", self.datagen_s, "s", "input generation")
        if self.warm_s is not None:
            self.layer("session.warm_s", self.warm_s, "s",
                       "one default session warm-up, at the end of the run (warm JVM)")
        return metrics, layers.finish(self, d, rd, dedup)
