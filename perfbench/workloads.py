"""The workloads. Each one stages seeded inputs, runs its job through the
program's public functions, checks every result against an oracle that
does not share the engine's code path, and, in a traced run, times each
layer from outside.

Traced chains: each layer's call is materialized to the ``noop`` sink as a
cumulative prefix of the job (scan, then scan+parse, then ... the whole
job), each in its own span and Spark job group. A layer's self time is
its prefix's time minus the prefixes it extends, so the self times of a
chain add up to the chain's traced total. Additive task metrics from the
event log are split the same way. A chain runs at full size and at 1/8
size (the first eighth of the input files); the two points give each
layer a fixed and a per-row cost. Warm-up passes compile the chain's plan
shapes first, so no prefix pays code generation that a later one reuses.
"""

from __future__ import annotations

import os
import shutil
import statistics
import threading
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

from wikibrain_spark import jobs
from wikibrain_spark.functions import binparse
from wikibrain_spark.geo import cells
from wikibrain_spark.operators import linkres, spatial_join
from wikibrain_spark.streaming import checkpoint

import inputs

RES = 9
KEY_SCHEMA = "image_id string, cell_r9 long, boundary_id long, qid string"
SIZES = (("full", None), ("small", 8))  # (size tag, keep the first 1/n of the input files)

# the spatial chain: layer -> (spans whose durations make up its self time, spans taken off)
SPATIAL_CHAIN = {
    "spatial_join.dim": (("spatial_join.dim",), ()),
    "sources": (("sources",), ()),
    "binparse": (("binparse",), ("sources",)),
    "spatial_join.pip": (("spatial_join.pip",), ("binparse", "spatial_join.dim")),
    "cells": (("cells",), ("spatial_join.pip",)),
    "spatial_join.tiles": (("spatial_join.tiles",), ("cells",)),
    "sink": (("sink",), ("spatial_join.tiles",)),
}
SPATIAL_FITTED = ("sources", "binparse", "cells", "spatial_join.dim", "spatial_join.pip", "spatial_join.tiles")


def noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def fingerprint(df: DataFrame) -> tuple[int, int]:
    """Row count and order-independent xxhash64 sum of the tile key
    columns: an exact multiset comparison in one aggregate."""
    h = F.xxhash64(*(F.col(c).cast(t) for c, t in (
        ("image_id", "string"), ("cell_r9", "long"), ("boundary_id", "long"), ("qid", "string"))))
    row = df.agg(F.count(F.lit(1)).alias("n"), F.sum(h.cast("decimal(20,0)")).alias("h")).collect()[0]
    return int(row["n"]), int(row["h"] or 0)


def points(images: DataFrame, *extra) -> DataFrame:
    """The native geotag header parse of the flagship and the ingest."""
    return images.select(
        "image_id", *extra,
        binparse.le_double_col(F.col("bytes"), 11).alias("lat"),
        binparse.le_double_col(F.col("bytes"), 19).alias("lon"),
    )


def dim_frames(bnd: DataFrame, res: int, clip: bool) -> list[DataFrame]:
    """The prefilter dimension the native PIP broadcasts at (res, clip)."""
    if clip:
        return [spatial_join.clipped_cell_dim(bnd, res)]
    return [spatial_join.polygon_cover(bnd, res), spatial_join.polygon_structs(bnd)]


def dim_stats(pts: DataFrame, bnd: DataFrame, res: int, clip: bool) -> tuple[int, int]:
    """(cells in the dim, point x boundary candidates its join yields for
    the points ``pts``)."""
    pc = pts.select(cells.hexlite_cell_col(F.col("lat"), F.col("lon"), res).alias("cell"))
    if clip:
        dim = spatial_join.clipped_cell_dim(bnd, res).select("cell", F.size("polys").alias("k"))
        cand = pc.join(dim, "cell").agg(F.sum("k")).collect()[0][0] or 0
        return dim.count(), int(cand)
    cover = spatial_join.polygon_cover(bnd, res).select("boundary_id", "cell").distinct()
    return cover.select("cell").distinct().count(), pc.join(cover, "cell").count()


class Workload:
    """One workload: ``stage`` makes inputs, ``job`` is the timed unit,
    ``check`` compares its result with the oracle, ``trace_pass`` runs the
    layer chain once at one size (``first``: the first measured pass, which
    also takes the counts that need only one run). ``chain`` maps each
    layer to the spans whose durations add up to (plus) and are taken from
    (minus) its self time; ``total`` names the layers whose self times make
    the traced total; ``fitted`` the layers given a fixed and a per-row
    cost."""

    name = ""
    chain: dict[str, tuple[tuple[str, ...], tuple[str, ...]]] = {}
    total: tuple[str, ...] = ()
    fitted: tuple[str, ...] = ()
    warmup_passes, passes = 1, 2
    warmup_reps = 1  # untimed warm repetitions between the cold job and the timed ones

    def __init__(self, spark: SparkSession, data_root: str, work_dir: str, seed: int):
        self.spark = spark
        self.data_root = data_root
        self.work_dir = work_dir
        self.seed = seed
        self.inp: dict = {}
        self.counts: dict[str, float] = {}  # untimed counts of the traced run
        self.checks: list[bool] = []  # oracle verdicts of the traced run
        self._oracle: dict = {}

    def files(self, keep: int | None = None) -> list[str]:
        """The input files, or the first 1/keep of them."""
        paths = self.inp["files"]
        return paths[: len(paths) // keep] if keep else paths

    def rows(self, keep: int | None = None) -> int:
        return sum(self.inp["file_rows"][: len(self.files(keep))])

    def check_first(self, result) -> bool:
        """The check of the cold first job."""
        return self.check(result)

    def trace(self, tracer) -> None:
        """Warm-up passes at full size (the small size has the same plan
        shapes), then the measured passes at every size; spans are named
        ``pass<k>/<size>/<layer>``."""
        for k in range(self.warmup_passes):
            tracer.scope = f"warmup{k}/"
            self.trace_pass(tracer, *SIZES[0], first=False)
        for k in range(self.passes):
            tracer.scope = f"pass{k}/"
            for size, keep in SIZES:
                self.trace_pass(tracer, size, keep, first=k == 0)
        tracer.scope = ""

    def spatial_chain(self, tracer, size: str, keep: int | None, prefilter: int | str, tiles_of, sink,
                      first: bool, extra=()):
        """[stats ->] dim -> sources -> binparse -> pip -> cells -> tiles ->
        sink, with the PIP's ``cell_prefilter_res`` as the job passes it;
        the stats span runs only for ``"auto"``, which calls the chooser.
        Each span builds its prefix from the input paths and materializes
        it, so a prefix's time holds the plan building as well as the
        execution (the dim is its own branch). On the first full pass it
        also counts, untimed, the PIP's output pairs and the candidates of
        the same points. Returns what ``sink`` returns."""
        read = self.spark.read

        def bnd():
            return read.parquet(self.inp["boundaries"])

        def pts():
            return points(read.parquet(*self.files(keep)), *extra)

        def pairs():
            return spatial_join.broadcast_pip_join_native(pts(), bnd(), cell_prefilter_res=prefilter)

        def celled():
            return pairs().select(
                "image_id", cells.hexlite_cell_col(F.col("lat"), F.col("lon"), RES).alias("cell_r9"),
                "boundary_id",
            )

        def tiles():
            return tiles_of(read.parquet(*self.files(keep)), bnd(), celled)

        spatial_join.clear_cover_stats_cache()
        if prefilter == "auto":
            with tracer.span(f"{size}/spatial_join.stats"):
                res, clip = spatial_join.auto_prefilter(bnd())
        else:
            res, clip = prefilter, False
        with tracer.span(f"{size}/spatial_join.dim"):
            for dim in dim_frames(bnd(), res, clip):
                noop(dim)
        with tracer.span(f"{size}/sources"):
            noop(read.parquet(*self.files(keep)).select("image_id", "bytes"))
        for layer, prefix in (("binparse", pts), ("spatial_join.pip", pairs), ("cells", celled),
                              ("spatial_join.tiles", tiles)):
            with tracer.span(f"{size}/{layer}"):
                noop(prefix())
        with tracer.span(f"{size}/sink"):
            out = sink(tiles())
        if first and size == "full":
            with tracer.span("dim_stats"):
                dim_rows, cand = dim_stats(pts(), bnd(), res, clip)
                n_pairs = pairs().count()
            self.counts.update({"spatial_join.dim.rows": dim_rows, "spatial_join.pip.candidates": cand,
                                "spatial_join.pip.pairs": n_pairs,
                                "spatial_join.pip.res": res, "spatial_join.pip.clip": float(clip)})
        return out


class Flagship(Workload):
    """Batch tile assignment: tile_assignments(strategy="native") over
    replicated fat image rows."""

    name = "flagship"
    POOL, REPLICAS, FILES = 512, 256, 8
    # a warm repetition still got faster over the first three after the cold one
    warmup_reps = 2
    chain = {"spatial_join.stats": (("spatial_join.stats",), ()), **SPATIAL_CHAIN}
    total = tuple(chain)
    fitted = SPATIAL_FITTED

    def stage(self) -> dict:
        return inputs.stage_flagship(self.data_root, self.seed, self.POOL, self.REPLICAS, self.FILES)

    @staticmethod
    def _tiles(images: DataFrame, bnd: DataFrame) -> DataFrame:
        return spatial_join.tile_assignments(images, bnd, RES, strategy="native")

    def job(self):
        spatial_join.clear_cover_stats_cache()
        return fingerprint(self._tiles(self.spark.read.parquet(*self.files()),
                                       self.spark.read.parquet(self.inp["boundaries"])))

    def check(self, result: tuple[int, int], keep: int | None = None) -> bool:
        """The pool's expected tiles, replicated like the staged rows (the
        first 1/keep of the files hold the first replicas)."""
        if keep not in self._oracle:
            pool = self.spark.createDataFrame(self.inp["expected_pool"], KEY_SCHEMA)
            reps = self.spark.range(self.rows(keep) // self.inp["pool"])
            self._oracle[keep] = fingerprint(pool.crossJoin(reps).withColumn(
                "image_id", F.concat("image_id", F.format_string("_r%05d", "id"))))
        return result == self._oracle[keep]

    def trace_pass(self, tracer, size: str, keep: int | None, first: bool) -> None:
        result = self.spatial_chain(tracer, size, keep, "auto", lambda images, bnd, _: self._tiles(images, bnd),
                                    fingerprint, first)
        self.checks.append(self.check(result, keep))


class _Progress(StreamingQueryListener):
    """Collects the streaming query's progress events."""

    def __init__(self):
        self.events = []
        self.done = threading.Event()

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        self.events.append(event.progress)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        self.done.set()


def _du_mb(path: str) -> float:
    total = 0
    for root, _, names in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, n)) for n in names)
    return total / 2**20


class Ingest(Workload):
    """jobs.streaming_flagship_ingest: image stream -> native geotag parse
    -> stateful exact dedup -> native PIP -> tile cells -> parquet sink with
    fsync'd ledger commits, per micro-batch."""

    name = "ingest"
    DISTINCT, DUP_SHARE, FILES = 1024, 0.1, 16
    # the job's default cell_prefilter_res, which its callers keep
    PREFILTER = 2
    chain = {**SPATIAL_CHAIN, "streaming": (("streaming",), ())}
    total = ("streaming",)
    fitted = SPATIAL_FITTED
    # one measured pass keeps the traced run under the 180 s a run may take
    passes = 1

    def stage(self) -> dict:
        return inputs.stage_ingest(self.data_root, self.seed, self.DISTINCT, self.DUP_SHARE, self.FILES)

    def _run(self, rep: str) -> None:
        bnd = self.spark.read.parquet(self.inp["boundaries"])
        jobs.streaming_flagship_ingest(
            self.spark, self.inp["source_dir"], bnd, os.path.join(rep, "out"), os.path.join(rep, "ckpt"),
            res=RES,
        )

    def job(self):
        spatial_join.clear_cover_stats_cache()
        rep = os.path.join(self.work_dir, f"ingest-{time.perf_counter_ns()}")
        self._run(rep)
        return rep

    def check(self, rep: str, rerun: bool = False) -> bool:
        """Output rows, the ledger's row counts and the oracle tiles of the
        distinct payloads agree; with ``rerun``, a second run into the same
        output and checkpoint commits nothing."""
        out_root = os.path.join(rep, "out")
        committed = checkpoint.PartitionLedger(out_root).committed()
        got = fingerprint(jobs.read_flagship_output(self.spark, out_root))
        if None not in self._oracle:
            self._oracle[None] = fingerprint(self.spark.createDataFrame(self.inp["expected"], KEY_SCHEMA))
        ok = got == self._oracle[None] and sum(r["row_count"] for r in committed.values()) == got[0]
        if rerun:
            self._run(rep)
            ok = ok and checkpoint.PartitionLedger(out_root).committed() == committed
        shutil.rmtree(rep, ignore_errors=True)
        return ok

    def check_first(self, rep: str) -> bool:
        return self.check(rep, rerun=True)

    def trace_pass(self, tracer, size: str, keep: int | None, first: bool) -> None:
        def tag_join(images, bnd, celled):
            # the per-batch tag join of jobs.streaming_flagship_ingest
            return celled().join(F.broadcast(bnd.select("boundary_id", "qid", "wikipedia")), "boundary_id")

        def write(tiles):
            tiles.write.mode("overwrite").parquet(os.path.join(self.work_dir, f"sink-{size}"))

        self.spatial_chain(tracer, size, keep, self.PREFILTER, tag_join, write, first,
                           extra=(F.md5("bytes").alias("fp"),))
        if first and size == "full":
            self._trace_stream(tracer)

    def _trace_stream(self, tracer) -> None:
        """One streaming run with a progress listener and a timer around
        each ledger commit."""
        listener = _Progress()
        commit_s = []
        plain = checkpoint.PartitionLedger.commit

        def timed_commit(ledger, partition, metrics):
            t0 = time.perf_counter()
            try:
                return plain(ledger, partition, metrics)
            finally:
                commit_s.append(time.perf_counter() - t0)

        spatial_join.clear_cover_stats_cache()
        rep = os.path.join(self.work_dir, f"ingest-traced-{time.perf_counter_ns()}")
        self.spark.streams.addListener(listener)
        checkpoint.PartitionLedger.commit = timed_commit
        try:
            with tracer.span("full/streaming"):
                self._run(rep)
            listener.done.wait(30)
        finally:
            checkpoint.PartitionLedger.commit = plain
            self.spark.streams.removeListener(listener)
        data = [p for p in listener.events if p.numInputRows > 0]
        ledger = checkpoint.PartitionLedger(os.path.join(rep, "out"))
        self.counts.update({
            "checkpoint.commit_s": sum(commit_s),
            "checkpoint.mb_written": _du_mb(os.path.join(rep, "ckpt")) + os.path.getsize(ledger.path) / 2**20,
            "streaming.batches": len(data),
            "streaming.trigger_s_p50": statistics.median(p.durationMs["triggerExecution"] for p in data) / 1e3,
            "streaming.state_rows": sum(op.numRowsTotal for op in listener.events[-1].stateOperators),
            "streaming.state_commit_s": sum(op.commitTimeMs for p in listener.events
                                            for op in p.stateOperators) / 1e3,
        })
        self.checks.append(self.check(rep))


class Linkres(Workload):
    """linkres.resolve over replicated golden elements. Runnable, but not
    in BENCHMARK.json: METRICS.md gives the time budget that left it out."""

    name = "linkres"
    REPLICAS, FILES = 16, 8
    chain = {
        "sources": (("sources",), ()),
        "linkres.facts": (("linkres.facts",), ()),
        "linkres.call": (("linkres.call",), ()),
        "linkres.exec": (("linkres.exec",), ()),
        "linkres": (("linkres.call", "linkres.exec"), ()),
    }
    total = ("linkres",)
    fitted = ("sources", "linkres")
    # the warm repetitions already ran the same plans
    warmup_passes, passes = 0, 1
    # a warm call costs about half a minute: the first timed one is the warm-up
    warmup_reps = 0

    def stage(self) -> dict:
        return inputs.stage_linkres(self.data_root, self.seed, self.REPLICAS, self.FILES)

    def _frames(self, keep: int | None = None) -> tuple[DataFrame, linkres.WikiDims]:
        d = {k: self.spark.read.parquet(p) for k, p in self.inp["dims"].items()}
        dims = linkres.WikiDims(
            wikidata=d["wikidata"], claims=d["wikidata_claims"], pages=d["wikipedia_pages"],
            page_redirects=d["wikipedia_redirects"], qid_redirects=d["wikidata_redirects"],
            edges=d["ontology_edges"], disambig_links=d["disambig_links"],
        )
        return self.spark.read.parquet(*self.files(keep)), dims

    @staticmethod
    def _collect(out: DataFrame) -> dict:
        return {r["element_id"]: r["error_id"] for r in out.select("element_id", "error_id").collect()}

    def job(self):
        spatial_join.clear_cover_stats_cache()
        return self._collect(linkres.resolve(*self._frames()))

    def check(self, got: dict, keep: int | None = None) -> bool:
        """Each replica's error id is its golden case's expected_error_id;
        a case expected clean (None or FILTERED) has no row."""
        expected = self.inp["expected"]
        ids = self.inp["element_ids"][: self.rows(keep)]
        return got == {e: expected[e] for e in ids if expected[e] not in (None, "FILTERED")}

    def trace_pass(self, tracer, size: str, keep: int | None, first: bool) -> None:
        with tracer.span(f"{size}/sources"):
            noop(self._frames(keep)[0])
        if keep is None:  # the dims do not scale with the elements
            with tracer.span(f"{size}/linkres.facts"):
                noop(linkres.build_qid_facts(self._frames()[1], linkres.ResolveConfig()))
        with tracer.span(f"{size}/linkres.call"):
            out = linkres.resolve(*self._frames(keep))
        with tracer.span(f"{size}/linkres.exec"):
            got = self._collect(out)
        self.checks.append(self.check(got, keep))


WORKLOADS = {w.name: w for w in (Flagship, Ingest, Linkres)}
