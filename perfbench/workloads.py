"""Seeded inputs, op streams and correctness oracles for each workload.

Every input is generated from the run's seed with numpy and handed to the
engine as parquet files; the engine never sees the seed. Each op draws fresh parameters. Correctness is checked outside
the clock: the values a check needs from the engine are gathered by
``DataFrame.observe`` in the same pass as the timed noop write, and are
compared with a brute-force numpy answer over the raw coordinates.
"""

from __future__ import annotations

import math
import shutil
import time
from dataclasses import dataclass, field
from pathlib import Path
from typing import Callable, Iterator

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from linear_quadtree_spark.config import DEFAULT_BOUNDS
from linear_quadtree_spark.functions.encode import zorder_encode_np
from linear_quadtree_spark.operators.build import LQTTable
from linear_quadtree_spark.operators.maintain import (
    append_run,
    compact,
    list_runs,
    load_with_runs,
)
from linear_quadtree_spark.operators.spatial import bbox_query

from spans import StatusReader, Tracer

B = DEFAULT_BOUNDS
SPAN = B.xend - B.xstart

# Sizes at --scale 1. They keep one run, with its set-ups and warm-up,
# under a minute on a 4-core host; the benchmark's whole budget is 3420 s
# for 4 + 22 runs per workload.
BUILD_POINTS = 600_000  # per build; sf0.1 size
BUILD_POOL = 3  # distinct seeded input sets per build kind
STORE_POINTS = 300_000  # stored_ingest base
DELTA_DIVISOR = 32  # each appended delta is base / 32 rows
BBOX_SIDE = (0.1, 3.0)  # log-uniform bbox sides: viewport-sized reads
HOT_SHARE = 0.25  # hot build: share of points on one spot of a level-12 cell
MIDLINE_SHARE = 0.05  # hot build: share of points on the x midline
HOT_LEVEL = 12
INPUT_FILES_PER_CORE = 2
ZKEY_SAMPLE = 64

POINT_SCHEMA = "pid long, x float, y float"


# --------------------------------------------------------------- inputs
def uniform_points(rng: np.random.Generator, n: int) -> tuple[np.ndarray, np.ndarray]:
    x = (B.xstart + SPAN * rng.random(n)).astype(np.float32)
    y = (B.ystart + SPAN * rng.random(n)).astype(np.float32)
    return x, y


def hot_points(rng: np.random.Generator, n: int) -> tuple[np.ndarray, np.ndarray]:
    """Uniform points, except a quarter on one spot of one level-12 cell
    (one zs value: the hot key that ``salt="auto"`` exists for) and a band
    exactly on the x midline (midline collapse puts those in the side
    relation)."""
    x, y = uniform_points(rng, n)
    n_hot, n_mid = int(n * HOT_SHARE), int(n * MIDLINE_SHARE)
    cw = SPAN / (1 << HOT_LEVEL)
    cx, cy = (start + (i + rng.random()) * cw
              for start, i in zip((B.xstart, B.ystart), rng.integers(0, 1 << HOT_LEVEL, 2)))
    x[:n_hot], y[:n_hot] = np.float32(cx), np.float32(cy)
    x[n_hot:n_hot + n_mid] = np.float32((B.xstart + B.xend) / 2)
    perm = rng.permutation(n)
    return x[perm], y[perm]


def write_points(path: Path, pid0: int, x: np.ndarray, y: np.ndarray, files: int) -> int:
    """Write points as ``files`` parquet files; returns bytes written."""
    shutil.rmtree(path, ignore_errors=True)
    path.mkdir(parents=True)
    pid = np.arange(pid0, pid0 + len(x), dtype=np.int64)
    cuts = np.linspace(0, len(x), files + 1).astype(int)
    for i in range(files):
        lo, hi = cuts[i], cuts[i + 1]
        pq.write_table(pa.table({"pid": pid[lo:hi], "x": x[lo:hi], "y": y[lo:hi]}),
                       path / f"part-{i:03d}.parquet")
    return sum(p.stat().st_size for p in path.iterdir())


def rect_params(rng: np.random.Generator, stratum: int, strata: int) -> tuple[float, float, float, float]:
    """A rect whose sides are log-uniform within one of ``strata`` equal
    slices of the log side range. A block draws one rect per slice, so
    every block spans the same range of cover sizes and a run's median
    does not hinge on how many large rects its seed happened to draw."""
    lo, hi = math.log(BBOX_SIDE[0]), math.log(BBOX_SIDE[1])
    step = (hi - lo) / strata
    w, h = (math.exp(lo + (stratum + rng.random()) * step) for _ in range(2))
    x0 = float(rng.uniform(B.xstart, B.xend - w))
    y0 = float(rng.uniform(B.ystart, B.yend - h))
    return x0, x0 + w, y0, y0 + h


# -------------------------------------------------------- brute force
def bbox_truth(x, y, pid, rect) -> tuple[int, int]:
    x0, x1, y0, y1 = rect
    xd, yd = x.astype(np.float64), y.astype(np.float64)
    m = (xd >= x0) & (xd <= x1) & (yd >= y0) & (yd <= y1)
    return int(m.sum()), int(pid[m].sum())


# ------------------------------------------------------------- harness
@dataclass
class Op:
    op_id: str
    kind: str
    params: dict = field(default_factory=dict)


@dataclass
class OpOutcome:
    """What one op returns: the timed seconds and an outside-the-clock check
    (``None`` when the output is correct, else a message)."""

    seconds: float
    check: Callable[[], str | None]
    rows: int = 0
    noop: bool = True
    extra: dict = field(default_factory=dict)


@dataclass
class Ctx:
    spark: SparkSession
    work: Path
    scale: float
    cores: int
    tracer: Tracer

    def size(self, n: int) -> int:
        return max(int(n * self.scale), 256)

    def read_points(self, path: Path) -> DataFrame:
        return self.spark.read.schema(POINT_SCHEMA).parquet(str(path))

    def materialize(self, df: DataFrame, op_id: str, *aggs) -> Observation:
        """The timed action: run ``df`` to completion through the noop sink,
        gathering ``aggs`` in the same pass. In a traced run the plan is
        first built once more to read Catalyst's phase times."""
        if self.tracer.enabled:
            with self.tracer.span("queryExecution", "catalyst", op_id):
                self.tracer.phases[op_id] = StatusReader.planning_phases(df)
        obs = Observation(op_id)
        with self.tracer.span("noop", "exec", op_id):
            df.observe(obs, *aggs).write.format("noop").mode("overwrite").save()
        return obs


class Workload:
    name = ""
    #: kinds whose op is a build of a linear quadtree (encode + sort)
    build_kinds: tuple[str, ...] = ()
    #: whole blocks run outside the clock before measuring
    warmup_blocks = 1

    def __init__(self, ctx: Ctx):
        self.ctx = ctx

    def setup(self, rng: np.random.Generator) -> None:
        raise NotImplementedError

    def blocks(self, rng: np.random.Generator) -> Iterator[list[Op]]:
        """Endless stream of op blocks; each block holds the workload's mix
        in full, so a run that ends on a block boundary keeps the mix."""
        raise NotImplementedError

    def run(self, op: Op) -> OpOutcome:
        raise NotImplementedError

    def detail(self, recs: list[dict]) -> dict[str, tuple[float, str]]:
        raise NotImplementedError


def _secs(recs: list[dict], kind: str) -> list[float]:
    return [r["seconds"] for r in recs if r["kind"] == kind and r["ok"]]


def _rate(recs: list[dict], kind: str) -> float:
    sel = [r for r in recs if r["kind"] == kind and r["ok"]]
    t = sum(r["seconds"] for r in sel)
    return sum(r["rows"] for r in sel) / t if t else 0.0


def _pct_ms(values: list[float], q: float) -> float:
    return float(np.percentile(np.array(values) * 1e3, q)) if values else 0.0


# ----------------------------------------------------------------- build
class BuildWorkload(Workload):
    """Back-to-back builds of seeded uniform and hot-cell point sets."""

    name = "build"
    build_kinds = ("build", "build_hot")
    # set-up runs no build, so the JIT is cold: builds kept speeding up
    # over the first ~6 (2.0 s down to a 1.2-1.6 s plateau for 600 k points)
    warmup_blocks = 3

    def setup(self, rng):
        ctx = self.ctx
        n = ctx.size(BUILD_POINTS)
        files = INPUT_FILES_PER_CORE * ctx.cores
        self.inputs = {}
        for kind, gen in (("build", uniform_points), ("build_hot", hot_points)):
            for i in range(BUILD_POOL):
                x, y = gen(rng, n)
                path = ctx.work / "build" / f"{kind}-{i}"
                write_points(path, 0, x, y, files)
                self.inputs[(kind, i)] = (path, x, y)

    def blocks(self, rng):
        i = 0
        while True:
            # every build checks rows and a zkey sample; every other block
            # also checks partition order and ranges, a full extra pass
            yield [Op(f"{kind}-{i}", kind, {"input": i % BUILD_POOL,
                                            "sample": int(rng.integers(1 << 30)),
                                            "check_partitions": i % 2 == 0})
                   for kind in ("build", "build_hot")]
            i += 1

    def run(self, op):
        ctx = self.ctx
        path, x, y = self.inputs[(op.kind, op.params["input"])]
        src = ctx.read_points(path)
        salt = "auto" if op.kind == "build_hot" else 0
        t0 = time.perf_counter()
        with ctx.tracer.span("LQTTable.build", "operators.build", op.op_id):
            tbl = LQTTable.build(src, B, tiebreaker="pid", salt=salt)
        obs = ctx.materialize(tbl.main.unionByName(tbl.side), op.op_id,
                              F.count(F.lit(1)).alias("rows"))
        seconds = time.perf_counter() - t0
        extra = {}

        def check():
            try:
                return self._check(tbl, obs.get["rows"], x, y, op, salt, extra)
            finally:
                tbl.unpersist()

        return OpOutcome(seconds, check, rows=len(x), extra=extra)

    def _check(self, tbl, rows_out, x, y, op, salt, extra):
        if rows_out != len(x):
            return f"rows in {len(x)} != rows out {rows_out}"
        n_parts = tbl.main.rdd.getNumPartitions()
        if op.params["check_partitions"]:
            err = self._check_partitions(tbl, salt, n_parts, extra)
            if err:
                return err
        rng = np.random.default_rng(op.params["sample"])
        idx = rng.choice(len(x), size=min(ZKEY_SAMPLE, len(x)), replace=False)
        got = {r["pid"]: (r["zkey"], r["zlvl"]) for r in
               tbl.main.unionByName(tbl.side).filter(F.col("pid").isin([int(i) for i in idx]))
               .select("pid", "zkey", "zlvl").collect()}
        zkey, zlvl = zorder_encode_np(x[idx], y[idx], B)
        for i, zk, zl in zip(idx, zkey.view(np.int64), zlvl):
            if got.get(int(i)) != (int(zk), int(zl)):
                return f"pid {int(i)}: zkey/zlvl {got.get(int(i))} != zorder_encode_np {(int(zk), int(zl))}"
        if self.ctx.tracer.enabled:
            extra["salt"] = (LQTTable.detect_salt(tbl.enc_cache, n_parts)
                             if salt == "auto" else 0)
        return None

    @staticmethod
    def _check_partitions(tbl, salt, n_parts, extra):
        """Every partition sorted by (zs, pid); partitions range-disjoint."""
        w = Window.partitionBy("p").orderBy("i")
        m = (tbl.main.select(F.spark_partition_id().alias("p"),
                             F.monotonically_increasing_id().alias("i"), "zs", "pid")
             .withColumn("pzs", F.lag("zs").over(w))
             .withColumn("ppid", F.lag("pid").over(w)))
        unsorted = (F.col("zs") < F.col("pzs")) | (
            (F.col("zs") == F.col("pzs")) & (F.col("pid") < F.col("ppid")))
        parts = sorted(m.groupBy("p").agg(
            F.count(F.lit(1)).alias("n"), F.min("zs").alias("lo"), F.max("zs").alias("hi"),
            F.sum(F.when(unsorted, 1).otherwise(0)).alias("bad"),
        ).collect(), key=lambda r: r["p"])
        if any(r["bad"] for r in parts):
            return "a partition is not sorted by (zs, pid)"
        for a, b in zip(parts, parts[1:]):
            # salted builds may split one zs value across neighbours
            if a["hi"] > b["lo"] or (not salt and a["hi"] == b["lo"]):
                return f"partitions {a['p']} and {b['p']} overlap in zs"
        extra["partition_skew"] = max(r["n"] for r in parts) / (sum(r["n"] for r in parts) / n_parts)
        return None

    def detail(self, recs):
        return {
            "build_rows_per_s": (_rate(recs, "build"), "rows/s"),
            "build_hot_rows_per_s": (_rate(recs, "build_hot"), "rows/s"),
        }


def _compare(obs: Observation, truth: tuple[int, int], what: str, extra: dict) -> str | None:
    got = (obs.get["n"], obs.get["chk"] or 0)
    extra["result_rows"] = got[0]
    if got != truth:
        return f"{what}: (rows, checksum) {got} != brute force {truth}"
    return None


# --------------------------------------------------------- stored ingest
class StoredIngestWorkload(Workload):
    """Appends of sorted delta runs beside bbox reads and compaction, on
    parquet files."""

    name = "stored_ingest"
    build_kinds = ("append", "compact")
    BLOCK = ("append",) + ("stored_bbox",) * 3 + ("append",) + ("stored_bbox",) * 3 + ("compact",)

    def setup(self, rng):
        ctx = self.ctx
        n = ctx.size(STORE_POINTS)
        x, y = uniform_points(np.random.default_rng(rng.integers(1 << 62)), n)
        path = ctx.work / "store-input"
        write_points(path, 0, x, y, INPUT_FILES_PER_CORE * ctx.cores)
        self.store = ctx.work / "store"
        shutil.rmtree(self.store, ignore_errors=True)
        base = LQTTable.build(ctx.read_points(path), B, tiebreaker="pid", persist=False)
        base.save(str(self.store))
        base.unpersist()
        self.x, self.y = x, y
        self.pid = np.arange(n, dtype=np.int64)
        self.delta_rows = max(n // DELTA_DIVISOR, 1)

    def blocks(self, rng):
        i = 0
        while True:
            block = []
            strata = iter(rng.permutation(self.BLOCK.count("stored_bbox")))
            for kind in self.BLOCK:
                params = {"seed": int(rng.integers(1 << 62))}
                if kind == "stored_bbox":
                    params["rect"] = rect_params(rng, next(strata), self.BLOCK.count("stored_bbox"))
                block.append(Op(f"{kind}-{i}", kind, params))
                i += 1
            yield block

    def run(self, op):
        return getattr(self, f"_run_{op.kind}")(op)

    def _run_append(self, op):
        ctx = self.ctx
        x, y = uniform_points(np.random.default_rng(op.params["seed"]), self.delta_rows)
        pid0 = len(self.pid)
        path = ctx.work / "delta"
        in_bytes = write_points(path, pid0, x, y, 1)
        delta = ctx.read_points(path)
        runs_before = list_runs(str(self.store))
        t0 = time.perf_counter()
        with ctx.tracer.span("append_run", "operators.maintain", op.op_id):
            gen = append_run(delta, str(self.store), B, tiebreaker="pid")
        seconds = time.perf_counter() - t0
        self.x, self.y = np.concatenate([self.x, x]), np.concatenate([self.y, y])
        self.pid = np.arange(len(self.x), dtype=np.int64)
        run_dir = self.store / "runs" / f"gen={gen}"
        extra = {"input_bytes": in_bytes,
                 "files_written": len(list(run_dir.rglob("*.parquet")))}

        def check():
            if list_runs(str(self.store)) != runs_before + [gen]:
                return f"append: runs {list_runs(str(self.store))} after {runs_before}"
            got = sum(ctx.read_points(run_dir / rel).count() for rel in ("main", "side"))
            if got != len(x):
                return f"append: run holds {got} rows, delta had {len(x)}"
            return None

        return OpOutcome(seconds, check, rows=len(x), noop=False, extra=extra)

    def _run_stored_bbox(self, op):
        ctx, rect = self.ctx, op.params["rect"]
        t0 = time.perf_counter()
        with ctx.tracer.span("load_with_runs", "operators.maintain", op.op_id):
            tbl = load_with_runs(ctx.spark, str(self.store), B, tiebreaker="pid")
        with ctx.tracer.span("bbox_query", "plans.cover", op.op_id):
            df = bbox_query(tbl, *rect)
        obs = ctx.materialize(df, op.op_id, F.count(F.lit(1)).alias("n"),
                              F.sum("pid").alias("chk"))
        seconds = time.perf_counter() - t0
        truth = bbox_truth(self.x, self.y, self.pid, rect)
        extra = {}
        if ctx.tracer.enabled:
            extra = {"ranges": len(tbl.cover(*rect)),
                     "files_total": len(list(self.store.rglob("*.parquet")))}
        return OpOutcome(seconds, lambda: _compare(obs, truth, "stored bbox", extra),
                         extra=extra)

    def _run_compact(self, op):
        ctx = self.ctx
        runs_before = len(list_runs(str(self.store)))
        t0 = time.perf_counter()
        with ctx.tracer.span("compact", "operators.maintain", op.op_id):
            merged = compact(ctx.spark, str(self.store), B, tiebreaker="pid")
        seconds = time.perf_counter() - t0

        def check():
            if merged != runs_before or list_runs(str(self.store)):
                return f"compact merged {merged} of {runs_before} runs"
            got = sum(ctx.read_points(self.store / rel).count() for rel in ("main", "side"))
            if got != len(self.x):
                return f"compact: base holds {got} rows, expected {len(self.x)}"
            return None

        return OpOutcome(seconds, check, rows=len(self.x), noop=False,
                         extra={"runs_merged": merged})

    def detail(self, recs):
        return {
            "append_rows_per_s": (_rate(recs, "append"), "rows/s"),
            "stored_bbox_ms_p50": (_pct_ms(_secs(recs, "stored_bbox"), 50), "ms"),
            "compact_rows_per_s": (_rate(recs, "compact"), "rows/s"),
        }


WORKLOADS: dict[str, type[Workload]] = {
    w.name: w for w in (BuildWorkload, StoredIngestWorkload)
}
