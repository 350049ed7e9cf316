"""Tiled execution: one census, LPT placement, per-tile checkpoint.

North-rule requirement: the job "checkpoints per-partition with lineage
+ metrics so it resumes mid-tile". ``run_tiled_job`` is the one tiled
engine; ``plans.pipeline.generate_features`` calls it with or without a
job directory.

- One census: ``groupBy(tile)`` -> (segment count, input fingerprint),
  collected once with an explicit bound (``_LPT_MAX_TILES``). The
  fingerprint is an order-independent ``bit_xor(xxhash64(...))``
  aggregate — one shuffle of 8-byte values, no row payloads.
- Placement: greedy longest-processing-time over the census counts into
  hash-aligned buckets, so every partition carries a near-equal load.
  The broadcast (tile, bucket, fp) map places the segment and context
  sides and, with a job directory, also filters them: resume places
  only the tiles whose (tile, fp) pair is not in the manifest, so
  missing and changed tiles recompute and nothing else does.
- Each tile's output parquet is written BY THE TASK that computed it
  (inside the cogrouped bucket kernel), to ``tiles/tile_<id>.parquet``
  via write-to-tmp + atomic rename — idempotent under retries and
  speculative duplicates (same tile -> same path, same content).
- The task then drops a commit marker ``markers/<id>.json`` (tile id,
  input fingerprint, per-kind counts, seconds, path), also via rename.
  A crash between parquet and marker re-does exactly one tile.
- The driver never materializes feature rows: it only compacts marker
  files into ``manifest.jsonl`` (idempotent, runs at start and end so a
  crashed run's markers are recovered) and reads the committed paths of
  the tiles in the current census (a tile whose segments vanished does
  not resurrect its stale output).
- Tiles whose kernel emits zero rows still commit a marker (counts={}),
  so they are not recomputed forever.

On this single-node sandbox the tile store is the local FS; on a real
cluster the same protocol targets a task-writable shared store (object
store / DFS) — the rename-commit seam is the only thing to swap.
"""
from __future__ import annotations

import json
import os
import heapq
import time
import uuid
from pathlib import Path

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class TileManifest:
    def __init__(self, job_dir: str):
        self.dir = Path(job_dir)
        self.dir.mkdir(parents=True, exist_ok=True)
        (self.dir / "tiles").mkdir(exist_ok=True)
        (self.dir / "markers").mkdir(exist_ok=True)
        self.manifest_path = self.dir / "manifest.jsonl"

    def committed(self) -> dict[int, dict]:
        out = {}
        if self.manifest_path.exists():
            for line in self.manifest_path.read_text().splitlines():
                if line.strip():
                    row = json.loads(line)
                    out[row["tile"]] = row
        return out

    def compact_markers(self) -> int:
        """Fold executor-written commit markers into manifest.jsonl
        (idempotent: newest marker for a tile wins; markers removed)."""
        done = self.committed()
        moved = 0
        for mpath in sorted((self.dir / "markers").glob("*.json")):
            try:
                row = json.loads(mpath.read_text())
            except (json.JSONDecodeError, OSError):
                continue  # half-written stray; rename protocol makes
                # this unreachable for completed commits
            done[row["tile"]] = row
            mpath.unlink()
            moved += 1
        if moved:
            tmp = self.manifest_path.with_suffix(".tmp")
            with open(tmp, "w") as f:
                for row in done.values():
                    f.write(json.dumps(row) + "\n")
            os.replace(tmp, self.manifest_path)
        return moved


def _atomic_write_parquet(pdf: pd.DataFrame, path: Path, arrow_schema):
    import pyarrow as pa
    import pyarrow.parquet as pq
    tmp = path.with_name(f".{path.name}.{uuid.uuid4().hex}.tmp")
    # explicit schema: pandas infers float64/object for nullable int
    # columns, which would not round-trip through the Spark read schema
    table = pa.Table.from_pandas(pdf, schema=arrow_schema,
                                 preserve_index=False)
    pq.write_table(table, tmp)
    os.replace(tmp, path)


def _atomic_write_json(obj: dict, path: Path):
    tmp = path.with_name(f".{path.name}.{uuid.uuid4().hex}.tmp")
    tmp.write_text(json.dumps(obj))
    os.replace(tmp, path)


_SUMMARY_SCHEMA = "tile long, n_rows long, seconds double"

# above this many tiles the census is no longer a driver-sized collect
_LPT_MAX_TILES = 200_000


def _hash_aligned_bucket_ids(spark: SparkSession, n_part: int) -> list:
    """One int id per partition p with pmod(murmur3(id), n_part) == p.

    ``repartition(n, col)`` places rows by the hash of the column, so
    arbitrary bucket numbers 0..n-1 would collide into ~63% of the
    partitions (Poisson) and wreck a balanced assignment. Evaluating
    Spark's own hash over a small id range (one tiny job) yields ids
    that map bijectively onto partitions."""
    rows = spark.range(0, 64 * n_part).select(
        F.col("id").cast("int").alias("b"),
        F.pmod(F.hash(F.col("id").cast("int")), F.lit(n_part)).alias("p")
    ).collect()
    m: dict = {}
    for r in rows:
        if r.p not in m:
            m[r.p] = r.b
    if len(m) < n_part:     # astronomically unlikely at 64x oversample
        raise RuntimeError(f"hash alignment found {len(m)}/{n_part}")
    return [m[p] for p in range(n_part)]


def _lpt_bucket_map(spark: SparkSession, census: list, n_part: int
                    ) -> list:
    """Greedy longest-processing-time assignment of census rows
    (tile, n, fp) to hash-aligned buckets by segment count (+ a fixed
    per-tile overhead). Returns [(tile, bucket_id, fp)]."""
    ids = _hash_aligned_bucket_ids(spark, n_part)
    heap = [(0, p) for p in range(n_part)]
    heapq.heapify(heap)
    mapping = []
    for r in sorted(census, key=lambda r: (-r.n, r.tile)):
        load, p = heapq.heappop(heap)
        mapping.append((r.tile, ids[p], r.fp))
        heapq.heappush(heap, (load + r.n + 20, p))
    return mapping


def _bucket_kernel(kernel, schema, job_dir: str | None):
    """Cogrouped kernel over one bucket: runs ``kernel`` per tile. With
    ``job_dir`` each tile commits (parquet, then marker) and the bucket
    returns one summary row per tile; without, it returns the features
    (the per-tile Python loop is over a few tiles, negligible next to
    the kernels themselves)."""
    empty = pd.DataFrame()
    out_cols = [f.name for f in schema.fields]
    if job_dir is not None:
        from pyspark.sql.pandas.types import to_arrow_schema
        arrow_schema = to_arrow_schema(schema)
        tiles_dir = Path(job_dir) / "tiles"
        markers_dir = Path(job_dir) / "markers"
        out_cols = ["tile", "n_rows", "seconds"]

    def commit(tile: int, fp: int, out: pd.DataFrame, t0: float):
        path = tiles_dir / f"tile_{tile}.parquet"
        counts: dict[str, int] = {}
        if len(out):
            _atomic_write_parquet(out, path, arrow_schema)
            if "kind" in out.columns:
                counts = {k: int(v) for k, v in
                          out.groupby("kind").size().items()}
        dt = time.time() - t0
        _atomic_write_json(
            {"tile": tile, "input_fingerprint": fp, "counts": counts,
             "seconds": round(dt, 3),
             "path": str(path) if len(out) else None,
             "committed_at": time.time()},
            markers_dir / f"{tile}.json")
        return pd.DataFrame([(tile, len(out), dt)], columns=out_cols)

    def run(key, pdf: pd.DataFrame, ctx: pd.DataFrame) -> pd.DataFrame:
        cgs = dict(tuple(ctx.groupby("tile"))) if len(ctx) else {}
        outs = []
        for t, g in pdf.groupby("tile"):
            t0 = time.time()
            out = kernel((t,), g, cgs.get(t, empty))
            if job_dir is not None:
                out = commit(int(t), int(g["fp"].iloc[0]), out, t0)
            outs.append(out)
        if not outs:
            return pd.DataFrame(columns=out_cols)
        return pd.concat(outs, ignore_index=True)

    return run


def run_tiled_job(spark: SparkSession, segs_tiled: DataFrame,
                  ctx_tiled: DataFrame, kernel, schema,
                  job_dir: str | None = None) -> DataFrame:
    """Census, LPT placement and the bucket-cogrouped tile kernel.

    ``segs_tiled`` and ``ctx_tiled`` carry a ``tile`` column (the
    segment side also osm_id/ax/ay/bx/by for the fingerprint).
    ``kernel(key, pdf, ctx_pdf)`` is the per-tile kernel, ``schema`` its
    output. Without ``job_dir`` returns the lazy feature DataFrame; with
    it, runs the pending tiles with executor-side commit and returns the
    union of the committed outputs of the tiles in the census.
    """
    fp_df = segs_tiled.groupBy("tile").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("bit_xor(xxhash64(osm_id, ax, ay, bx, by))").alias("fp"))
    census = fp_df.limit(_LPT_MAX_TILES + 1).collect()
    if len(census) > _LPT_MAX_TILES:
        raise ValueError(
            f"tile census exceeds {_LPT_MAX_TILES} tiles (the driver-"
            f"collect bound); raise --tile-size")
    pending = census
    if job_dir is not None:
        man = TileManifest(job_dir)
        man.compact_markers()  # recover a crashed run's commits
        fps = {t: r["input_fingerprint"]
               for t, r in man.committed().items()}
        pending = [r for r in census if fps.get(r.tile) != r.fp]

    # Explicit partition count: the tile groups are tiny in BYTES but
    # heavy in COMPUTE, so AQE's size-based partition coalescing would
    # serialize the expensive kernels onto one task; repartition(n)
    # pins the exchange. LPT makes the balance explicit, so 2 buckets
    # per core suffice (interleaved A/B at sf0.1: 6.2-6.3 s vs 7.5-7.6 s
    # at 4/core); SPARK_GRAFT_NPART pins it for A/B scaling runs.
    n_part = int(os.environ.get("SPARK_GRAFT_NPART", "0")) \
        or max(spark.sparkContext.defaultParallelism * 2, 32)
    # a pandas (Arrow) map becomes a LocalRelation; a Python list would
    # become an RDD whose broadcast costs Python-worker jobs
    mapping = pd.DataFrame(_lpt_bucket_map(spark, pending, n_part),
                           columns=["tile", "_bucket", "fp"])
    # two separate map DFs: joining the same DF on both cogroup sides
    # trips the ambiguous-self-join check
    segs_b = segs_tiled.join(F.broadcast(spark.createDataFrame(
        mapping, "tile long, _bucket int, fp long")), "tile")
    ctx_b = ctx_tiled.join(F.broadcast(spark.createDataFrame(
        mapping.drop(columns="fp"), "tile long, _bucket int")), "tile")
    out = (segs_b.repartition(n_part, "_bucket").groupBy("_bucket")
           .cogroup(ctx_b.repartition(n_part, "_bucket").groupBy("_bucket"))
           .applyInPandas(_bucket_kernel(kernel, schema, job_dir),
                          schema if job_dir is None else _SUMMARY_SCHEMA))
    if job_dir is None:
        return out
    if pending:
        out.count()  # force execution; rows live executor-side only
        man.compact_markers()

    done = man.committed()
    paths = [done[r.tile]["path"] for r in census
             if done.get(r.tile, {}).get("path")
             and Path(done[r.tile]["path"]).exists()]
    if not paths:
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).parquet(*paths) \
        .select(*[f.name for f in schema.fields])
