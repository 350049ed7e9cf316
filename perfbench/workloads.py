"""The two workloads, each driven through the program's entry points.

A workload writes its seeded inputs (``prepare``), then runs timed
passes (``run_pass``); each pass returns its output checks. Timed
phases run inside ``meter.phase(name)``, which records wall time,
process-tree CPU and peak RSS.

* ``sidewalk_job``: ``job.main`` into an empty directory, a simulated
  crash that removes a seeded share of committed tiles (marker,
  manifest row and tile parquet), then ``job.main`` again.
* ``pages``: ``pages.geocode_pages``, ``joins.pip_join_points_rects``,
  ``joins.knn_join_points_segments`` over every page and
  ``__spark_entry__.q_dem_kerb_slope``; then ``job_curate.main --table
  pages`` on a second seeded pages table.
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import shutil
import statistics
import sys
import time
from pathlib import Path

import duckdb
import pyarrow.parquet as pq

import gen

DEFAULT_SEED = 0
EXPECTED = Path(__file__).resolve().parent / "expected.json"

# input sizes: "full" is what the benchmark measures, "small" is the
# smoke-test scale. The page tables are large enough that join and
# curation work, not only the cold session's fixed cost, fills a pass.
SIZES = {
    "sidewalk_job": {
        "full": dict(k=8, pages=10_000, n_remove=4, n_retag=6,
                     n_poi_blocks=3, drop_share=0.25, replay_tiles=4),
        "small": dict(k=6, pages=2_000, n_remove=2, n_retag=3,
                      n_poi_blocks=2, drop_share=0.25, replay_tiles=2),
    },
    "pages": {
        "full": dict(k=12, pages=40_000, n_remove=4, n_retag=8,
                     n_poi_blocks=4, recrawl=0.1, neardup=0.05,
                     curate_pages=8_000, curate_neardup=0.1),
        "small": dict(k=12, pages=3_000, n_remove=4, n_retag=8,
                      n_poi_blocks=4, recrawl=0.1, neardup=0.05,
                      curate_pages=1_000, curate_neardup=0.1),
    },
}


def quiet():
    """The entry points print their own metrics JSON; keep stdout for
    the benchmark's result line."""
    return contextlib.redirect_stdout(sys.stderr)


def reset_program_caches(spark) -> None:
    """Drop the program's driver-side module caches and cached
    DataFrames, as a fresh spark-submit would start."""
    from osm_sidewalkreator_spark.geometry import noding
    from osm_sidewalkreator_spark.plans import pipeline as PL
    release = getattr(PL, "release_cached", None)
    if release is not None:
        release()
    for mod, name in ((PL, "_LPT_MAP_CACHE"), (PL, "_BUCKET_ID_CACHE"),
                      (noding, "_triu_store")):
        cache = getattr(mod, name, None)
        if cache is not None:
            cache.clear()
    if hasattr(noding, "_triu_store_bytes"):
        noding._triu_store_bytes = 0
    spark.catalog.clearCache()


def parquet_glob(path: Path) -> str:
    return f"read_parquet('{path}/**/*.parquet', hive_partitioning=true)"


def digest(con, path: Path, group: str | None = None) -> dict:
    """Order-independent content digest of a parquet output."""
    src = parquet_glob(path)
    if group is None:
        n, h = con.execute(f"SELECT count(*), sum(hash(t))::VARCHAR "
                           f"FROM {src} t").fetchone()
        return {"rows": n, "hash": h}
    rows = con.execute(f"SELECT {group}, count(*), sum(hash(t))::VARCHAR "
                       f"FROM {src} t GROUP BY 1 ORDER BY 1").fetchall()
    return {str(g): {"rows": n, "hash": h} for g, n, h in rows}


def expected_digest(workload: str, seed: int, size: str,
                    got: dict | None) -> list:
    """The default-seed digest check; with nothing recorded yet, print
    the digest for ``expected.json`` instead."""
    if seed != DEFAULT_SEED or size != "full" or got is None:
        return []
    want = (json.loads(EXPECTED.read_text()).get(workload)
            if EXPECTED.exists() else None)
    if want is None:
        print(f"[{workload}] digest to record: {json.dumps(got)}",
              file=sys.stderr)
        return []
    return [("digest_as_recorded", got == want, got)]


class Workload:
    name = ""
    items_phase: str | None = None   # the phase items_per_s divides by

    def __init__(self, spark, work: Path, synth_root: Path, seed: int,
                 size: str):
        self.spark = spark
        self.work = work
        self.synth_root = synth_root
        self.seed = seed
        self.size = size
        self.cfg = SIZES[self.name][size]
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        self.con.execute(f"SET temp_directory = '{work / 'tmp'}'")
        self.first: dict | None = None   # first pass's output digests
        self.counts: dict[str, float] = {}
        self.spans = None                # set for traced passes

    def span(self, name: str):
        if self.spans is None:
            return contextlib.nullcontext()
        return self.spans.span(name)

    def finish(self, trace: bool) -> None:
        """Untimed work after the timed passes."""

    def check_same(self, checks: list, got: dict) -> None:
        """Every pass must write what the first pass wrote."""
        if self.first is None:
            self.first = got
        checks.append(("same_as_first_pass", got == self.first, got))

    def final_checks(self) -> list:
        return []

    def replay(self, spans) -> int:
        return 0


class SidewalkJob(Workload):
    name = "sidewalk_job"
    items_phase = "job_s"

    def prepare(self) -> dict:
        from osm_sidewalkreator_spark import synth as SY
        c = self.cfg
        self.sf = self.synth_root / "sf0.1"
        shutil.rmtree(self.sf, ignore_errors=True)
        sizes = gen.write_city(self.sf, k=c["k"],
                               k_frame=SY.SCALES["sf0.1"]["k"],
                               seed=self.seed, n_remove=c["n_remove"],
                               n_retag=c["n_retag"],
                               n_poi_blocks=c["n_poi_blocks"])
        sizes["pages"] = gen.write_pages(
            self.sf / "pages.parquet",
            gen.pages_table(c["pages"], self.seed, 0.1, 0.05))
        (self.sf / gen.SYNTH_MARKER).write_text("ok")
        for name in ("streets", "blocks", "buildings", "addresses", "pages"):
            n = pq.read_metadata(self.sf / f"{name}.parquet").num_rows
            if n != sizes[name]:
                raise RuntimeError(f"{name}: wrote {sizes[name]}, read {n}")
        self.out = self.work / "job_out"
        return sizes

    def _job(self) -> None:
        import job
        with quiet():
            job.main(["--sf-dir", str(self.sf), "--out", str(self.out)])

    def _tiled(self):
        """job.main's input prefix, rebuilt from the public functions."""
        from pyspark.sql import functions as F

        from osm_sidewalkreator_spark import params as P
        from osm_sidewalkreator_spark.operators.tiling import cover_cells
        from osm_sidewalkreator_spark.plans import pipeline as PL
        spark, sf = self.spark, str(self.sf)
        streets = PL.assign_widths(
            PL.clip_to_aoi(PL.load_streets(spark, sf), spark, sf))
        segs = PL.clip_segments_to_rect(
            PL.street_segments_tm(streets),
            spark.read.parquet(str(self.sf / "aoi.parquet")))
        tiled = segs.withColumn("tile", F.explode(cover_cells(
            F.least("ax", "bx"), F.least("ay", "by"),
            F.greatest("ax", "bx"), F.greatest("ay", "by"),
            P.TILE_SIZE_M, pad=P.TILE_HALO_M)))
        return segs, tiled

    def finish(self, trace: bool) -> None:
        """Count the clipped street segments (items) after the timed
        passes, so the count does not warm the scan path first."""
        segs, tiled = self._tiled()
        self.items = segs.count()
        if trace:
            self.counts["pipeline.halo_ratio"] = tiled.count() / self.items

    def _manifest(self) -> list[dict]:
        path = self.out / "job_state" / "manifest.jsonl"
        return [json.loads(x) for x in path.read_text().splitlines() if x]

    def _outputs(self) -> dict:
        geo = (self.out / "sidewalks_josm.geojson").read_bytes()
        return {"features": digest(self.con, self.out / "features_4326",
                                   "kind"),
                "geojson_sha256": hashlib.sha256(geo).hexdigest(),
                "pages_per_block": digest(self.con,
                                          self.out / "pages_per_block")}

    def crash(self, i: int) -> list[int]:
        """Remove a seeded share of committed tiles: their markers,
        manifest rows and tile parquet."""
        state = self.out / "job_state"
        rows = self._manifest()
        n = max(1, round(self.cfg["drop_share"] * len(rows)))
        pick = gen.rng(self.seed, 1000 + i).choice(len(rows), n,
                                                   replace=False)
        drop = {rows[j]["tile"] for j in pick}
        for r in rows:
            if r["tile"] in drop:
                if r.get("path"):
                    Path(r["path"]).unlink(missing_ok=True)
                (state / "markers" / f"{r['tile']}.json").unlink(
                    missing_ok=True)
        keep = [json.dumps(r) for r in rows if r["tile"] not in drop]
        (state / "manifest.jsonl").write_text("".join(x + "\n" for x in keep))
        return sorted(drop)

    def run_pass(self, i: int, meter) -> list:
        shutil.rmtree(self.out, ignore_errors=True)
        reset_program_caches(self.spark)
        with meter.phase("job_s"):
            self._job()
        fresh = self._outputs()
        rows = self._manifest()
        secs = [r["seconds"] for r in rows]
        self.counts.update({
            "checkpoint.tiles_committed": len(rows),
            "checkpoint.tile_s_p50": statistics.median(secs),
            "checkpoint.tile_s_max": max(secs),
        })
        dropped = self.crash(i)
        t_crash = time.time()
        reset_program_caches(self.spark)
        with meter.phase("resume_s"):
            self._job()
        resumed = self._outputs()
        redone = [r["tile"] for r in self._manifest()
                  if r["committed_at"] >= t_crash]
        self.counts["checkpoint.tiles_recomputed"] = len(redone)
        checks = [("resume_equals_fresh", resumed == fresh, None),
                  ("recomputed_equals_dropped",
                   sorted(redone) == dropped, (len(redone), len(dropped))),
                  ("features_nonempty",
                   sum(v["rows"] for v in fresh["features"].values()) > 0,
                   None)]
        self.check_same(checks, fresh)
        return checks

    def final_checks(self) -> list:
        return expected_digest(self.name, self.seed, self.size, self.first
                               and {"features": self.first["features"]})

    def replay(self, spans) -> int:
        """Run a seeded sample of tiles through ``make_tile_kernel`` in
        this process with the kernel-stage spans installed."""
        from pyspark.sql import functions as F

        from osm_sidewalkreator_spark import params as P
        from osm_sidewalkreator_spark.plans import pipeline as PL
        from tracing import KernelStages
        tiles_all = sorted(r["tile"] for r in self._manifest())
        n = min(self.cfg["replay_tiles"], len(tiles_all))
        sample = sorted(gen.rng(self.seed, 2000).choice(
            tiles_all, n, replace=False).tolist())
        _, tiled = self._tiled()
        seg_pdf = tiled.filter(F.col("tile").isin(sample)).toPandas()
        ctx = PL.load_context_tiled(self.spark, str(self.sf), P.TILE_SIZE_M,
                                    P.TILE_HALO_M)
        ctx_pdf = ctx.filter(F.col("tile").isin(sample)).toPandas()
        segs_by = dict(tuple(seg_pdf.groupby("tile")))
        ctx_by = dict(tuple(ctx_pdf.groupby("tile")))
        # job.main's pipe_opts defaults
        kernel = PL.make_tile_kernel(P.TILE_SIZE_M, dangle_iterations=1,
                                     max_split_len=None,
                                     enlarge_crossings=False,
                                     export_snap=False)
        reset_program_caches(self.spark)
        stages = KernelStages(spans)
        stages.install()
        try:
            for t in sample:
                g = segs_by[t].reset_index(drop=True)
                c = ctx_by.get(t)
                c = c.reset_index(drop=True) if c is not None else \
                    ctx_pdf.iloc[:0]
                with spans.span("kernels.tile_pipeline"):
                    kernel((t,), g, c)
        finally:
            stages.remove()
        return n


class Pages(Workload):
    """Page-side work on the ``pages`` input_hint table: the joins
    (geocode, PIP, kNN over every page, DEM slope) on one seeded table,
    then ``job_curate.main --table pages`` on another."""
    name = "pages"

    def prepare(self) -> dict:
        c = self.cfg
        self.sf = self.synth_root / "sf0.01"
        shutil.rmtree(self.sf, ignore_errors=True)
        sizes = gen.write_city(self.sf, k=c["k"], k_frame=c["k"],
                               seed=self.seed, n_remove=c["n_remove"],
                               n_retag=c["n_retag"],
                               n_poi_blocks=c["n_poi_blocks"])
        sizes["pages"] = gen.write_pages(
            self.sf / "pages.parquet",
            gen.pages_table(c["pages"], self.seed, c["recrawl"],
                            c["neardup"]))
        sizes.update(gen.write_join_side(self.sf, k=c["k"], seed=self.seed))
        (self.sf / gen.SYNTH_MARKER).write_text("ok")
        self.input = self.work / "curate_in"
        shutil.rmtree(self.input, ignore_errors=True)
        # a different seed stream from the join pages
        sizes["curate_pages"] = gen.write_pages(
            self.input / "pages.parquet",
            gen.pages_table(c["curate_pages"], self.seed + 7919,
                            c["recrawl"], c["curate_neardup"]))
        for path, n in ((self.sf / "pages.parquet", sizes["pages"]),
                        (self.input / "pages.parquet", sizes["curate_pages"])):
            if pq.read_metadata(path).num_rows != n:
                raise RuntimeError(f"{path.name}: row count mismatch")
        self.curate_rows = sizes["curate_pages"]
        self.items = sizes["pages"] + sizes["curate_pages"]
        self.out = self.work / "joins_out"
        self.curate_out = self.work / "curate_out"
        return sizes

    def run_pass(self, i: int, meter) -> list:
        checks = self._joins(meter)
        checks += self._curate(meter)
        got = {"joins": self._join_digests(), "curate": self._curate_digests()}
        self.check_same(checks, got)
        return checks

    def _joins(self, meter) -> list:
        from pyspark.sql import functions as F

        import __spark_entry__ as E
        from osm_sidewalkreator_spark import params as P
        from osm_sidewalkreator_spark.operators import joins as J
        from osm_sidewalkreator_spark.pages import geocode_pages, load_pages
        spark, sf, span = self.spark, str(self.sf), self.span
        shutil.rmtree(self.out, ignore_errors=True)
        reset_program_caches(spark)
        geo_path = str(self.sf / "pages_geo.parquet")
        with meter.phase("geocode_s"), span("pages.geocode"):
            (geocode_pages(load_pages(spark, sf), sf)
             .select("url", "lang", "x", "y", "lon", "lat")
             .coalesce(4).write.mode("overwrite").parquet(geo_path))
        with meter.phase("pip_s"), span("joins.pip"):
            pages = spark.read.parquet(geo_path).select("url", "x", "y")
            blocks = spark.read.parquet(str(self.sf / "blocks.parquet"))
            (J.pip_join_points_rects(pages, blocks, cell_size=P.CELL_SIZE_M)
             .select("url", "block_id")
             .write.parquet(str(self.out / "pip")))
        with meter.phase("knn_s"), span("joins.knn"):
            pages = spark.read.parquet(geo_path).select("url", "x", "y")
            segs = spark.read.parquet(
                str(self.sf / "sidewalk_segments.parquet")).select(
                "seg_id", "ax", "ay", "bx", "by")
            (J.knn_join_points_segments(pages, segs, k=1,
                                        max_dist=P.KNN_MAX_DIST,
                                        cell_size=P.CELL_SIZE_M)
             .select("url", "seg_id",
                     (F.round(F.col("dist"), 6) + 0.0).alias("dist_m"))
             .write.parquet(str(self.out / "knn")))
        with meter.phase("dem_s"), span("entry.dem"):
            E.q_dem_kerb_slope(spark, sf).write.parquet(
                str(self.out / "dem"))
        return []

    def _join_digests(self) -> dict:
        return {k: digest(self.con, self.out / k) for k in ("pip", "knn", "dem")}

    def _curate(self, meter) -> list:
        import job_curate
        shutil.rmtree(self.curate_out, ignore_errors=True)
        reset_program_caches(self.spark)
        with meter.phase("curate_s"), quiet():
            job_curate.main(["--sf-dir", str(self.input), "--table", "pages",
                             "--out", str(self.curate_out)])
        m = json.loads((self.curate_out / "metrics.json").read_text())
        return [("curate_pages_raw", m.get("pages_raw") == self.curate_rows,
                 m.get("pages_raw")),
                ("near_dups_dropped", m.get("near_dup_docs_dropped", 0) > 0,
                 m.get("near_dup_docs_dropped")),
                ("chunks_written", m.get("chunks", 0) > 0, m.get("chunks"))]

    def _curate_digests(self) -> dict:
        return {k: digest(self.con, self.curate_out / k)
                for k in ("chunks", "cluster_map")}

    def final_checks(self) -> list:
        """The last pass's join rows against the DuckDB oracles of
        ``__spark_entry__.oracle_sql()``, re-pointed at this seed's
        parquet; for the default seed, the curation digest recorded at
        the seed commit."""
        import __spark_entry__ as E
        saved = E.SP
        E.SP = str(self.sf)
        try:
            sql = E.oracle_sql()
        finally:
            E.SP = saved
        pairs = {
            "pip": (sql["q_pip_pages_blocks"],
                    f"SELECT url, block_id FROM {parquet_glob(self.out / 'pip')}"),
            "knn": (sql["q_knn_pages_sidewalks"],
                    f"SELECT url, seg_id, dist_m FROM "
                    f"{parquet_glob(self.out / 'knn')} WHERE url LIKE '%00'"),
            "dem": (sql["q_dem_kerb_slope"],
                    f"SELECT fid, slope_pct FROM {parquet_glob(self.out / 'dem')}"),
        }
        checks = []
        for name, (oracle, ours) in pairs.items():
            diff = self.con.execute(
                f"SELECT (SELECT count(*) FROM (({oracle}) EXCEPT ALL ({ours}))),"
                f" (SELECT count(*) FROM (({ours}) EXCEPT ALL ({oracle}))),"
                f" (SELECT count(*) FROM ({ours}))").fetchone()
            checks.append((f"{name}_equals_oracle",
                           diff[0] == 0 and diff[1] == 0 and diff[2] > 0,
                           diff))
        return checks + expected_digest(
            self.name, self.seed, self.size,
            self.first and {"chunks": self.first["curate"]["chunks"]})


WORKLOADS = {w.name: w for w in (SidewalkJob, Pages)}

