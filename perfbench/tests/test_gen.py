"""The seeded input generator: deterministic per seed, faithful to
synth.py where it adds no variation."""

import hashlib

import pyarrow.parquet as pq
import pytest

import gen
from osm_sidewalkreator_spark import synth as SY

TABLES = ("streets", "blocks", "buildings", "addresses", "aoi", "dem")


def _city_bytes(path, seed, **kw):
    gen.write_city(path, k=8, k_frame=120, seed=seed, n_remove=3,
                   n_retag=5, n_poi_blocks=2, **kw)
    gen.write_join_side(path, k=8, seed=seed)
    files = [path / f"{t}.parquet" for t in TABLES] + [
        path / "sidewalk_segments.parquet" / "part-00000.parquet",
        path / "kerbs_xy.parquet" / "part-00000.parquet"]
    return {str(f.relative_to(path)): hashlib.sha256(f.read_bytes()).hexdigest()
            for f in files}


def test_city_is_deterministic_per_seed(tmp_path):
    a = _city_bytes(tmp_path / "a", 5)
    b = _city_bytes(tmp_path / "b", 5)
    c = _city_bytes(tmp_path / "c", 6)
    assert a == b
    assert a["streets.parquet"] != c["streets.parquet"]
    assert a["sidewalk_segments.parquet/part-00000.parquet"] != \
        c["sidewalk_segments.parquet/part-00000.parquet"]


def test_pages_are_deterministic_per_seed():
    a = gen.pages_table(2000, 3, 0.1, 0.05)
    assert a.equals(gen.pages_table(2000, 3, 0.1, 0.05))
    assert not a.equals(gen.pages_table(2000, 4, 0.1, 0.05))
    assert a.num_rows == 2000 + 200 + 100


def test_base_pages_match_synth(tmp_path):
    SY._write_pages(tmp_path, 1500)
    assert pq.read_table(tmp_path / "pages.parquet").equals(
        gen.pages_table(1500, 0))


def test_recrawls_and_near_dups():
    n = 1000
    t = gen.pages_table(n, 9, recrawl_frac=0.1, neardup_frac=0.1)
    urls = t.column("url").to_pylist()
    texts = t.column("text").to_pylist()
    base = set(texts[:n])
    recrawl = urls[n:n + 100]
    # every recrawl URL is a variant of a base URL
    assert all(u.replace("www.", "").rstrip("/").removesuffix("#top")
               in set(urls[:n]) for u in recrawl)
    near = texts[n + 100:]
    assert len(near) == 100
    exact = sum(x in base for x in near)
    assert 0 < exact < 100    # a third stay exact copies


def test_city_matches_synth_without_variation(tmp_path, monkeypatch):
    monkeypatch.setattr(SY, "SYNTH_ROOT", tmp_path / "synth")
    SY.ensure_synth("sf0.01")
    ours = tmp_path / "ours"
    gen.write_city(ours, k=12, k_frame=12, seed=0, n_remove=0, n_retag=0,
                   n_poi_blocks=0)
    for name in ("blocks", "buildings", "aoi", "addresses"):
        a = pq.read_table(ours / f"{name}.parquet")
        b = pq.read_table(tmp_path / "synth" / "sf0.01" / f"{name}.parquet")
        assert a.equals(b), name
    a = pq.read_table(ours / "streets.parquet")
    b = pq.read_table(tmp_path / "synth" / "sf0.01" / "streets.parquet")
    for col in ("osm_id", "highway", "width", "geometry", "x1", "y2"):
        assert a.column(col).equals(b.column(col)), col


@pytest.mark.parametrize("n_remove,n_retag", [(0, 0), (4, 6)])
def test_street_variation_counts(n_remove, n_retag):
    feats = SY.city_streets(8)["feats"]
    out = gen.vary_streets(feats, 8, 1, n_remove, n_retag)
    assert len(out) == len(feats) - n_remove
    changed = sum(1 for f in out
                  if f["osm_id"] not in ("w0", "w1", "w2")
                  and (f["sidewalk"] or f["sidewalk_left"]
                       or f["width"] in ("4.5", "14")))
    assert changed == n_retag
