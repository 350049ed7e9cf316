"""Seeded inputs for the benchmark workloads.

Every table starts from ``synth.py``'s closed-form city and pages and
adds variation drawn from ``numpy.random.default_rng([seed, salt])``,
so the same seed always writes byte-identical parquet:

* city: a k x k grid (``synth.city_streets``) placed in the bottom-left
  corner of the scale's k_frame x k_frame frame, so ``pages.geocode_pages``
  (which sizes its frame from ``synth.SCALES``) lands the Zipf-hot
  pages on it. A fixed number of interior grid streets is removed and
  another fixed number retagged (sidewalk / width tags); POI clusters
  that trigger the Voronoi split land in seeded blocks.
* join side: sidewalk segments and kerb points in the layout of the
  engine's feature artifacts, so the page joins run without the
  geometry pipeline.
* pages: ``synth._write_pages``' rows, generated column-wise, plus
  recrawls of seeded URLs (some with a URL variant that
  ``canonicalize_url`` folds, some with updated text) and near-duplicate
  and exact-duplicate texts under new URLs.

Counts are fixed per size; only the choices vary with the seed, so the
work per run stays the same across seeds.
"""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from osm_sidewalkreator_spark import synth as SY
from osm_sidewalkreator_spark.geometry import wkb
from osm_sidewalkreator_spark.geometry.projection import tm_inverse

# markers ensure_synth() / artifacts.ensure_features() check before
# they would regenerate a scale
SYNTH_MARKER = "_SYNTH_OK_v2"
FEATURES_MARKER = "_FEATURES_OK_v4"
_M62 = np.uint64((1 << 62) - 1)
PAGES_ROW_GROUP = 50_000
_PROTECTED_EDGES = (0, 1, 2, 4, 7)  # tagged / duplicated by city_streets


def rng(seed: int, salt: int) -> np.random.Generator:
    return np.random.default_rng([int(seed), int(salt)])


# ---------------- city ----------------

def _street_table(feats: list[dict]) -> pa.Table:
    cols = {c: [] for c in ("osm_id", "highway", "width", "sidewalk",
                            "sidewalk_left", "sidewalk_right",
                            "sidewalk_both")}
    n_vert, ends, wkbs, tags = [], [], [], []
    for f in feats:
        xy = f["coords"]
        lon, lat = tm_inverse(xy[:, 0], xy[:, 1], SY.CITY_LON0, SY.CITY_LAT0)
        wkbs.append(wkb.linestring_wkb(np.column_stack([lon, lat])))
        for c in cols:
            cols[c].append(f[c])
        n_vert.append(len(xy))
        ends.append((xy[0, 0], xy[0, 1], xy[-1, 0], xy[-1, 1]))
        tags.append(list(f["tags"].items()))
    ends = np.array(ends, dtype=np.float64).reshape(-1, 4)
    return pa.table({
        **{c: pa.array(v, type=pa.string()) for c, v in cols.items()},
        "tags": pa.array(tags, type=pa.map_(pa.string(), pa.string())),
        "n_vertices": pa.array(n_vert, type=pa.int32()),
        "x1": ends[:, 0], "y1": ends[:, 1],
        "x2": ends[:, 2], "y2": ends[:, 3],
        "geometry": pa.array(wkbs, type=pa.binary()),
    })


def vary_streets(feats: list[dict], k: int, seed: int, n_remove: int,
                 n_retag: int) -> list[dict]:
    """Drop ``n_remove`` and retag ``n_retag`` seeded grid streets."""
    n_grid = 2 * k * (k - 1)
    cand = np.setdiff1d(np.arange(n_grid), _PROTECTED_EDGES)
    pick = rng(seed, 1).choice(cand, n_remove + n_retag, replace=False)
    drop = set(pick[:n_remove].tolist())
    retags = (("sidewalk", "no"), ("sidewalk", "right"),
              ("sidewalk", "both"), ("sidewalk_left", "no"),
              ("width", "4.5"), ("width", "14"))
    choice = rng(seed, 2).integers(0, len(retags), n_retag)
    out = [dict(f) for f in feats]
    for e, c in zip(pick[n_remove:], choice):
        key, val = retags[c]
        out[e][key] = val
    return [f for i, f in enumerate(out) if i not in drop]


def write_city(out: Path, *, k: int, k_frame: int, seed: int,
               n_remove: int, n_retag: int, n_poi_blocks: int) -> dict:
    """Write streets/blocks/buildings/addresses/aoi/dem for a k x k city
    whose node (0, 0) sits on node (0, 0) of the k_frame grid."""
    out.mkdir(parents=True, exist_ok=True)
    S = SY.SPACING
    half = (k_frame - 1) * S / 2          # frame half-width
    shift = (k - 1) * S / 2 - half        # city_streets centers at 0
    feats = SY.city_streets(k)["feats"]
    for f in feats:
        f["coords"] = f["coords"] + shift
    feats = vary_streets(feats, k, seed, n_remove, n_retag)
    streets = _street_table(feats)
    pq.write_table(streets, out / "streets.parquet")

    r, c = np.divmod(np.arange((k - 1) * (k - 1)), k - 1)
    x0, y0 = c * S - half, r * S - half
    pq.write_table(pa.table({
        "block_id": pa.array(r * (k_frame - 1) + c, type=pa.int64()),
        "xmin": x0, "ymin": y0, "xmax": x0 + S, "ymax": y0 + S,
        "geometry": pa.array([_rect_wkb(a, b, S, S) for a, b in
                              zip(x0, y0)], type=pa.binary()),
    }), out / "blocks.parquet")

    bl = []
    for a, b in zip(x0[(r + c) % 2 == 0], y0[(r + c) % 2 == 0]):
        bl += [_rect_wkb(a + 20, b + 20, 25, 18),
               _rect_wkb(a + 60, b + 55, 22, 28)]
    # two buildings hugging a street (< 1 m): the width-shrink trigger
    bl += [_rect_wkb(-half + 0.8, -half + 30, 15, 20),
           _rect_wkb(-half + 100.9, -half + 130, 15, 20)]
    pq.write_table(pa.table({
        "osm_id": pa.array([f"b{i}" for i in range(len(bl))]),
        "building": pa.array(["yes"] * len(bl)),
        "tags": pa.array([[]] * len(bl),
                         type=pa.map_(pa.string(), pa.string())),
        "geometry": pa.array(bl, type=pa.binary()),
    }), out / "buildings.parquet")

    # synth's two POI clusters plus seeded ones (>= 3 POIs in a block
    # trigger the per-block Voronoi split)
    blocks = [(0, 0, 4), (1, 1, 3)]
    extra = rng(seed, 3).choice(np.arange(2, (k - 1) * (k - 1)),
                                n_poi_blocks, replace=False)
    blocks += [(int(b // (k - 1)), int(b % (k - 1)), 3) for b in extra]
    px, py = [], []
    for br, bc, cnt in blocks:
        for t in range(cnt):
            px.append(bc * S - half + 20 + 18 * t)
            py.append(br * S - half + 30 + 11 * t)
    pq.write_table(pa.table({
        "osm_id": pa.array([f"a{i}" for i in range(len(px))]),
        "housenumber": pa.array([str(100 + i) for i in range(len(px))]),
        "x": pa.array(px, type=pa.float64()),
        "y": pa.array(py, type=pa.float64()),
        "geometry": pa.array([wkb.point_wkb(a, b) for a, b in zip(px, py)],
                             type=pa.binary()),
    }), out / "addresses.parquet")

    lo, hi = -half - 30.0, -half + (k - 1) * S + 30.0
    pq.write_table(pa.table({
        "name": ["synthetic_city"], "xmin": [lo], "ymin": [lo],
        "xmax": [hi], "ymax": [hi],
        "geometry": pa.array([_rect_wkb(lo, lo, hi - lo, hi - lo)],
                             type=pa.binary()),
    }), out / "aoi.parquet")

    g = np.arange(int(np.floor((lo - 20) / 10)), int(np.ceil((hi + 20) / 10)) + 1)
    cx, cy = (a.ravel() for a in np.meshgrid(g, g, indexing="ij"))
    pq.write_table(pa.table({
        "cell_x": pa.array(cx, type=pa.int32()),
        "cell_y": pa.array(cy, type=pa.int32()),
        "elev_m": 5 * np.sin(cx * 10 / 40.0) + 3 * np.cos(cy * 10 / 60.0),
    }), out / "dem.parquet")
    return {"streets": streets.num_rows, "blocks": len(x0),
            "buildings": len(bl), "addresses": len(px)}


def write_join_side(out: Path, *, k: int, seed: int, pieces: int = 5,
                    n_bare_blocks: int = 4) -> dict:
    """Sidewalk segments and kerb points in the layout of the engine's
    ``sidewalk_segments.parquet`` / ``kerbs_xy.parquet`` artifacts, so
    the join workload reads a join side without running the geometry
    pipeline: a ring inset 5-7 m (seeded) inside each block, each side
    cut into ``pieces`` segments, ``n_bare_blocks`` seeded blocks
    without sidewalks, and four kerbs around every interior node."""
    S = SY.SPACING
    half = (k - 1) * S / 2
    nb = (k - 1) * (k - 1)
    g = rng(seed, 4)
    bare = set(g.choice(nb, n_bare_blocks, replace=False).tolist())
    inset = 5.0 + 2.0 * g.random(nb)
    t = np.linspace(0.0, 1.0, pieces + 1)
    rows = []
    for b in range(nb):
        if b in bare:
            continue
        r, c = divmod(b, k - 1)
        d = inset[b]
        x0, y0 = c * S - half + d, r * S - half + d
        x1, y1 = x0 + S - 2 * d, y0 + S - 2 * d
        corners = [(x0, y0), (x1, y0), (x1, y1), (x0, y1), (x0, y0)]
        for (ax, ay), (bx, by) in zip(corners, corners[1:]):
            px, py = ax + t * (bx - ax), ay + t * (by - ay)
            for i in range(pieces):
                rows.append((b, px[i], py[i], px[i + 1], py[i + 1]))
    seg = np.array(rows, dtype=np.float64)
    blk = seg[:, 0].astype(np.uint64)
    idx = np.arange(len(seg), dtype=np.uint64)
    _write_dir(out / "sidewalk_segments.parquet", pa.table({
        "seg_id": pa.array((SY.splitmix64(idx) & _M62).astype(np.int64)),
        "fid": pa.array((SY.splitmix64(blk + np.uint64(1 << 40)) & _M62)
                        .astype(np.int64)),
        "ax": seg[:, 1], "ay": seg[:, 2], "bx": seg[:, 3], "by": seg[:, 4],
    }))
    i, j = (a.ravel() for a in np.meshgrid(np.arange(1, k - 1),
                                           np.arange(1, k - 1),
                                           indexing="ij"))
    node = np.repeat(np.arange(len(i), dtype=np.uint64), 4)
    q = np.tile(np.arange(4), len(i))
    dx = np.where(q % 2 == 0, -7.0, 7.0)
    dy = np.where(q < 2, -7.0, 7.0)
    kid = node * np.uint64(4) + q.astype(np.uint64)
    _write_dir(out / "kerbs_xy.parquet", pa.table({
        "fid": pa.array((SY.splitmix64(kid + np.uint64(1 << 41)) & _M62)
                        .astype(np.int64)),
        "crossing_fid": pa.array((SY.splitmix64(node + np.uint64(1 << 42))
                                  & _M62).astype(np.int64)),
        "x": np.repeat(i * S - half, 4) + dx,
        "y": np.repeat(j * S - half, 4) + dy,
    }))
    (out / FEATURES_MARKER).write_text("ok")
    return {"sidewalk_segments": len(seg), "kerbs": len(kid)}


def _write_dir(path: Path, table: pa.Table) -> None:
    """A one-part parquet directory, the layout Spark writes."""
    path.mkdir(parents=True, exist_ok=True)
    pq.write_table(table, path / "part-00000.parquet")


def _rect_wkb(x0: float, y0: float, w: float, h: float) -> bytes:
    return wkb.polygon_wkb(np.array([[x0, y0], [x0 + w, y0],
                                     [x0 + w, y0 + h], [x0, y0 + h],
                                     [x0, y0]], dtype=np.float64))


# ---------------- pages ----------------

_PAGES_SCHEMA = pa.schema([
    ("url", pa.string()),
    ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()),
    ("text", pa.string()),
    ("lang", pa.string()),
])
_BASE_TS = np.datetime64("2025-01-01T00:00:00", "us")
_LANGS = np.array(["en", "pt", "es", "de"], dtype=object)


def _token_lists(i: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """synth._write_pages' tokens for page ids ``i``, column-wise:
    (row offsets, flat vocab indices)."""
    i = i.astype(np.uint64)
    nw = 8 + (SY.splitmix64(i * np.uint64(3) + np.uint64(1))
              % np.uint64(25)).astype(np.int64)
    offsets = np.zeros(len(i) + 1, dtype=np.int64)
    np.cumsum(nw, out=offsets[1:])
    pos = np.arange(offsets[-1], dtype=np.int64) - np.repeat(offsets[:-1], nw)
    h = SY.splitmix64(pos.astype(np.uint64)
                      + np.repeat(i, nw) * np.uint64(131071))
    return offsets, (h % np.uint64(len(SY._VOCAB))).astype(np.int64)


def _join(offsets: np.ndarray, tok: np.ndarray) -> pa.Array:
    words = pa.array(SY._VOCAB.tolist(), type=pa.string()).take(
        pa.array(tok))
    return pc.binary_join(
        pa.ListArray.from_arrays(pa.array(offsets, type=pa.int32()), words),
        " ")


def _urls(i: np.ndarray) -> pa.Array:
    return pc.binary_join_element_wise(
        "https://site", pa.array(i % 1000).cast(pa.string()),
        ".example/p/", pa.array(i).cast(pa.string()), "")


def pages_table(n: int, seed: int, recrawl_frac: float = 0.0,
                neardup_frac: float = 0.0) -> pa.Table:
    """``n`` synth pages plus seeded recrawl and near-duplicate rows."""
    i = np.arange(n, dtype=np.int64)
    offsets, tok = _token_lists(i)
    urls = _urls(i)
    ts = _BASE_TS + i.astype("timedelta64[s]").astype("timedelta64[us]")
    lang = _LANGS[i % 4]
    parts = [(urls, ts, offsets, tok, lang)]

    m = int(round(n * recrawl_frac))
    if m:
        g = rng(seed, 10)
        src = np.sort(g.choice(n, m, replace=False))
        kind = g.integers(0, 4, m)
        u = urls.take(pa.array(src))
        # 0: same url; 1: www. host; 2: #fragment; 3: trailing slash
        u = pc.if_else(pa.array(kind == 1), pc.replace_substring(
            u, "https://", "https://www."), u)
        u = pc.if_else(pa.array(kind == 2),
                       pc.binary_join_element_wise(u, "#top", ""), u)
        u = pc.if_else(pa.array(kind == 3),
                       pc.binary_join_element_wise(u, "/", ""), u)
        lag = g.integers(1, 90, m).astype("timedelta64[D]").astype("timedelta64[us]")
        so, st = _token_lists(src)
        # half of the recrawls changed: one extra token at the end
        grow = g.random(m) < 0.5
        add = g.integers(0, len(SY._VOCAB), m)
        so2, st2 = _append(so, st, grow, add)
        parts.append((u, ts[src] + lag, so2, st2, lang[src]))

    m = int(round(n * neardup_frac))
    if m:
        g = rng(seed, 11)
        src = np.sort(g.choice(n, m, replace=False))
        so, st = _token_lists(src)
        nw = np.diff(so)
        # a third stay exact copies; the rest swap one token
        edit = g.random(m) >= 1 / 3
        at = so[:-1] + (g.random(m) * nw).astype(np.int64)
        new = (st[at] + g.integers(1, len(SY._VOCAB), m)) % len(SY._VOCAB)
        st = st.copy()
        st[at[edit]] = new[edit]
        j = np.arange(n, n + m, dtype=np.int64)
        parts.append((_urls(j), _BASE_TS + j.astype("timedelta64[s]")
                      .astype("timedelta64[us]"), so, st, _LANGS[src % 4]))

    cols = list(zip(*parts))
    text = pa.concat_arrays([_join(o, t) for o, t in zip(cols[2], cols[3])])
    html = pc.binary_join_element_wise(
        "<html><body>", text, "</body></html>", "").cast(pa.binary())
    return pa.table({
        "url": pa.concat_arrays(list(cols[0])),
        "warc_ts": pa.array(np.concatenate(cols[1]),
                            type=pa.timestamp("us", tz="UTC")),
        "html": html,
        "text": text,
        "lang": pa.array(np.concatenate(cols[4]), type=pa.string()),
    }, schema=_PAGES_SCHEMA)


def _append(offsets, tok, mask, add):
    """Append token ``add[r]`` to every row r where ``mask[r]``."""
    nw = np.diff(offsets) + mask
    new_off = np.zeros_like(offsets)
    np.cumsum(nw, out=new_off[1:])
    out = np.empty(new_off[-1], dtype=np.int64)
    keep = np.ones(len(out), dtype=bool)
    keep[new_off[1:][mask] - 1] = False
    out[keep] = tok
    out[~keep] = add[mask]
    return new_off, out


def write_pages(path: Path, table: pa.Table) -> int:
    path.parent.mkdir(parents=True, exist_ok=True)
    pq.write_table(table, path, row_group_size=PAGES_ROW_GROUP)
    return table.num_rows
