"""Seeded input generators for the end-to-end benchmark.

Every generator is a pure function of its seed (numpy PCG64), so the same
`--seed` gives byte-identical inputs. The program under test only ever
sees the parquet files written here; the generators also return the
facts the output checks need (pinned dirty-row counts, the polygon
rectangles).

Pages (`gen_pages`): url, warc_ts, html, text, lang, track_id, seq.
- ~50% of rows sit in a few hot cells (tight jitter around fixed centers);
- dirty rows at pinned rates: out of bounds, null island, no coordinates;
- ~30% of rows are track points carrying `track_id` and an independent
  `seq` order column (the QC windows need both), with a reversed-timestamp
  run per track so the monotonic repair has work. Track steps stay below
  20 m, so no distance jump fires even across repaired-timestamp ties and
  every coordinate that survives the bounds/island QC stays valid.

Polygons (`gen_polygons`): axis-aligned rectangles only, so an independent
SQL restatement of the half-open even-odd rule is exact. Metro and large
interior rectangles hit the FULL-cell fast path; small rectangles cut
through each hot cluster and force the exact refine. Bounds carry 9 decimals while
coordinates are printed with 6, so no point ever sits on an edge.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

LANGS = np.array(["en", "es", "de", "fr", "zh", "pt", "it", "nl"])
LANG_P = np.array([0.38, 0.17, 0.12, 0.10, 0.09, 0.06, 0.05, 0.03])

HOT_CENTERS = np.array([(40.7128, -74.0061), (51.5072, -0.1276), (35.6762, 139.6503), (-33.8688, 151.2093)])
HOT_JITTER_DEG = 0.004
HOT_FRACTION = 0.5
TRACK_FRACTION = 0.3
TRACK_LEN = 50

# pinned dirty-row rates (share of all rows, placed among non-track rows)
OOB_RATE = 0.01
ISLAND_RATE = 0.005
NOCOORD_RATE = 0.05

BASE_TS = np.datetime64("2024-03-01T00:00:00", "us")


def _fmt_coord(v: float) -> str:
    return f"{v:.6f}"


def gen_pages(n_rows: int, seed: int, with_tracks: bool = True, url_prefix: str = "p") -> tuple[pd.DataFrame, dict]:
    """Pages table plus its pinned facts: {'n_rows', 'n_dirty', 'n_valid'}.

    Without tracks (stream files) the table has the streaming schema's
    columns only (url, warc_ts, text, lang)."""
    rng = np.random.default_rng(seed)
    lat = np.empty(n_rows)
    lon = np.empty(n_rows)
    track_id = np.full(n_rows, None, dtype=object)
    seq = np.full(n_rows, -1, dtype=np.int64)
    ts_off_s = rng.integers(0, 86_400 * 30, n_rows)

    n_track_rows = (int(n_rows * TRACK_FRACTION) // TRACK_LEN) * TRACK_LEN if with_tracks else 0
    for t in range(n_track_rows // TRACK_LEN):
        sl = slice(t * TRACK_LEN, (t + 1) * TRACK_LEN)
        lat0, lon0 = rng.uniform(-60, 60), rng.uniform(-170, 170)
        heading = rng.uniform(0, 2 * np.pi) + np.cumsum(rng.normal(0, 0.1, TRACK_LEN))
        step = rng.uniform(5, 20, TRACK_LEN) / 111_320.0
        lat[sl] = lat0 + np.cumsum(step * np.cos(heading))
        lon[sl] = lon0 + np.cumsum(step * np.sin(heading) / np.cos(np.radians(lat0)))
        track_id[sl] = f"trk{seed}-{t}"
        seq[sl] = np.arange(TRACK_LEN)
        t0 = int(rng.integers(0, 86_400 * 30))
        ts = t0 + np.arange(TRACK_LEN)
        mid = TRACK_LEN // 2
        ts[mid : mid + 3] = ts[mid : mid + 3][::-1] - 5  # reversed run -> monotonic repair
        ts_off_s[sl] = ts

    rest = np.arange(n_track_rows, n_rows)
    rng.shuffle(rest)
    n_oob = round(n_rows * OOB_RATE)
    n_island = round(n_rows * ISLAND_RATE)
    n_nocoord = round(n_rows * NOCOORD_RATE)
    n_hot = min(round(n_rows * HOT_FRACTION), len(rest) - n_oob - n_island - n_nocoord)
    oob, rest = rest[:n_oob], rest[n_oob:]
    island, rest = rest[:n_island], rest[n_island:]
    nocoord, rest = rest[:n_nocoord], rest[n_nocoord:]
    hot, uniform = rest[:n_hot], rest[n_hot:]

    centers = HOT_CENTERS[rng.integers(0, len(HOT_CENTERS), len(hot))]
    lat[hot] = centers[:, 0] + rng.uniform(-HOT_JITTER_DEG, HOT_JITTER_DEG, len(hot))
    lon[hot] = centers[:, 1] + rng.uniform(-HOT_JITTER_DEG, HOT_JITTER_DEG, len(hot))
    lat[uniform] = rng.uniform(-80, 80, len(uniform))
    lon[uniform] = rng.uniform(-179, 179, len(uniform))
    lat[oob] = rng.uniform(90.5, 99.0, len(oob)) * rng.choice([-1, 1], len(oob))
    lon[oob] = rng.uniform(-179, 179, len(oob))
    lat[island] = 0.0
    lon[island] = 0.0

    filler_words = np.array(["sonar", "ping", "echo", "depth", "survey", "cruise", "beam", "swath"])
    fill = rng.choice(filler_words, (n_rows, 3))
    no_geo = np.zeros(n_rows, dtype=bool)
    no_geo[nocoord] = True
    urls = [f"https://{url_prefix}.example/{seed}/{i}" for i in range(n_rows)]
    texts = [
        f"url={u} {' '.join(f)} no-geo"
        if ng
        else f"url={u} lat={_fmt_coord(la)} lon={_fmt_coord(lo)} {' '.join(f)}"
        for u, la, lo, ng, f in zip(urls, lat, lon, no_geo, fill)
    ]
    df = pd.DataFrame(
        {
            "url": urls,
            "warc_ts": (BASE_TS + ts_off_s.astype("timedelta64[s]")).astype("datetime64[us]"),
            "text": texts,
            "lang": rng.choice(LANGS, n_rows, p=LANG_P),
        }
    )
    if with_tracks:
        magic = rng.choice(np.array([b"CON0", b"XML0", b"ZZZZ"], dtype=object), n_rows)
        df.insert(2, "html", [b"<h>" + m + b"</h>" for m in magic])
        df["track_id"] = track_id
        df["seq"] = pd.array(np.where(seq >= 0, seq, 0), dtype="Int64")
        df.loc[seq < 0, "seq"] = pd.NA
    n_dirty = n_oob + n_island + n_nocoord
    return df, {"n_rows": n_rows, "n_dirty": n_dirty, "n_valid": n_rows - n_dirty}


def gen_polygons(seed: int, n_large: int = 8) -> pd.DataFrame:
    """Rectangles (polygon_id, name, wkt, min_lon, min_lat, max_lon, max_lat):
    per hot center a metro rectangle holding its cluster and a small one
    cutting through it, plus `n_large` big interior rectangles."""
    rng = np.random.default_rng(seed + 7919)
    # a metro rectangle around each hot center holds its whole cluster, so
    # half of all rows get an assignment and the output is not dwarfed by
    # per-file and per-batch fixed bytes
    rects = []
    for la, lo in HOT_CENTERS:
        hw, hh = rng.uniform(1.5, 2.5, 2)
        rects.append(("metro", lo - hw, la - hh, lo + hw, la + hh))
    for _ in range(n_large):
        w, h = rng.uniform(8, 30), rng.uniform(6, 25)
        x0, y0 = rng.uniform(-175, 175 - w), rng.uniform(-75, 75 - h)
        rects.append(("large", x0, y0, x0 + w, y0 + h))
    for la, lo in HOT_CENTERS:
        # cover roughly the south-west half of the jittered cluster
        x0 = lo - HOT_JITTER_DEG * rng.uniform(1.2, 1.6)
        y0 = la - HOT_JITTER_DEG * rng.uniform(1.2, 1.6)
        rects.append(("hot", x0, y0, lo + HOT_JITTER_DEG * rng.uniform(-0.3, 0.3), la + HOT_JITTER_DEG * rng.uniform(-0.3, 0.3)))
    rows = []
    for pid, (kind, x0, y0, x1, y1) in enumerate(rects, start=1):
        x0, y0, x1, y1 = (round(v, 9) + 3e-10 for v in (x0, y0, x1, y1))
        ring = [(x0, y0), (x1, y0), (x1, y1), (x0, y1), (x0, y0)]
        wkt = "POLYGON ((" + ", ".join(f"{x:.10f} {y:.10f}" for x, y in ring) + "))"
        rows.append((pid, f"{kind}-{pid}", wkt, x0, y0, x1, y1))
    return pd.DataFrame(rows, columns=["polygon_id", "name", "wkt", "min_lon", "min_lat", "max_lon", "max_lat"])


def write_parquet(df: pd.DataFrame, path: str) -> int:
    """Write one parquet file; returns its size in bytes."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    df.to_parquet(path, index=False)
    return os.path.getsize(path)
