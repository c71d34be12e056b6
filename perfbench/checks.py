"""Output checks, computed apart from the program under test.

The expected results are restated in DuckDB SQL straight from the
documented rules, over the generated input files:

- coordinates are the `lat=<num> lon=<num>` mentions in the page text;
- QC nulls a coordinate pair that is out of range or within 1e-3 degrees
  of (0, 0) (null island);
- a point is inside an axis-aligned rectangle under the even-odd ray
  cast with the half-open edge convention, which for a rectangle is
  `min <= v < max` on both axes.

Each check returns a list of failure messages; an empty list passes.
"""

from __future__ import annotations

import glob
import json
import os

import duckdb
import pandas as pd

_LAT = r"regexp_extract(text, 'lat=(-?\d+\.\d+)', 1)"
_LON = r"regexp_extract(text, 'lon=(-?\d+\.\d+)', 1)"


def _con(polygons: pd.DataFrame) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.register("rects_df", polygons[["polygon_id", "min_lon", "min_lat", "max_lon", "max_lat"]])
    con.execute("CREATE TEMP TABLE rects AS SELECT * FROM rects_df")
    return con


def _valid_points_sql(files_sql: str) -> str:
    """(url, lat, lon, filename) for rows whose coordinates survive QC."""
    return f"""
        SELECT url, lat, lon, filename FROM (
            SELECT url, filename,
                   CASE WHEN {_LAT} <> '' THEN CAST({_LAT} AS DOUBLE) END AS lat,
                   CASE WHEN {_LON} <> '' THEN CAST({_LON} AS DOUBLE) END AS lon
            FROM read_parquet({files_sql}, filename = true))
        WHERE lat IS NOT NULL AND lon IS NOT NULL
          AND lat BETWEEN -90 AND 90 AND lon BETWEEN -180 AND 180
          AND NOT (abs(lat) < 1e-3 AND abs(lon) < 1e-3)"""


def _load_expected(con, files_sql: str) -> int:
    """Materialize temp tables `pts` (points surviving QC) and `expected`
    (url, polygon_id, filename) from the input files; returns len(pts)."""
    con.execute(f"CREATE OR REPLACE TEMP TABLE pts AS {_valid_points_sql(files_sql)}")
    con.execute(
        """CREATE OR REPLACE TEMP TABLE expected AS
           SELECT p.url, r.polygon_id, p.filename FROM pts p
           JOIN rects r ON p.lat >= r.min_lat AND p.lat < r.max_lat
                       AND p.lon >= r.min_lon AND p.lon < r.max_lon"""
    )
    return con.execute("SELECT count(*) FROM pts").fetchone()[0]


def _sql_list(paths: list[str]) -> str:
    return "[" + ", ".join("'" + p.replace("'", "''") + "'" for p in paths) + "]"


def _diff_rows(con, actual_sql: str) -> tuple[int, int, list]:
    """(missing, unexpected, first offending rows) between the (url,
    polygon_id) multisets of `actual_sql` and the `expected` table; the
    offending rows are left in temp table `diff`."""
    con.execute(f"CREATE OR REPLACE TEMP TABLE actual AS SELECT url, polygon_id FROM ({actual_sql})")
    con.execute(
        """CREATE OR REPLACE TEMP TABLE diff AS
           SELECT 'missing' AS kind, * FROM (SELECT url, polygon_id FROM expected EXCEPT ALL SELECT * FROM actual)
           UNION ALL
           SELECT 'unexpected', * FROM (SELECT * FROM actual EXCEPT ALL SELECT url, polygon_id FROM expected)"""
    )
    counts = dict(con.execute("SELECT kind, count(*) FROM diff GROUP BY kind").fetchall())
    sample = con.execute("SELECT url, polygon_id FROM diff ORDER BY kind, url LIMIT 3").fetchall()
    return counts.get("missing", 0), counts.get("unexpected", 0), sample


def check_geo_batch(out_root: str, pages_path: str, polygons: pd.DataFrame, facts: dict) -> list[str]:
    """run_pipeline outputs: L1 row counts, assignments row-equal to the
    SQL restatement (so per-polygon counts match), and per-zoom tile
    doc_count sums equal to the valid L1 rows."""
    fails: list[str] = []
    con = _con(polygons)
    try:
        n_valid_sql = _load_expected(con, _sql_list([pages_path]))
        if n_valid_sql != facts["n_valid"]:
            fails.append(f"input: {n_valid_sql} valid coordinates, generator pinned {facts['n_valid']}")

        l1 = os.path.join(out_root, "l1_pages", "**", "*.parquet")
        n_l1, n_l1_valid = con.execute(
            f"SELECT count(*), count(lat) FROM read_parquet('{l1}', hive_partitioning = true)"
        ).fetchone()
        if n_l1 != facts["n_rows"]:
            fails.append(f"l1: {n_l1} rows, expected {facts['n_rows']}")
        if n_l1_valid != facts["n_valid"]:
            fails.append(f"l1: {n_l1_valid} rows with coordinates, expected input minus pinned dirty = {facts['n_valid']}")

        pip = os.path.join(out_root, "page_polygon_assignments", "*.parquet")
        missing, extra, sample = _diff_rows(con, f"SELECT url, polygon_id FROM read_parquet('{pip}')")
        if missing or extra:
            per_poly = con.execute(
                """SELECT e.polygon_id, e.n, coalesce(a.n, 0) FROM
                      (SELECT polygon_id, count(*) n FROM expected GROUP BY 1) e
                    LEFT JOIN (SELECT polygon_id, count(*) n FROM actual GROUP BY 1) a USING (polygon_id)
                    WHERE e.n <> coalesce(a.n, 0) ORDER BY 1 LIMIT 5"""
            ).fetchall()
            fails.append(
                f"pip: {missing} assignments missing, {extra} unexpected; "
                f"(polygon, expected, got) {per_poly}; e.g. {sample}"
            )

        tiles = os.path.join(out_root, "tile_pyramid", "**", "*.parquet")
        sums = dict(
            con.execute(
                f"SELECT zoom, sum(doc_count) FROM read_parquet('{tiles}', hive_partitioning = true) GROUP BY zoom"
            ).fetchall()
        )
        want_zooms = set(range(facts["min_zoom"], facts["max_zoom"] + 1))
        if set(sums) != want_zooms:
            fails.append(f"tiles: zooms {sorted(sums)}, expected {sorted(want_zooms)}")
        bad = {z: int(v) for z, v in sums.items() if v != facts["n_valid"]}
        if bad:
            fails.append(f"tiles: doc_count sums {bad} differ from valid L1 rows {facts['n_valid']}")
    finally:
        con.close()
    return fails


def committed_sink_files(sink_dir: str) -> list[str]:
    """Data files a parquet file sink has committed, read from its
    `_spark_metadata` log (compacted or not); files of a batch that never
    committed are left out. The sink is unpartitioned, so each logged
    path is resolved by file name inside `sink_dir` (the directory may
    have been moved since the write)."""
    files: set[str] = set()
    for log in glob.glob(os.path.join(sink_dir, "_spark_metadata", "*")):
        if os.path.basename(log).startswith("."):
            continue
        with open(log) as f:
            for line in f.read().splitlines()[1:]:
                entry = json.loads(line)
                if entry.get("action", "add") == "add":
                    files.add(os.path.join(sink_dir, os.path.basename(entry["path"])))
    return sorted(files)


def check_geo_stream(sink_dir: str, committed_inputs: list[str], polygons: pd.DataFrame) -> tuple[list[str], set[str]]:
    """Drained sink vs the SQL restatement over the input files the
    stream committed: (failures, names of input files with wrong rows).
    Exactly-once means no row may repeat."""
    fails: list[str] = []
    bad_files: set[str] = set()
    if not committed_inputs:
        return ["stream: no input file committed"], bad_files
    con = _con(polygons)
    try:
        out_files = committed_sink_files(sink_dir)
        _load_expected(con, _sql_list(committed_inputs))
        if out_files:
            actual = f"SELECT url, polygon_id FROM read_parquet({_sql_list(out_files)})"
        else:
            actual = "SELECT CAST(NULL AS VARCHAR) url, CAST(NULL AS BIGINT) polygon_id WHERE false"
        missing, extra, sample = _diff_rows(con, actual)
        if missing or extra:
            fails.append(f"stream sink: {missing} assignments missing, {extra} unexpected; e.g. {sample}")
            # map offending urls back to their input files
            rows = con.execute(
                f"""SELECT DISTINCT p.filename FROM read_parquet({_sql_list(committed_inputs)}, filename = true) p
                    JOIN diff d USING (url)"""
            ).fetchall()
            bad_files = {os.path.basename(r[0]) for r in rows}
    finally:
        con.close()
    return fails, bad_files


def rows_equal(a: pd.DataFrame, b: pd.DataFrame, cols: list[str]) -> bool:
    """Multiset equality of two frames over `cols`."""
    ka = a[cols].astype(str).value_counts()
    kb = b[cols].astype(str).value_counts()
    return ka.sort_index().equals(kb.sort_index())
