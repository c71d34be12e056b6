"""Self-test of the benchmark's output checks.

    python3 perfbench/selftest.py

Produces real outputs with the program at a small size, confirms that
every check passes on them, then corrupts a copy of the outputs in one
way per case and confirms that the check fails. A stale file in a
streaming sink that its commit log does not list must be ignored (the
one case that has to keep passing). Exits 1 if any expectation breaks.
"""

from __future__ import annotations

import glob
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _rewrite_first(pattern: str, fn) -> None:
    """Apply fn to the pandas frame of the first parquet file matching
    `pattern` and write it back in place."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = sorted(glob.glob(pattern, recursive=True))[0]
    table = pq.read_table(path, partitioning=None)
    df = fn(table.to_pandas())
    pq.write_table(pa.Table.from_pandas(df, schema=table.schema, preserve_index=False), path)


def main() -> int:
    sys.path[:0] = [HERE, ROOT]
    import pandas as pd

    import checks
    import gen
    import workloads

    work = os.path.join(ROOT, ".perfbench_work", f"selftest-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "local", "input", "out"):
        os.makedirs(os.path.join(work, d))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    ctx = workloads.Ctx(5, 0, False, work, os.path.join(work, "spark.log"), time.time())
    results: list[tuple[str, bool, bool, list]] = []  # (case, expect_fail, failed, messages)

    def case(name: str, expect_fail: bool, fails: list) -> None:
        results.append((name, expect_fail, bool(fails), fails))

    spark = workloads.start_session(ctx)
    try:
        # ---------------------------------------------------------- geo_batch
        from water_column_sonar_processing_spark.plans.pipeline import run_pipeline

        pages, facts = gen.gen_pages(3000, 5)
        facts.update(min_zoom=workloads.MIN_TILE_RES, max_zoom=workloads.BASE_TILE_RES)
        polys = gen.gen_polygons(5)
        pages_path = ctx.path("input", "pages.parquet")
        gen.write_parquet(pages, pages_path)
        good = ctx.path("out", "batch")
        run_pipeline(spark, spark.read.parquet(pages_path), polys[["polygon_id", "name", "wkt"]], good, resume=False)
        case("geo_batch clean output", False, checks.check_geo_batch(good, pages_path, polys, facts))

        def corrupt_batch(name: str, fn) -> None:
            root = ctx.path("out", "batch-" + name.replace(" ", "_"))
            shutil.copytree(good, root)
            fn(root)
            case(f"geo_batch {name}", True, checks.check_geo_batch(root, pages_path, polys, facts))

        corrupt_batch("l1 row dropped", lambda r: _rewrite_first(f"{r}/l1_pages/**/*.parquet", lambda d: d.iloc[1:]))
        corrupt_batch(
            "l1 coordinate nulled",
            lambda r: _rewrite_first(
                f"{r}/l1_pages/**/*.parquet",
                lambda d: d.assign(lat=d["lat"].where(d.index != d["lat"].first_valid_index())),
            ),
        )
        corrupt_batch(
            "pip polygon swapped",
            lambda r: _rewrite_first(
                f"{r}/page_polygon_assignments/*.parquet",
                lambda d: d.assign(polygon_id=d["polygon_id"].where(d.index != 0, d["polygon_id"] % 16 + 1)),
            ),
        )
        corrupt_batch(
            "pip row duplicated",
            lambda r: _rewrite_first(f"{r}/page_polygon_assignments/*.parquet", lambda d: pd.concat([d, d.iloc[:1]])),
        )
        corrupt_batch(
            "tile count bumped",
            lambda r: _rewrite_first(
                f"{r}/tile_pyramid/**/*.parquet", lambda d: d.assign(doc_count=d["doc_count"] + (d.index == 0))
            ),
        )
        corrupt_batch("tile zoom lost", lambda r: shutil.rmtree(f"{r}/tile_pyramid/zoom=4"))

        # ---------------------------------------------------------- geo_stream
        from water_column_sonar_processing_spark.streaming.ingest import PAGES_STREAM_SCHEMA
        from water_column_sonar_processing_spark.streaming.pip import pip_assign_stream

        in_dir = ctx.path("in")
        inputs = []
        for i in range(3):
            df, _ = gen.gen_pages(400, 5000 + i, with_tracks=False, url_prefix=f"s{i}")
            inputs.append(os.path.join(in_dir, f"pages-{i:05d}.parquet"))
            gen.write_parquet(df, inputs[-1])
        sink = ctx.path("out", "sink")
        q = (
            pip_assign_stream(spark.readStream.schema(PAGES_STREAM_SCHEMA).parquet(in_dir), polys[["polygon_id", "name", "wkt"]],
                              grid_res=workloads.GRID_RES, res=workloads.STREAM_PIP_RES)
            .writeStream.format("parquet").option("path", sink)
            .option("checkpointLocation", ctx.path("out", "ckpt")).trigger(availableNow=True).start()
        )
        q.awaitTermination()
        case("geo_stream clean sink", False, checks.check_geo_stream(sink, inputs, polys)[0])

        def corrupt_sink(name: str, expect_fail: bool, fn) -> None:
            root = ctx.path("out", "sink-" + name.replace(" ", "_"))
            shutil.copytree(sink, root)
            fn(root)
            case(f"geo_stream {name}", expect_fail, checks.check_geo_stream(root, inputs, polys)[0])

        def sink_file(r: str) -> str:
            return os.path.join(r, os.path.basename(checks.committed_sink_files(sink)[0]))

        def rewrite_sink(r: str, fn) -> None:
            _rewrite_first(sink_file(r), fn)

        corrupt_sink("row dropped", True, lambda r: rewrite_sink(r, lambda d: d.iloc[1:]))
        corrupt_sink("row repeated", True, lambda r: rewrite_sink(r, lambda d: pd.concat([d, d.iloc[:1]])))
        corrupt_sink("url altered", True, lambda r: rewrite_sink(r, lambda d: d.assign(url=d["url"].where(d.index != 0, "x"))))

        def stale_file(r: str) -> None:
            shutil.copy(sink_file(r), os.path.join(r, "part-99999-stale.parquet"))

        corrupt_sink("uncommitted stale file", False, stale_file)
        # batch pip_join parity compare (traced geo_stream runs)
        ref = pd.read_parquet(checks.committed_sink_files(sink))
        case("parity equal frames", False, [] if checks.rows_equal(ref, ref.copy(), ["url", "polygon_id"]) else ["differ"])
        case("parity row dropped", True, [] if checks.rows_equal(ref, ref.iloc[1:], ["url", "polygon_id"]) else ["differ"])
    finally:
        workloads.stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    bad = 0
    for name, expect_fail, failed, msgs in results:
        ok = failed == expect_fail
        bad += not ok
        verdict = "fails as expected" if expect_fail and failed else "passes as expected" if ok else "UNEXPECTED"
        print(f"{'ok ' if ok else 'BAD'} {name:36s} {verdict}{': ' + msgs[0][:120] if msgs else ''}")
    print(f"{len(results) - bad}/{len(results)} self-test cases as expected")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
