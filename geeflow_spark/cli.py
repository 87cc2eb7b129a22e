"""spark-submit entry points.

Usage (cluster):
    spark-submit --py-files geeflow_spark.zip -m geeflow_spark.cli generate \\
        --docs s3://bucket/docs --regions regions.parquet --out s3://bucket/out

Packaging: `python -m geeflow_spark.cli package` writes geeflow_spark.zip
next to the repo root for --py-files distribution (the engine is pure
Python + numpy/pandas - no native deps to ship).

Subcommands:
    generate  - flagship pipeline: docs -> spatial join -> tiles -> split,
                resumable via per-partition manifests (plans.checkpoint);
                ends with one JSON summary line.
    rasters   - tile assignment + mosaic (export_rasters path); ends
                with one JSON summary line.
    stats     - per-band stats JSON (compute_stats path); ends with one
                JSON summary line.
    package   - build the --py-files zip.
"""

from __future__ import annotations

import argparse
import os
import zipfile


def _package(out: str = "geeflow_spark.zip") -> str:
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pkg = os.path.join(root, "geeflow_spark")
    with zipfile.ZipFile(os.path.join(root, out), "w",
                         zipfile.ZIP_DEFLATED) as z:
        for dirpath, _, files in os.walk(pkg):
            if "__pycache__" in dirpath:
                continue
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(dirpath, f)
                    z.write(full, os.path.relpath(full, root))
    return os.path.join(root, out)


def _cmd_generate(args) -> None:
    import json
    import time

    import pandas as pd

    from geeflow_spark.plans import checkpoint, generate
    from geeflow_spark.session import get_spark
    from geeflow_spark.sources import synth

    spark = get_spark("geeflow-generate")
    docs = spark.read.parquet(args.docs)
    regions = (pd.read_parquet(args.regions) if args.regions
               else synth.regions_pdf(40))
    ex = generate.generate_examples(docs, regions,
                                    cell_level=args.cell_level)
    parts = ["train", "val", "test"]
    t0 = time.monotonic()
    recs = checkpoint.run_partitioned(ex, args.out, "split", parts,
                                      id_col="doc_id",
                                      input_fingerprint=args.docs)
    wall_s = time.monotonic() - t0
    rows = {r["partition"]: r["rows"] for r in recs}
    print(json.dumps({"cmd": "generate", "out": args.out,
                      "partitions_written": len(recs),
                      "partitions_skipped": len(parts) - len(recs),
                      "rows": rows, "total_rows": sum(rows.values()),
                      "wall_s": round(wall_s, 3)}))
    spark.stop()


def _cmd_rasters(args) -> None:
    import json
    import time

    from geeflow_spark.operators import raster_export, tiles
    from geeflow_spark.session import get_spark

    spark = get_spark("geeflow-rasters")
    plots = spark.read.parquet(args.plots)
    zone_bboxes = json.loads(args.zone_bboxes)
    assigned = tiles.assign_tiles(plots, zone_bboxes=zone_bboxes,
                                  cell_size=args.cell_size,
                                  num_splits=args.num_splits)
    rasters = raster_export.mosaic_assigned_tiles(
        assigned, zone_bboxes=zone_bboxes, cell_size=args.cell_size,
        num_splits=args.num_splits, pred_c=args.channels,
        border_mode=args.border_mode)
    t0 = time.monotonic()
    per_zone = raster_export.write_rasters(rasters, args.out,
                                           list(zone_bboxes))
    wall_s = time.monotonic() - t0
    print(json.dumps({"cmd": "rasters", "out": args.out,
                      "rasters": per_zone,
                      "total_rasters": sum(per_zone.values()),
                      "wall_s": round(wall_s, 3)}))
    spark.stop()


def _cmd_stats(args) -> None:
    import json
    import time

    from geeflow_spark.operators import stats
    from geeflow_spark.plans import checkpoint
    from geeflow_spark.session import get_spark

    spark = get_spark("geeflow-stats")
    df = spark.read.parquet(args.table)
    t0 = time.monotonic()
    out = stats.per_band_counter_stats(df, args.array_col, args.n_bands,
                                       mask_col=args.mask_col)
    files = checkpoint._Files(spark, args.out)
    for band, d in out.items():
        files.write_text(os.path.join(args.out, f"stats_band_{band}.json"),
                         stats.stats_json(d))
    wall_s = time.monotonic() - t0
    print(json.dumps({"cmd": "stats", "out": args.out, "bands": sorted(out),
                      "n": {str(b): d["n"] for b, d in sorted(out.items())},
                      "wall_s": round(wall_s, 3)}))
    spark.stop()


def main(argv=None):
    p = argparse.ArgumentParser(prog="geeflow_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    g = sub.add_parser("generate")
    g.add_argument("--docs", required=True)
    g.add_argument("--regions", default=None)
    g.add_argument("--out", required=True)
    g.add_argument("--cell-level", type=int, default=8)

    r = sub.add_parser("rasters")
    r.add_argument("--plots", required=True)
    r.add_argument("--zone-bboxes", required=True,
                   help='JSON {"32T": [x0, y0, x1, y1], ...}')
    r.add_argument("--out", required=True)
    r.add_argument("--num-splits", type=int, default=4)
    r.add_argument("--cell-size", type=float, default=10.0,
                   help="raster cell size in metres")
    r.add_argument("--channels", type=int, default=2)
    r.add_argument("--border-mode", default="uniform_avg")

    s = sub.add_parser("stats")
    s.add_argument("--table", required=True)
    s.add_argument("--array-col", required=True)
    s.add_argument("--n-bands", type=int, required=True)
    s.add_argument("--mask-col", default=None,
                   help="array column of per-value masks (> 0 = kept)")
    s.add_argument("--out", required=True)

    sub.add_parser("package")

    args = p.parse_args(argv)
    if args.cmd == "package":
        print(_package())
    elif args.cmd == "generate":
        _cmd_generate(args)
    elif args.cmd == "rasters":
        _cmd_rasters(args)
    elif args.cmd == "stats":
        _cmd_stats(args)


if __name__ == "__main__":
    main()
