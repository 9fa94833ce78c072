"""spark-submit CLI — the engine's job entry point (north_rule:
"run via spark-submit --py-files").

Usage (local or cluster; zip the package for --py-files):

    zip -r engine.zip linear_kdtree_spark
    spark-submit --py-files engine.zip -m linear_kdtree_spark.cli <cmd> ...
    # or locally:
    python -m linear_kdtree_spark.cli build --input pts.parquet --output idx/

Commands
--------
build     points parquet (key, x, y) → kd index directory (a TableCatalog
          written by sources/catalog.save_index)
extract   pages parquet (url, text, …) → points parquet
knn       index dir + queries parquet (query_id, qx, qy) → top-k parquet
pip       index dir + rectangles CSV "poly_id,xmin,ymin,xmax,ymax" → parquet
tile      points parquet → Z-order tile assignment parquet

knn and pip read the index with sources/catalog.load_index.

The CLI mirrors the reference's single binary dispatch (main.cpp:446-463)
with subcommands replacing the numeric test selector.
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def _spark(args):
    from linear_kdtree_spark.session import get_spark

    return get_spark(
        app_name=f"lkt_{args.cmd}",
        master=args.master,
        shuffle_partitions=args.shuffle_partitions,
    )


def cmd_build(args) -> int:
    from linear_kdtree_spark.operators.build import lkt_build
    from linear_kdtree_spark.sources.catalog import TableCatalog, save_index

    spark = _spark(args)
    pts = spark.read.parquet(args.input)
    ckpt = os.path.join(args.output, "checkpoints") if args.resumable else None
    if ckpt:
        os.makedirs(ckpt, exist_ok=True)
    idx = lkt_build(
        pts,
        max_depth=args.max_depth,
        strategy=args.strategy,
        leaf_size=args.leaf_size,
        checkpoint_dir=ckpt,
        coord_type=args.coord_type,
    )
    cat = TableCatalog(spark, args.output)
    save_index(cat, idx)
    n = cat.read("lkt_points").count()
    n_splits = len(idx.tree.splits["node_id"])
    print(json.dumps({"built_points": n, "splits": n_splits}))
    return 0


def _load(spark, index_dir: str):
    from linear_kdtree_spark.sources.catalog import TableCatalog, load_index

    return load_index(TableCatalog(spark, index_dir))


def cmd_extract(args) -> int:
    from linear_kdtree_spark.sources.points import extract_points

    spark = _spark(args)
    pages = spark.read.parquet(args.input)
    out = extract_points(pages, coord_type=args.coord_type)
    out.write.mode("overwrite").parquet(args.output)
    print(json.dumps({"extracted_points": spark.read.parquet(args.output).count()}))
    return 0


def cmd_knn(args) -> int:
    from linear_kdtree_spark.operators.knn import knn

    spark = _spark(args)
    idx = _load(spark, args.index)
    out = knn(idx, spark.read.parquet(args.queries), args.k)
    out.write.mode("overwrite").parquet(args.output)
    print(json.dumps({"knn_rows": spark.read.parquet(args.output).count()}))
    return 0


def cmd_pip(args) -> int:
    from linear_kdtree_spark.operators.pip import Polygon, point_in_polygons

    spark = _spark(args)
    idx = _load(spark, args.index)
    polys = []
    with open(args.polygons) as f:
        for line in f:
            line = line.strip()
            if not line or line.startswith("#"):
                continue
            pid, xmin, ymin, xmax, ymax = line.split(",")
            pid = int(pid)
            x0, y0, x1, y1 = map(float, (xmin, ymin, xmax, ymax))
            polys.append(
                Polygon(pid, [(x0, y0), (x1, y0), (x1, y1), (x0, y1)])
            )
    out = point_in_polygons(idx, polys)
    out.write.mode("overwrite").parquet(args.output)
    print(json.dumps({"pip_rows": spark.read.parquet(args.output).count()}))
    return 0


def cmd_tile(args) -> int:
    from linear_kdtree_spark.operators.tile import (
        assign_tiles_hex,
        assign_tiles_morton,
        assign_tiles_s2,
    )

    spark = _spark(args)
    pts = spark.read.parquet(args.input)
    if args.mode == "s2":
        out = assign_tiles_s2(pts, args.level)
    elif args.mode == "hex":
        out = assign_tiles_hex(pts, args.res)
    else:
        out = assign_tiles_morton(pts, args.depth)
    out.write.mode("overwrite").parquet(args.output)
    print(json.dumps({"tiled_rows": spark.read.parquet(args.output).count()}))
    return 0


def make_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="linear_kdtree_spark")
    p.add_argument("--master", default=None)
    p.add_argument("--shuffle-partitions", type=int, default=None)
    sub = p.add_subparsers(dest="cmd", required=True)

    b = sub.add_parser("build")
    b.add_argument("--input", required=True)
    b.add_argument("--output", required=True)
    b.add_argument("--max-depth", type=int, default=24)
    b.add_argument("--strategy", default="mean",
                   choices=["mean", "median", "median_approx"])
    b.add_argument("--leaf-size", type=int, default=4096)
    b.add_argument("--coord-type", default="float", choices=["float", "double"])
    b.add_argument("--resumable", action="store_true")
    b.set_defaults(fn=cmd_build)

    e = sub.add_parser("extract")
    e.add_argument("--input", required=True)
    e.add_argument("--output", required=True)
    e.add_argument("--coord-type", default="float", choices=["float", "double"])
    e.set_defaults(fn=cmd_extract)

    k = sub.add_parser("knn")
    k.add_argument("--index", required=True)
    k.add_argument("--queries", required=True)
    k.add_argument("--output", required=True)
    k.add_argument("-k", type=int, default=5)
    k.set_defaults(fn=cmd_knn)

    q = sub.add_parser("pip")
    q.add_argument("--index", required=True)
    q.add_argument("--polygons", required=True, help="CSV: poly_id,xmin,ymin,xmax,ymax")
    q.add_argument("--output", required=True)
    q.set_defaults(fn=cmd_pip)

    t = sub.add_parser("tile")
    t.add_argument("--input", required=True)
    t.add_argument("--output", required=True)
    t.add_argument("--mode", default="morton", choices=["morton", "s2", "hex"])
    t.add_argument("--depth", type=int, default=8, help="morton grid depth")
    t.add_argument("--level", type=int, default=12, help="s2 cell level")
    t.add_argument("--res", type=int, default=7, help="aperture-7 hex res")
    t.set_defaults(fn=cmd_tile)
    return p


def main(argv=None) -> int:
    args = make_parser().parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
