"""Dump .explain("formatted") of the gate queries (``__spark_entry__``'s
``queries()``, all of them or the ones named) to plans/<tag>/<query>.txt,
so two tags (say, before/after) can be diffed file by file.

Usage: python tools/dump_plans.py <tag> [sf_dir] [query ...]
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, ".")


def main() -> int:
    tag = sys.argv[1] if len(sys.argv) > 1 else "before"
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"
    only = set(sys.argv[3:])

    import __spark_entry__ as se
    from linear_kdtree_spark.session import get_spark

    spark = get_spark(app_name="dump_plans")
    outdir = os.path.join("plans", tag)
    os.makedirs(outdir, exist_ok=True)
    for name, fn in se.queries().items():
        if only and name not in only:
            continue
        try:
            df = fn(spark, sf_dir)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            text = buf.getvalue()
        except Exception as e:  # pragma: no cover
            text = f"ERROR building plan: {e!r}\n"
        path = os.path.join(outdir, f"{name}.txt")
        with open(path, "w") as f:
            f.write(f"# query: {name}  sf_dir: {sf_dir}  tag: {tag}\n")
            f.write(text)
        print(f"wrote {path} ({len(text)} bytes)")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
