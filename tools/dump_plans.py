"""Dump .explain('formatted') for headline queries to plans/<tag>/.

Usage: python tools/dump_plans.py <out_dir_tag> [sf_dir] [query ...]

Writes plans/<tag>/<query>_<suffix>.txt where suffix is the tag's last
underscore segment convention (caller names the tag e.g. "r11" and the
file gets "_before"/"_after" from $PLAN_SUFFIX, default "before").
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TAG = sys.argv[1] if len(sys.argv) > 1 else "r11"
SF_DIR = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
ONLY = sys.argv[3:]
SUFFIX = os.environ.get("PLAN_SUFFIX", "before")


def main() -> None:
    from alma_publish_to_marc_spark.session import get_spark
    from alma_publish_to_marc_spark import registry, tables
    import bench

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out_dir = os.path.join(here, "plans", TAG)
    os.makedirs(out_dir, exist_ok=True)

    spark = get_spark("dump-plans")
    qs = registry.queries()
    names = ONLY or [n for n in bench.HEADLINE if n in qs]
    for name in names:
        try:
            spark.catalog.clearCache()
            tables.release()
            df = qs[name](spark, SF_DIR)
            import contextlib
            import io
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            plan = buf.getvalue()
        except Exception as e:  # noqa: BLE001 - record, keep going
            plan = f"ERROR building plan: {e!r}"
        fn = os.path.join(out_dir, f"{name}_{SUFFIX}.txt")
        with open(fn, "w") as f:
            f.write(plan)
        print(f"wrote {fn} ({len(plan)} chars)")


if __name__ == "__main__":
    main()
