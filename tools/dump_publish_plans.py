"""Dump the formatted plans of a publish run's staged merges.

Usage: python tools/dump_publish_plans.py <out_dir> [suffix]

Builds a small seeded warehouse with perfbench's publish generator
(400 bibs), then applies one incremental drop (120 bibs) through
`plans.pipeline.run_publish_pipeline` and writes the
`.explain('formatted')` of the bib_brief, holding_brief and item
staged merges of that second run to
<out_dir>/<table>_<suffix>.txt (suffix defaults to "after"). The run's
scratch directory is printed as $WORK in the plans.
"""

from __future__ import annotations

import contextlib
import io
import os
import sys
import tempfile
from datetime import datetime

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

MERGES = ("bib_brief", "holding_brief", "item")


def main(out_dir: str, suffix: str = "after") -> None:
    import publish_gen as G

    from alma_publish_to_marc_spark.plans import pipeline as PL
    from alma_publish_to_marc_spark.session import get_spark

    spark = get_spark("dump-publish-plans", cpus=2)
    loc = spark.createDataFrame(
        [(i, lib, code) for i, (lib, code) in enumerate(G.LOCATIONS)],
        "id long, library_code string, code string")
    cat = G.Catalog(7)
    drops = [cat.full_drop(400, 2), cat.incremental_drop(120, 2)]
    plans: dict[str, str] = {}
    stage = PL._stage_table

    def recording(df, warehouse_dir, name):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plans[name] = buf.getvalue()
        return stage(df, warehouse_dir, name)

    os.makedirs(out_dir, exist_ok=True)
    with tempfile.TemporaryDirectory() as work:
        wh = os.path.join(work, "warehouse")
        for night, drop in enumerate(drops):
            landing = os.path.join(work, f"drop{night}")
            G.land(G.render_files(drop, str(night)), landing)
            PL._stage_table = recording if night else stage
            try:
                PL.run_publish_pipeline(spark, landing + "/*", wh,
                                        datetime(2024, 6, 1 + night), loc)
            finally:
                PL._stage_table = stage
        for name in MERGES:
            fn = os.path.join(out_dir, f"{name}_{suffix}.txt")
            with open(fn, "w") as fh:
                fh.write(plans[name].replace(work, "$WORK"))
            print(f"wrote {fn} ({len(plans[name])} chars)")
    spark.stop()


if __name__ == "__main__":
    main(*sys.argv[1:])
