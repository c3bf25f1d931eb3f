"""Flag registered queries whose OUTPUT schema contains array/map
columns.

The driver's correctness canonicalizer does a raw
``df.sort_values(by=list(df.columns))`` on the pandas frames; an
array-typed column arrives as numpy.ndarray cells and pandas'
lexsort raises ``TypeError: unhashable type: 'numpy.ndarray'``
(seen live on publish_set_grouping, CORRECTNESS_r05.json). Any
query with an array/map output is therefore a latent red driver
row. This sweep builds every query's (lazy) plan at a small sf and
reports offending columns so they can be re-expressed as joined
strings in BOTH engines.

Usage: python tools/schema_sweep.py [sf_dir]
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pyspark.sql import types as T  # noqa: E402

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"


def main() -> int:
    import __spark_entry__ as e
    from alma_publish_to_marc_spark.session import get_spark

    spark = get_spark("schema-sweep", cpus=8)
    bad = 0
    for name, fn in e.queries().items():
        spark.catalog.clearCache()
        try:
            schema = fn(spark, SF_DIR).schema
        except Exception as ex:
            print(f"ERR   {name}: {type(ex).__name__}: {ex}")
            bad += 1
            continue
        offenders = [f.name for f in schema.fields
                     if isinstance(f.dataType,
                                   (T.ArrayType, T.MapType, T.StructType))]
        if offenders:
            print(f"ARRAY {name}: {offenders}")
            bad += 1
    print(f"\n{bad} queries with array/map outputs (or build errors)")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
