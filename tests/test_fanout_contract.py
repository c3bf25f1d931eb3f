"""At-scale plan contract for tables.fan_out sites (r11 VERDICT item).

``fan_out`` repartitions an under-parallelized input (the driver
testdata's one-row-group parquet) up to defaultParallelism before
per-row-heavy compute, and documents itself as a NO-OP on real
many-split inputs. ``SPARK_GRAFT_FANOUT=off`` simulates the at-scale
(no-extra-exchange) plan; r11 relaxed the plan-shape tests to accept
the fan_out exchange, which left the at-scale shape pinned NOWHERE —
a real exchange creeping in UNDER a fan_out would be invisible. These
counters pin it mechanically (measured at sf0.001, FANOUT=off).

greedy_coverage_selection also fans out, but its incidence build runs
inside driver-paced per-round actions that the returned frame's plan
does not contain, so there is nothing to pin from here.
"""

from __future__ import annotations

import pytest

from alma_publish_to_marc_spark import tables
from tools.explain_audit import summarize

from .conftest import SF_SMOKE

# key -> (shuffles, scans) with SPARK_GRAFT_FANOUT=off: the at-scale
# shape. distinct_ngram_diversity is included even though its count
# matches the fanout-on plan — its fan_out is keyed by doc_id so the
# first aggregation REUSES the exchange (subset clustering) and the
# no-op contract there is "same count, not one more".
_AT_SCALE = {
    "gram_matrix_blocked": (1, 1),
    # r12: pts persisted (3 consumers) — scans 4 -> 2 (the cached
    # points scan + the side-frame count scan), shuffles unchanged
    "grid_neighbor_join": (3, 2),
    "corpus_curation_end2end": (3, 3),
    "ann_index_incremental": (2, 1),
    "kmeans_fixed_point": (1, 1),
    "distinct_ngram_diversity": (3, 1),
    # the publish-split synthesis: its one fan_out is on the narrow
    # customer scan (domain_queries._synth_records); split_rows' Arrow
    # stage adds no exchange of its own
    "publish_split_bibs": (3, 3),
    # the fan_out sites added in r12: the sketch family's shared
    # `_tokens` shingle stream, ngram_lm's tokenized documents and the
    # spatial `_pts_cells` point frame (fanout-on adds 1, 2 and 1
    # shuffles to these)
    "kmv_distinct_estimate": (2, 1),
    "ngram_lm_perplexity": (4, 3),
    "two_hop_reachability": (6, 2),
}


@pytest.mark.parametrize("name", sorted(_AT_SCALE))
def test_no_fanout_plan_shape(spark, name, monkeypatch):
    from alma_publish_to_marc_spark import registry

    monkeypatch.setenv("SPARK_GRAFT_FANOUT", "off")
    spark.catalog.clearCache()
    tables.release()
    try:
        p = summarize(spark, registry.queries()[name](spark, SF_SMOKE))
    finally:
        spark.catalog.clearCache()
        tables.release()
    shuffles, scans = _AT_SCALE[name]
    assert p["shuffles"] == shuffles, (
        f"{name}: at-scale (FANOUT=off) plan grew a shuffle "
        f"({p['shuffles']} != {shuffles}) — a real exchange is hiding "
        f"under the fan_out")
    assert p["scans"] == scans, name

