"""Empty-input robustness (r15 hardening).

At cluster scale a partition- or filter-pruned read legitimately yields
zero rows; an operator that crashes on empty input is a production
incident, not an edge case. tools/empty_input_sweep.py runs the FULL
330-query registry against schema-identical zero-row tables (first full
pass: r15, 321 organic + 9 fixed). This suite pins the contract cheaply:

- the zero-row fixture builder writes every table with the exact sf0.001
  schema (so the sweep tests what production pruning produces), and
- the nine queries that crashed in the first r15 sweep (KMeans fit on an
  empty sample, schema inference over a zero-file partitioned write,
  ANSI divide-by-zero in scalar epilogues, driver-side [-k] indexing and
  int(None) range bounds) execute on empty input.

The full-registry sweep stays a tool (minutes, not suite material); this
file guards exactly the surfaces that were observed to break.
"""

from __future__ import annotations

import sys
from pathlib import Path

import pyarrow.parquet as pq
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from tools.empty_input_sweep import SCHEMA_SF_DIR, build_empty_sf

# The nine queries the first full empty-input sweep (r15) crashed on,
# each now carrying an explicit empty-input posture. Keep in sync with
# the fix sites in the plans/q*.py registry segments.
FIXED_IN_R15 = [
    "j_dynamic_partition_pruning",
    "s23_analyze_stats",
    "corpus_dedup_report",
    "s26_dynamic_overwrite",
    "catalog_snapshot_expire",
    "ab_test_zscore",
    "s16_partitioned_publish",
    "ann_ivf_kmeans",
    "s9_jdbc_roundtrip",
]


@pytest.fixture(scope="module")
def empty_sf(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("empty_sf"))
    build_empty_sf(d)
    return d


def test_fixture_is_zero_rows_with_source_schema(empty_sf):
    from datalake_imagenes_georreferenciadas_spark.tables import TABLE_NAMES

    for name in TABLE_NAMES:
        src = pq.read_schema(f"{SCHEMA_SF_DIR}/{name}.parquet")
        out = pq.read_table(f"{empty_sf}/{name}.parquet")
        assert out.num_rows == 0, name
        assert out.schema.equals(src), name


@pytest.mark.parametrize("name", FIXED_IN_R15)
def test_query_executes_on_empty_input(spark, empty_sf, name):
    from __spark_entry__ import queries

    out = queries()[name](spark, empty_sf)
    out.collect()  # executing, not asserting rows: empty in != empty out
