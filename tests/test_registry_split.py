"""Structural pins for the query registry and its segments.

The @register bodies live in plans/q01_*.py … q16_*.py (prelude/helpers
in plans/_qbase.py; q14+ hold append-only additions). plans/queries.py
imports the segments in their fixed registration order and holds the
driver-window rotation; plan functions are imported from the segment
that defines them. These tests pin registry size, registration order
(the driver's front-50 window is order-sensitive), the absence of a
re-export layer, and single registration per name.
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

PLANS = (
    Path(__file__).resolve().parent.parent
    / "datalake_imagenes_georreferenciadas_spark"
    / "plans"
)

# sha256 of the first 338 registered names, newline-joined (r20 registry).
_ORDER_SHA256 = "41d74d06f4670eb462ce69ff86a7ab989189c8c1e7785e6680badae26bf748e8"


def test_registry_size_and_oracle_parity():
    from datalake_imagenes_georreferenciadas_spark.plans.queries import ORACLES, QUERIES

    assert len(QUERIES) == 338
    # zero rows-only queries: every entry has a value oracle
    assert set(ORACLES) == set(QUERIES)


def test_registration_order_head_is_stable():
    """The first registrations must stay exactly as they were before the
    split — the rotation's priority/staleness ordering builds on dict
    insertion order, so a segment-import reorder would silently shuffle
    the driver's graded window."""
    from datalake_imagenes_georreferenciadas_spark.plans.queries import QUERIES

    names = list(QUERIES)
    assert names[:6] == [
        "catalog_filtered_join",
        "j1_semi_join",
        "j1_anti_join",
        "p7_left_join_null_guard",
        "p1_projection_filter",
        "p2_filename_parse",
    ]
    # q16 (r19 append-only additions) registers last
    assert names[-1] == "dedup_simhash_pairs_auto2"


def test_registration_order_prefix_is_pinned():
    """The whole registration order, not just its head, is pinned by a
    prefix hash, so appending a query stays legal; any reorder or
    removal fails."""
    import hashlib

    from datalake_imagenes_georreferenciadas_spark.plans.queries import ORACLES, QUERIES

    names = list(QUERIES)
    assert len(names) >= 338
    digest = hashlib.sha256("\n".join(names[:338]).encode()).hexdigest()
    assert digest == _ORDER_SHA256
    assert list(ORACLES) == names


def test_every_segment_registers_queries():
    import importlib

    from datalake_imagenes_georreferenciadas_spark.plans._qbase import QUERIES

    segs = sorted(p.stem for p in PLANS.glob("q[0-9][0-9]_*.py"))
    assert len(segs) == 16
    for s in segs:
        mod = importlib.import_module(
            f"datalake_imagenes_georreferenciadas_spark.plans.{s}"
        )
        registered_here = [
            n for n in dir(mod) if not n.startswith("_") and n in QUERIES
        ]
        assert registered_here, f"{s} registers nothing"


def test_queries_module_is_registry_api_only():
    """plans.queries carries the registry API and the rotation, never
    plan functions: no registered name resolves on it and it holds no
    ``from .qNN import (...)`` re-export list."""
    from datalake_imagenes_georreferenciadas_spark.plans import queries as q

    for name in (
        "QUERIES",
        "ORACLES",
        "register",
        "all_queries",
        "all_oracles",
        "_rotated",
        "_driver_check_state",
    ):
        assert hasattr(q, name), name
    assert not [n for n in q.QUERIES if hasattr(q, n)]
    assert "from .q" not in (PLANS / "queries.py").read_text()


def test_segment_first_import_keeps_registration_order():
    """Importing a plan function straight from a late segment must not
    let that segment register first."""
    import subprocess

    code = (
        "import hashlib\n"
        "from datalake_imagenes_georreferenciadas_spark.plans.q09_north_star"
        " import dedup_corpus_chunks\n"
        "from datalake_imagenes_georreferenciadas_spark.plans._qbase"
        " import QUERIES\n"
        "print(hashlib.sha256('\\n'.join(list(QUERIES)[:338]).encode())"
        ".hexdigest())\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=PLANS.parent.parent,
        capture_output=True,
        text=True,
        check=True,
    ).stdout.strip()
    assert out == _ORDER_SHA256


def test_registry_objects_are_shared_not_copied():
    """_qbase.QUERIES IS queries.QUERIES — segments register into the
    one dict plans.queries exposes (a copy would freeze the registry at
    import order of whoever imported first)."""
    from datalake_imagenes_georreferenciadas_spark.plans import _qbase, queries

    assert queries.QUERIES is _qbase.QUERIES
    assert queries.ORACLES is _qbase.ORACLES
