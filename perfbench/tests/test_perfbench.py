"""Tests of the lake benchmark itself (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import ast
import json
import os
import pickle
import re
import sys

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import gen  # noqa: E402
import harness  # noqa: E402
import model  # noqa: E402
import query_mix  # noqa: E402

from datalake_imagenes_georreferenciadas_spark.plans import geo_fixture as GF  # noqa: E402


def _inputs(seed: int) -> dict:
    return {
        "parcels": gen.parcels(seed),
        "images": [gen.image(seed, k)[:2] for k in range(40)],
        "deliveries": [gen.delivery_plan(seed, b, 40, 40 * b) for b in range(4)],
        "order": gen.query_order(seed, query_mix.MIX, 3),
    }


def test_same_seed_gives_identical_inputs():
    assert pickle.dumps(_inputs(7)) == pickle.dumps(_inputs(7))


def test_other_seed_gives_other_inputs():
    a, b = _inputs(7), _inputs(8)
    for key in a:
        assert a[key] != b[key], key


def test_mix_tables_are_byte_identical(tmp_path):
    gen.write_tables(str(tmp_path / "a"))
    gen.write_tables(str(tmp_path / "b"))
    names = sorted(os.listdir(tmp_path / "a"))
    assert len(names) == 10
    for n in names:
        assert (tmp_path / "a" / n).read_bytes() == (tmp_path / "b" / n).read_bytes(), n


def test_image_mix_shares():
    kinds = [gen.image(1, k)[2]["kind"] for k in range(2000)]
    assert 0.87 < kinds.count("gps") / 2000 < 0.93
    assert 0.06 < kinds.count("tif") / 2000 < 0.10
    assert kinds.count("nogps") > 0
    plan = gen.delivery_plan(1, 3, 200, 600)
    assert len(plan) == 210 and len(set(plan)) == 210 and sum(k < 600 for k in plan) == 10


def test_metric_names_and_units():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names))
    for n in names:
        assert re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", n), n
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert re.fullmatch(r"[A-Za-z0-9_/%.-]{1,16}", m["unit"]), m
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])


def test_percentile_reports_sample_count():
    p = harness.percentile([float(x) for x in range(1, 11)], 0.9)
    assert (p.n, p.beyond) == (10, 1)
    assert abs(p.value - 9.1) < 1e-12
    assert harness.median([3.0, 1.0, 2.0]) == 2.0


# image → expected (parcel, method) in plans/geo_fixture.py's POINTS
FIXTURE_EXPECTED = {
    1: ("P1", "contains"),
    2: ("P1", "contains"),
    3: ("P2", "contains"),
    4: ("P2", "contains"),
    5: ("P3", "contains"),
    6: ("P1", "nearest"),
    7: ("P5", "nearest"),
    8: ("P1", "nearest"),
    9: (None, model.UNCLASSIFIABLE),
    10: (None, model.UNCLASSIFIABLE),
    11: ("P4", "contains"),
    12: ("P4", "nearest"),
    13: ("P5", "contains"),
    14: ("P5", "contains"),
    15: ("P5", "nearest"),
}


def test_model_reproduces_geo_fixture():
    keep = ("id_predio", "nombre")
    got = {}
    for img, lon, lat in GF.POINTS:
        parcel, method = model.classify(lon, lat, GF.POLYS, keep)
        got[img] = (parcel["id_predio"] if parcel else None, method)
    assert got == FIXTURE_EXPECTED


def test_indexed_classifier_matches_reference():
    polys = gen.parcels(3)
    fast = model.Classifier(polys, ("id_predio",))
    rng = gen.rng_for(3, "test-points")
    pts = [(gen.LON0 + gen.SPAN * rng.random(), gen.LAT0 + gen.SPAN * rng.random()) for _ in range(30)]
    pts += [model.image_point(*reversed(gen.image(3, k)[1:])) for k in range(10)]
    methods = set()
    for px, py in pts:
        ref = model.classify(px, py, polys, ("id_predio",))
        assert fast(px, py) == ref
        methods.add(ref[1])
    assert methods == {"contains", "nearest"}


def _fake_execute(results):
    def execute(name, op):
        rows, x = results[name]
        return 0.01, rows, x

    return execute


def test_wrong_pin_counts_as_failure():
    names = ["q1", "q2", "q3"]
    results = {"q1": (5, 11), "q2": (7, 22), "q3": (1, 33)}
    pins = {n: {"rows": r, "checksum": x} for n, (r, x) in results.items()}
    orders = [names] * 3

    attempted, failed, passes = query_mix.run_passes(orders, _fake_execute(results), pins, 0, 0.0)
    assert len(passes) == 1 + query_mix.WARMUP  # the cold pass and the warm-up pass always run
    assert (attempted, failed) == (3 * len(passes), 0)

    pins["q2"] = {"rows": 7, "checksum": 23}
    attempted, failed, _ = query_mix.run_passes(orders, _fake_execute(results), pins, 0, 0.0)
    assert failed / attempted > 0

    pins["q2"] = {"rows": 7, "checksum": None}  # rows-only pin
    assert query_mix.run_passes(orders, _fake_execute(results), pins, 0, 0.0)[1] == 0
    pins["q2"] = {"rows": 8, "checksum": None}
    assert query_mix.run_passes(orders, _fake_execute(results), pins, 0, 0.0)[1] == 1 + query_mix.WARMUP


def test_raising_query_counts_as_failure():
    def execute(name, op):
        raise RuntimeError("boom")

    attempted, failed, _ = query_mix.run_passes([["q1"]], execute, {"q1": {"rows": 1, "checksum": None}}, 0, 0.0)
    assert (attempted, failed) == (1, 1)


def test_mix_is_pinned_and_from_the_headline_set():
    with open(query_mix.PINS) as f:
        pins = json.load(f)
    assert pins["tables_seed"] == gen.TABLES_SEED
    assert sorted(pins["queries"]) == sorted(query_mix.MIX)
    with open(os.path.join(ROOT, "bench.py")) as f:
        tree = ast.parse(f.read())
    headline = next(
        ast.literal_eval(node.value)
        for node in tree.body
        if isinstance(node, ast.Assign) and getattr(node.targets[0], "id", None) == "BENCH_QUERIES"
    )
    assert set(query_mix.MIX) <= set(headline)
