"""Blob staging (sources/binary.stage_doc_blobs), the landing zone behind
multimodal_meta and pipeline_geo_ingest: staged once per session and
reused, skips rows without an id or payload, and is gone once the
process exits. Runs in a subprocess so the exit cleanup is observable."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

REPO = Path(__file__).resolve().parent.parent

_CHILD = """
import json, os, sys
from pathlib import Path
from pyspark.sql import SparkSession
from datalake_imagenes_georreferenciadas_spark.sources.binary import stage_doc_blobs

spark = (SparkSession.builder.master("local[1]")
         .config("spark.ui.enabled", "false").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
sf = sys.argv[1]
d1 = stage_doc_blobs(spark, sf, "staging_test_")
first = {n: Path(d1, n).read_text() for n in sorted(os.listdir(d1))}
# a second staging pass would write this file back
os.remove(os.path.join(d1, "1.tif"))
d2 = stage_doc_blobs(spark, sf, "staging_test_")
out = {"d1": d1, "d2": d2, "first": first, "second": sorted(os.listdir(d2)),
       "marker": os.path.exists(d1 + ".staged")}
spark.stop()
print(json.dumps(out))
"""


def test_stage_doc_blobs_reuses_skips_nulls_and_cleans_up(tmp_path):
    sf = tmp_path / "sf"
    sf.mkdir()
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([1, 2, None, 3], pa.int64()),
                "text": pa.array(["one", "two", "orphan", None], pa.string()),
            }
        ),
        sf / "documents.parquet",
    )
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    pythonpath = os.pathsep.join(
        p for p in (str(REPO), os.environ.get("PYTHONPATH")) if p
    )
    env = dict(os.environ, TMPDIR=str(tmp), PYTHONPATH=pythonpath)
    proc = subprocess.run(
        [sys.executable, "-c", _CHILD, str(sf)],
        cwd=REPO,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])

    assert out["d1"] == out["d2"]
    assert Path(out["d1"]).parent == tmp
    assert Path(out["d1"]).name.startswith("staging_test_")
    # odd ids land as .tif, even as .jpg; null id / null text are skipped
    assert out["first"] == {"1.tif": "one", "2.jpg": "two"}
    # the second call reused the staged dir instead of re-writing it
    assert out["second"] == ["2.jpg"]
    assert out["marker"]
    # process exit removed both the dir and its sibling marker
    assert not os.path.exists(out["d1"])
    assert not os.path.exists(out["d1"] + ".staged")
