"""Re-pin the ``query_mix`` results (maintenance tool, not run by the
benchmark).

    python3 perfbench/pin_mix.py WORK_DIR

1. writes the fixed-seed mix tables to ``WORK_DIR/tables``;
2. confirms every mix query against its DuckDB ``oracle_sql()`` twin with
   the repository's ``tools/verify_oracle.py`` and stops on any mismatch;
3. folds each query's output to (rows, checksum) in two fresh sessions
   with different core counts (``local[2]`` and ``local[4]``); a query
   whose checksum differs between them is pinned on its row count only;
4. writes ``perfbench/mix_pins.json``.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import gen  # noqa: E402
import harness  # noqa: E402
import query_mix  # noqa: E402


def fold_all(sf_dir: str) -> dict[str, list[int]]:
    from datalake_imagenes_georreferenciadas_spark.plans.queries import all_queries
    from datalake_imagenes_georreferenciadas_spark.session import get_spark

    spark = get_spark("pin_mix")
    spark.sparkContext.setLogLevel("ERROR")
    qs = all_queries()
    out = {}
    for name in query_mix.MIX:
        row = harness.reduced(qs[name](spark, sf_dir)).collect()[0]
        out[name] = [int(row["n"]), int(row["x"] or 0)]
    spark.stop()
    return out


def main() -> int:
    if len(sys.argv) == 3 and sys.argv[1] == "--fold":
        print(json.dumps(fold_all(sys.argv[2])))
        return 0
    work = os.path.abspath(sys.argv[1])
    sf_dir = os.path.join(work, "tables")
    gen.write_tables(sf_dir)
    env = dict(os.environ, PYTHONPATH=os.pathsep.join([ROOT, os.environ.get("PYTHONPATH", "")]))
    verify = subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "verify_oracle.py"), sf_dir, *query_mix.MIX],
        env=env,
        cwd=work,
    )
    if verify.returncode != 0:
        print("oracle confirmation failed; pins not written", file=sys.stderr)
        return 1
    folds = []
    for cpus in ("2", "4"):
        out = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--fold", sf_dir],
            env=dict(env, SPARK_GRAFT_CPUS=cpus),
            cwd=work,
            check=True,
            capture_output=True,
            text=True,
        )
        folds.append(json.loads(out.stdout.strip().splitlines()[-1]))
    pins = {}
    for name in query_mix.MIX:
        (rows, x), (rows2, x2) = folds[0][name], folds[1][name]
        if rows != rows2:
            print(f"{name}: row count differs between sessions ({rows} vs {rows2})", file=sys.stderr)
            return 1
        pins[name] = {"rows": rows, "checksum": x if x == x2 else None}
    doc = {
        "tables_seed": gen.TABLES_SEED,
        "rows_only": sorted(n for n, p in pins.items() if p["checksum"] is None),
        "queries": pins,
    }
    with open(query_mix.PINS, "w") as f:
        json.dump(doc, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"pinned {len(pins)} queries ({len(doc['rows_only'])} on row count only)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
