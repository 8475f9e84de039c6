"""Python workers import `hpmr_spark` whatever the working directory: an
application that puts the package on its own `sys.path` (and not on
PYTHONPATH) still runs a custom-reducer KeyedMap (its Arrow fold runs in
Python workers) and the Python data source (pickled by reference), and its
workers fork from the engine daemon (`hpmr_spark.pydaemon`), which Spark
imports from that same worker PYTHONPATH."""

import os
import subprocess
import sys
import textwrap

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SCRIPT = textwrap.dedent(
    f"""
    import sys
    sys.path.insert(0, {ROOT!r})
    from hpmr_spark import KeyedMap, Reducer
    from hpmr_spark.engine import get_spark
    from __spark_entry__ import queries

    spark = get_spark("worker-imports", master="local[2]", shuffle_partitions=2)
    km = KeyedMap.from_pairs(spark, [(1, 2), (1, 3), (2, 5)], Reducer.custom(lambda a, b: a * b))
    assert km.to_dict() == {{1: 6, 2: 5}}, km.to_dict()
    rows = queries()["pydatasource_seq_agg"](spark, "").collect()
    assert rows, "pydatasource_seq_agg returned no rows"

    def probe(batches):
        import pyarrow as pa
        from hpmr_spark.pydaemon import installed
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({{"installed": [installed() is not None]}})

    flags = [r[0] for r in spark.range(4, numPartitions=2).mapInArrow(probe, "installed boolean").collect()]
    assert flags == [True, True], flags
    spark.stop()
    print("ok")
    """
)


def test_workers_import_package_from_any_cwd(tmp_path):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", SCRIPT],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=900,
    )
    assert out.returncode == 0 and out.stdout.strip().endswith("ok"), out.stderr[-3000:]
