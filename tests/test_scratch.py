"""The scratch-directory owner (``engine.scratch_dir``): keyed dirs are
stable for the process, unkeyed ones are fresh, and the per-process root is
removed when its process exits, so no query leaves a dir in the temp dir or
in the session's warehouse dir."""

import os
import subprocess
import sys
import textwrap
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]

# one or more queries of every kind of scratch use: file sinks, source layouts,
# checkpoints, bucketed tables, and the symlinked dirs the file-stream sources
# read
SCRATCH_QUERIES = [
    "bucketed_join_revenue",
    "sink_parquet_roundtrip",
    "sink_csv_roundtrip",
    "sink_json_roundtrip",
    "sink_orc_roundtrip",
    "sink_xml_roundtrip",
    "sink_text_roundtrip",
    "source_binaryfile_fingerprints",
    "partition_pruning_proof",
    "sink_versioned_snapshots",
    "sink_partitioned_pruned",
    "sink_dynamic_partition_overwrite",
    "pydatasource_sink_roundtrip",
    "ivm_checkpoint_resume",
    "streaming_tumbling_counts",
    "streaming_foreachbatch_sink",
    "streaming_statestore_read",
    "pystream_source_tumbling",
]


def _run(script: str, tmpdir: Path, cwd: Path = ROOT, **env) -> str:
    out = subprocess.run(
        [sys.executable, "-c", textwrap.dedent(script)],
        cwd=cwd,
        env={**os.environ, "TMPDIR": str(tmpdir), **env},
        capture_output=True,
        text=True,
        timeout=900,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    return out.stdout


def test_keyed_dir_is_stable_and_unkeyed_is_fresh():
    from hpmr_spark.engine import scratch_dir

    a, b = scratch_dir("t_keyed", key="k"), scratch_dir("t_keyed", key="k")
    assert a == b and os.path.isdir(a)
    assert scratch_dir("t_keyed", key="other") != a
    c, d = scratch_dir("t_fresh"), scratch_dir("t_fresh")
    assert c != d and os.path.isdir(c) and os.path.isdir(d)
    assert os.path.dirname(a) == os.path.dirname(c)
    assert os.path.basename(os.path.dirname(a)).startswith(f"hpmr_{os.getpid()}_")


def test_root_removed_at_exit_and_left_by_forked_child(tmp_path):
    out = _run(
        """
        import os, sys
        from hpmr_spark.engine import scratch_dir

        root = os.path.dirname(scratch_dir("probe", key="k"))
        pid = os.fork()
        if pid == 0:
            scratch_dir("probe_child")
            sys.exit(0)  # the child runs the inherited exit handler
        os.waitpid(pid, 0)
        print(root, os.path.isdir(root))
        """,
        tmp_path,
    )
    root, alive_after_child = out.split()
    assert Path(root).parent == tmp_path
    assert alive_after_child == "True"
    assert not os.path.exists(root)
    assert list(tmp_path.iterdir()) == []


def test_scratch_queries_leave_no_dir_behind(tmp_path, tmp_path_factory, sf_dir):
    # a fresh cwd gives the session a fresh default warehouse dir
    out = _run(
        f"""
        import hpmr_spark.all_queries
        from hpmr_spark.catalog import QUERIES
        from hpmr_spark.engine import get_spark

        spark = get_spark("scratch-leak")
        for name in {SCRATCH_QUERIES!r}:
            assert QUERIES[name](spark, {str(sf_dir)!r}).collect(), name
        print("warehouse", spark.conf.get("spark.sql.warehouse.dir"))
        spark.stop()
        # a later session in the same process writes its bucketed tables again
        spark = get_spark("scratch-leak-2")
        assert QUERIES["bucketed_join_revenue"](spark, {str(sf_dir)!r}).collect()
        spark.stop()
        """,
        tmp_path,
        cwd=tmp_path_factory.mktemp("cwd"),
        PYTHONPATH=str(ROOT),
        SPARK_DRIVER_MEMORY="2g",
    )
    assert sorted(p.name for p in tmp_path.iterdir()) == []
    warehouse = Path(out.split("warehouse ")[1].split()[0].removeprefix("file:"))
    assert not list(warehouse.glob("*_bkt_*"))
