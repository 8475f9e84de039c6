"""Census of the environment knobs the package reads, and a compile check
of the command-line tools (no Spark session).

The package reads exactly the session-shape knobs that tier-1 and the
local[4]/shuffle=7 invariance sweep set; data-path variables belong to the
tools and the test harness. A knob that nothing sets is dead configuration:
delete it, or pin the value in code."""

import py_compile
import re
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[1]


def test_package_reads_only_session_knobs():
    names = set()
    for path in (ROOT / "hpmr_spark").rglob("*.py"):
        names.update(re.findall(r"SPARK_GRAFT_[A-Z_]+", path.read_text()))
    assert names == {"SPARK_GRAFT_CPUS", "SPARK_GRAFT_MASTER", "SPARK_GRAFT_SHUFFLE_PARTITIONS"}


@pytest.mark.parametrize("name", sorted(p.name for p in (ROOT / "tools").glob("*.py")))
def test_tool_compiles(name, tmp_path):
    py_compile.compile(str(ROOT / "tools" / name), cfile=str(tmp_path / "t.pyc"), doraise=True)
