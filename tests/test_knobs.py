"""Census of the environment knobs the package reads, of the modules that
make temp dirs and of the calls that cache frames, and a compile check of
the command-line tools (no Spark session).

The package reads exactly the session-shape knobs that tier-1 and the
local[4]/shuffle=7 invariance sweep set; data-path variables belong to the
tools and the test harness. A knob that nothing sets is dead configuration:
delete it, or pin the value in code."""

import ast
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


def test_only_the_scratch_owner_makes_temp_dirs():
    # scratch paths come from engine.scratch_dir, which removes them at exit
    paths = [*(ROOT / "hpmr_spark").rglob("*.py"), *(ROOT / "tools").glob("*.py"), ROOT / "bench.py"]
    users = {str(path.relative_to(ROOT)) for path in paths if "tempfile" in path.read_text()}
    assert users == {"hpmr_spark/engine.py"}


def test_only_materialize_caches_frames():
    # engine.materialize keys each cached frame to the query that built it
    sites = set()
    for path in (ROOT / "hpmr_spark").rglob("*.py"):
        tree = ast.parse(path.read_text())
        funcs = [f for f in ast.walk(tree) if isinstance(f, ast.FunctionDef)]
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("persist", "cache")
            ):
                inner = min(
                    (f for f in funcs if f.lineno <= node.lineno <= f.end_lineno),
                    key=lambda f: f.end_lineno - f.lineno,
                    default=None,
                )
                sites.add((str(path.relative_to(ROOT)), inner and inner.name))
    assert sites == {("hpmr_spark/engine.py", "materialize")}


@pytest.mark.parametrize("name", sorted(p.name for p in (ROOT / "tools").glob("*.py")))
def test_tool_compiles(name, tmp_path):
    py_compile.compile(str(ROOT / "tools" / name), cfile=str(tmp_path / "t.pyc"), doraise=True)
