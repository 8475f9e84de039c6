"""Census of the environment knobs the package reads, of the modules that
make temp dirs and of the calls that cache frames, and a compile check of
the command-line tools (no Spark session).

Only the session builder touches the environment. It reads the
session-shape knobs that tier-1 and the local[4]/shuffle=7 invariance sweep
set, the driver memory, Spark's conf dir (swapped for the launch of a JVM
that starts from the class-data archive), the XDG cache root that holds
the archive and ``JAVA_HOME``, which names the JVM Spark launches and so is
part of the archive's key; data-path variables belong to the tools and the test harness.
A knob that nothing sets is dead configuration: delete it, or pin the value
in code. The archive has no off switch: to launch without it, set
``spark.driver.extraJavaOptions`` on the builder."""

import ast
import py_compile
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[1]


_ENV_API = ("environ", "getenv", "putenv", "unsetenv")


def _env_names(tree):
    """The variable named by each environment read or write in ``tree``;
    None where the name is not a literal."""
    parents = {child: node for node in ast.walk(tree) for child in ast.iter_child_nodes(node)}
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.module == "os":
            if any(alias.name in _ENV_API for alias in node.names):
                yield None
        elif (
            isinstance(node, ast.Attribute)
            and isinstance(node.value, ast.Name)
            and node.value.id == "os"
            and node.attr in _ENV_API
        ):
            use = parents[node]
            if isinstance(use, ast.Attribute):  # os.environ.get(...) and friends
                use = parents[use]
            if isinstance(use, ast.Call):
                key = use.args[0] if use.args else None
            elif isinstance(use, ast.Subscript):
                key = use.slice
            else:  # "X" in os.environ
                key = getattr(use, "left", None)
            yield key.value if isinstance(key, ast.Constant) else None


def test_package_reads_only_session_knobs():
    uses = {}
    for path in (ROOT / "hpmr_spark").rglob("*.py"):
        for name in _env_names(ast.parse(path.read_text())):
            uses.setdefault(str(path.relative_to(ROOT)), set()).add(name)
    assert uses == {
        "hpmr_spark/engine.py": {
            "SPARK_GRAFT_CPUS",
            "SPARK_GRAFT_MASTER",
            "SPARK_GRAFT_SHUFFLE_PARTITIONS",
            "SPARK_DRIVER_MEMORY",
            "SPARK_CONF_DIR",
            "XDG_CACHE_HOME",
            "JAVA_HOME",
        }
    }


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
