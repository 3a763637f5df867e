import ast
import glob
import importlib
import os

import pytest

from vector_database_watermarking_spark import session

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_TOOLS = sorted(glob.glob(os.path.join(_REPO, "tools", "*.py")))
_CLOCKS = {"time", "time_ns", "monotonic", "monotonic_ns", "perf_counter", "perf_counter_ns"}

pytestmark = pytest.mark.skipif(
    not os.path.exists("/proc/meminfo"), reason="needs /proc/meminfo"
)


def _mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise AssertionError("no MemTotal in /proc/meminfo")


def test_default_driver_heap_fits_physical_ram():
    heap = session.default_driver_memory()
    assert heap.endswith("m")
    mb = int(heap[:-1])
    assert 0 < mb <= min(_mem_total_mb() // 2, session.DRIVER_MEM_CAP_MB)


def test_session_heap_fits_physical_ram(spark):
    """The running JVM's max heap, whatever configured it, stays below
    the host's physical RAM."""
    max_heap = spark.sparkContext._jvm.java.lang.Runtime.getRuntime().maxMemory()
    assert 0 < max_heap <= _mem_total_mb() * 1024 * 1024
    if not os.environ.get("SPARK_DRIVER_MEM"):
        conf = spark.sparkContext.getConf().get("spark.driver.memory")
        assert conf == session.default_driver_memory()


def test_default_cpus_follow_env_then_affinity(monkeypatch):
    """Without ``SPARK_GRAFT_CPUS`` the session sizes ``local[N]`` to the
    CPUs this process may run on, not to a fixed count."""
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert session.default_cpus() == len(os.sched_getaffinity(0))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert session.default_cpus() == 3


def test_session_cores_follow_default(spark):
    assert spark.sparkContext.master == f"local[{session.default_cpus()}]"


def test_session_codegen_cache_holds_a_pipeline(spark):
    """The compiled-class cache outsizes one embed op's working set, so
    repeating a pipeline reuses its classes instead of recompiling."""
    got = spark.conf.get("spark.sql.codegen.cache.maxEntries")
    assert int(got) == session.CODEGEN_CACHE_ENTRIES > 100


def test_session_starts_python_workers_from_package_daemon(spark):
    """Python workers start from the package's daemon module, which
    drops Spark's zips from their path (tests/test_worker_daemon.py)."""
    conf = spark.sparkContext.getConf().get("spark.python.daemon.module")
    assert conf == session.WORKER_DAEMON == "vector_database_watermarking_spark._worker_daemon"
    importlib.import_module(conf)


def test_scratch_dir_under_spark_local_dirs(tmp_path, monkeypatch):
    """Query scratch lives under the first SPARK_LOCAL_DIRS entry, one
    dir per process; dirs left by dead processes are swept."""
    from vector_database_watermarking_spark.registry_more import _scratch_dir

    monkeypatch.setenv("SPARK_LOCAL_DIRS", f"{tmp_path},/nonexistent")
    with open("/proc/sys/kernel/pid_max") as f:
        dead_pid = int(f.read()) + 1  # above pid_max: never a live process
    base = tmp_path / "vdb_wm_scratch"
    dead = base / f"t_sf0.001_pid{dead_pid}"
    dead.mkdir(parents=True)
    got = _scratch_dir("t", "/data/sf0.001/")
    assert got == str(base / f"t_sf0.001_pid{os.getpid()}")
    assert not dead.exists()


def test_dead_jvm_stops_the_run_once(pytester, monkeypatch):
    """A py4j connection failure ends the run at the first failing test
    (the shared session conftest's hook); an unrelated refused
    connection does not."""
    monkeypatch.setenv(
        "PYTHONPATH", os.pathsep.join(filter(None, [_REPO, os.environ.get("PYTHONPATH")]))
    )
    pytester.makepyfile(
        """
        import socket

        from py4j.java_gateway import GatewayParameters, JavaGateway


        def test_unrelated_refusal():
            raise ConnectionRefusedError(111, "not the JVM")


        def test_dead_gateway():
            s = socket.socket()
            s.bind(("127.0.0.1", 0))
            port = s.getsockname()[1]
            s.close()  # nothing listens there any more
            gw = JavaGateway(gateway_parameters=GatewayParameters(port=port))
            gw.jvm.java.lang.System.currentTimeMillis()


        def test_never_runs():
            pass
        """
    )
    result = pytester.runpytest_subprocess("-p", "tests.conftest", "-p", "no:cacheprovider")
    result.assert_outcomes(failed=2)
    result.stdout.fnmatch_lines(["*the Spark JVM is unreachable*test_dead_gateway*"])
    assert "test_never_runs" not in result.stdout.str()


def _reads_clock(node) -> bool:
    for n in ast.walk(node):
        if isinstance(n, ast.Call):
            f = n.func
            if isinstance(f, ast.Attribute) and f.attr in _CLOCKS and getattr(f.value, "id", None) == "time":
                return True
            if isinstance(f, ast.Name) and f.id in _CLOCKS - {"time"}:
                return True
    return False


def _calls(node, attr: str) -> bool:
    return any(
        isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute) and n.func.attr == attr
        for n in ast.walk(node)
    )


def _hygiene_problems(path: str) -> list[str]:
    rel = os.path.relpath(path, _REPO)
    with open(path) as f:
        tree = ast.parse(f.read(), path)
    problems = []
    for n in ast.walk(tree):
        where = f"{rel}:{getattr(n, 'lineno', '?')}"
        if isinstance(n, ast.Constant) and isinstance(n.value, str):
            v = n.value
            if os.path.isabs(v) and (v.startswith(_REPO) or "/_scratch" in v):
                problems.append(f"{where}: hard-coded checkout path {v!r}")
        elif isinstance(n, ast.Call):
            keys = [a.value for a in n.args if isinstance(a, ast.Constant)]
            if "SPARK_GRAFT_CPUS" in keys and (len(n.args) > 1 or n.keywords):
                problems.append(f"{where}: SPARK_GRAFT_CPUS read with its own default")
            callee = getattr(n.func, "id", None) or getattr(n.func, "attr", None)
            cpus = [k.value for k in n.keywords if k.arg == "cpus"] + n.args[1:2]
            if callee == "get_spark" and any(isinstance(c, ast.Constant) for c in cpus):
                problems.append(f"{where}: get_spark with a fixed core count")
        elif isinstance(n, ast.Attribute):
            if n.attr == "builder" and getattr(n.value, "id", None) == "SparkSession":
                problems.append(f"{where}: SparkSession built outside session.get_spark")
        elif isinstance(n, ast.FunctionDef) and rel != "bench.py":
            if n.name == "consume" or n.name.startswith("timed"):
                problems.append(f"{where}: private copy of bench.{n.name}")
            elif _calls(n, "clearCache") and _reads_clock(n):
                problems.append(f"{where}: {n.name} times its own runs; use bench.timed")
    return problems


def test_bench_and_tools_share_one_timer_and_host_defaults():
    """bench.py holds the force-and-time primitives and every tool
    takes its cores and paths from the host: no checkout path literal,
    no private cores default, no ``get_spark`` with a literal core
    count, no second session builder, no second
    ``consume``/``timed`` and no clearCache-plus-clock loop."""
    problems = [p for path in [os.path.join(_REPO, "bench.py"), *_TOOLS] for p in _hygiene_problems(path)]
    assert not problems, "\n".join(problems)


def test_every_tool_imports():
    """A tool that imports a deleted module fails here, not when a
    scale run finally reaches it."""
    for path in _TOOLS:
        importlib.import_module(f"tools.{os.path.basename(path)[:-3]}")
