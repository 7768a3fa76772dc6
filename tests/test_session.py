"""Session defaults a warm query depends on, and how the driver JVM starts.

Spark keeps compiled generated classes in one cache per JVM, sized by the
static conf ``spark.sql.codegen.cache.maxEntries``. At Spark's default of
100 a pass over more than ~100 distinct classes evicts and recompiles
them on every pass. ``get_spark()`` sizes the cache to the catalog's
working set, so a second pass over the same entries compiles nothing, and
keeps the codegen stage ID out of generated class names, so an entry whose
stages AQE numbers differently on each call compiles nothing warm either.

The pass test starts its own Python process and JVM: the cache is
JVM-wide and is sized once, when the JVM first generates code, and the
suite's shared session has already compiled the classes of every test
that ran before this one. The class-data-sharing tests start their own
processes too, each with its own ``XDG_CACHE_HOME``: the archive flags act
only when ``get_spark()`` launches a JVM.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

from jaffle_shop_classic_spark import session
from jaffle_shop_classic_spark.operators.catalog import load_catalog
from jaffle_shop_classic_spark.session import CDS_SUBDIR, CODEGEN_CACHE_MAX_ENTRIES
from tools.ab_drift_runner import codegen_compilations

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# cheap relational entries whose generated code is the same on every run;
# together they generate well over 100 distinct classes at sf0.001
ENTRIES = (
    "jaffle_customers",
    "window_lag_lead",
    "window_ntile_cume",
    "window_running_distinct",
    "scd2_user_state_history",
    "join_full_outer",
    "pivot_native",
    "rfm_customer_segments",
    "event_markov_transitions",
)

# Two passes over the named entries in one fresh session; prints the
# session's cache conf and the classes each pass compiled.
TWO_PASSES = """
import json, sys
from jaffle_shop_classic_spark.operators.catalog import load_catalog
from jaffle_shop_classic_spark.session import get_spark
from tools.ab_drift_runner import codegen_compilations

sf_dir, names = sys.argv[1], sys.argv[2:]
spark = get_spark("codegen_cache_test")
catalog = load_catalog()
compiles = []
for _ in range(2):
    before = codegen_compilations(spark)
    for name in names:
        catalog[name].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    compiles.append(codegen_compilations(spark) - before)
conf = spark.conf.get("spark.sql.codegen.cache.maxEntries")
spark.stop()
print("PASSES " + json.dumps({"conf": conf, "compiles": compiles}))
"""


def test_get_spark_sets_codegen_cache_size(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(CODEGEN_CACHE_MAX_ENTRIES)
    assert spark.conf.get("spark.sql.codegen.useIdInClassName") == "false"


def test_second_warm_call_compiles_no_generated_class(spark, sf_dir):
    # its stages are numbered differently on each call; with the codegen
    # stage ID in the class name every warm call recompiled ~30-70 classes
    fn = load_catalog()["fd_discovery_profile"].fn

    def run():
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()

    run()  # cold
    run()  # first warm call
    before = codegen_compilations(spark)
    run()
    assert codegen_compilations(spark) - before == 0


def test_second_pass_compiles_no_generated_class(sf_dir):
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(p for p in (REPO, env.get("PYTHONPATH")) if p)
    proc = subprocess.run(
        [sys.executable, "-c", TWO_PASSES, sf_dir, *ENTRIES],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    line = next(ln for ln in proc.stdout.splitlines() if ln.startswith("PASSES "))
    got = json.loads(line[len("PASSES "):])
    first, second = got["compiles"]
    assert first > 100, f"the pass must overflow Spark's default cache of 100, got {first}"
    assert second == 0, f"warm pass recompiled {second} generated classes"
    assert got["conf"] == str(CODEGEN_CACHE_MAX_ENTRIES)


def test_driver_memory_follows_the_host(monkeypatch):
    gib, mib = 1 << 30, 1 << 20
    monkeypatch.setattr(session, "_meminfo_total_bytes", lambda: 16 * gib)
    monkeypatch.setattr(session, "_cgroup_memory_max_bytes", lambda: None)
    # 16 GiB less 4 slots x 512 MiB of Python workers and 1 GiB of JVM non-heap
    assert session.default_driver_memory(4) == f"{13 * gib // mib}m"
    monkeypatch.setattr(session, "_cgroup_memory_max_bytes", lambda: 8 * gib)
    assert session.default_driver_memory(4) == f"{5 * gib // mib}m"  # the lower limit wins
    monkeypatch.setattr(session, "_meminfo_total_bytes", lambda: 512 * gib)
    monkeypatch.setattr(session, "_cgroup_memory_max_bytes", lambda: None)
    assert session.default_driver_memory(4) == "31744m"  # under 32 GB: compressed oops
    monkeypatch.setattr(session, "_meminfo_total_bytes", lambda: 2 * gib)
    assert session.default_driver_memory(16) == "1024m"
    monkeypatch.setattr(session, "_meminfo_total_bytes", lambda: None)
    assert session.default_driver_memory(4) == "16g"


def test_session_driver_memory_is_the_override_or_the_host_default(spark):
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 8)
    want = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or session.default_driver_memory(cpus)
    assert spark.sparkContext.getConf().get("spark.driver.memory") == want


# One session in a fresh process: reports the archives its driver JVM
# maps, the archive flags and SPARK_CONF_DIR it was started with, and
# whether get_spark() left os.environ as it found it.
SESSION = """
import json, os
from jaffle_shop_classic_spark.session import get_spark

# pyspark itself exports these two whenever a context starts
OWN = ("SPARK_AUTH_SOCKET_TIMEOUT", "SPARK_BUFFER_SIZE")
before = {k: v for k, v in os.environ.items() if k not in OWN}
spark = get_spark("cds_test")
after = {k: v for k, v in os.environ.items() if k not in OWN}
assert spark.range(5).count() == 5
pid = spark.sparkContext._gateway.proc.pid
with open(f"/proc/{pid}/maps") as fh:
    mapped = sorted({ln.split()[-1] for ln in fh if ln.rstrip().endswith(".jsa")})
with open(f"/proc/{pid}/cmdline") as fh:
    flags = [a for a in fh.read().split("\\0") if a.startswith("-XX:") and "Archive" in a]
with open(f"/proc/{pid}/environ") as fh:
    jvm_env = dict(kv.split("=", 1) for kv in fh.read().split("\\0") if "=" in kv)
print("SESSION " + json.dumps({
    "mapped": mapped, "flags": flags, "env_same": before == after,
    "jvm_conf_dir": jvm_env.get("SPARK_CONF_DIR"),
}))
"""


def _session(cache, cwd, **env) -> dict:
    env = {**os.environ, "XDG_CACHE_HOME": str(cache), **env}
    env["PYTHONPATH"] = os.pathsep.join(p for p in (REPO, env.get("PYTHONPATH")) if p)
    proc = subprocess.run(
        [sys.executable, "-c", SESSION],
        cwd=cwd, env=env, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    line = next(ln for ln in proc.stdout.splitlines() if ln.startswith("SESSION "))
    return json.loads(line[len("SESSION "):])


def _archive(cache) -> str:
    cds = os.path.join(cache, CDS_SUBDIR)
    (name,) = [n for n in os.listdir(cds) if n.endswith(".jsa")]
    return os.path.join(cds, name)


@pytest.fixture(scope="module")
def trained_cache(tmp_path_factory):
    """A cache dir after one session trained the archive, and what that
    session reported."""
    cache = tmp_path_factory.mktemp("cds_cache")
    return cache, _session(cache, cache)


def test_first_process_publishes_the_archive_and_the_next_maps_it(trained_cache, tmp_path):
    cache, first = trained_cache
    archive = _archive(cache)
    (flag,) = first["flags"]
    assert flag.startswith(f"-XX:ArchiveClassesAtExit={archive}.") and flag.endswith(".tmp")
    assert first["env_same"]
    assert first["jvm_conf_dir"] == os.path.join(os.path.dirname(archive), "conf")
    with open(archive + ".size") as fh:
        assert int(fh.read()) == os.path.getsize(archive) > 0
    cds, name = os.path.split(archive)
    assert sorted(os.listdir(cds)) == sorted([name, name + ".size", "conf"])  # no temporary file
    assert os.stat(cds).st_mode & 0o777 == 0o700

    second = _session(cache, tmp_path)
    assert second["flags"] == [f"-XX:SharedArchiveFile={archive}"]
    assert archive in second["mapped"]
    assert second["env_same"]


def test_truncated_archive_is_deleted_and_the_session_still_starts(trained_cache, tmp_path):
    cache = tmp_path / "cache"
    shutil.copytree(trained_cache[0] / CDS_SUBDIR, cache / CDS_SUBDIR)
    archive = _archive(cache)
    half = os.path.getsize(archive) // 2
    os.chmod(archive, 0o600)
    os.truncate(archive, half)
    with open(archive + ".size", "w") as fh:
        fh.write(str(half))  # the size check alone would refuse it

    # mapping it kills the JVM with SIGBUS; the retry launches without it
    got = _session(cache, tmp_path)
    assert got["flags"] == [] and archive not in got["mapped"]
    assert not os.path.exists(archive) and not os.path.exists(archive + ".size")
    assert got["env_same"]
    assert not list(tmp_path.glob("hs_err_pid*.log"))  # the crash log went to the cache dir


def test_conf_dir_with_a_conf_file_launches_without_archive_flags(tmp_path):
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("# no settings\n")
    cache = tmp_path / "cache"
    got = _session(cache, tmp_path, SPARK_CONF_DIR=str(conf))
    assert got["flags"] == []
    assert got["jvm_conf_dir"] == str(conf)
    assert got["env_same"]
    assert not (cache / CDS_SUBDIR).exists()
