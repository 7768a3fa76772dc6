"""SparkSession factory.

Tuned for the driver's harness (local[N], single JVM) while keeping every
setting cluster-portable: AQE handles runtime re-planning (partition
coalescing, skew joins) on a real cluster; UTC session timezone pins
timestamp semantics so results compare exactly against the DuckDB oracle
(DuckDB timestamps are UTC-naive).

``run_concurrently`` overlaps independent Spark actions on a few Python
threads: at small scale an action is mostly fixed scheduling cost, so
independent ones are cheaper side by side than in a row.

``pinned_conf`` sets session confs for the length of a block and puts
them back as they were on every exit path.

``CODEGEN_CACHE_MAX_ENTRIES`` sizes Spark's cache of compiled generated
classes (``spark.sql.codegen.cache.maxEntries``, default 100) to the
catalog's working set, so a warm query in the long-lived session finds
its classes compiled. Guava splits the limit over 4 LRU segments of ~25
classes, so at 100 any working set past ~100 classes evicts and
recompiles on every pass: a ``catalog_mix`` benchmark pass generates
~210. A miss costs a Janino compile inside the task plus a fresh class
that starts out interpreted. A cold pass over the full catalog at
sf0.001 compiles ~4,600 classes (220-250 of them differ between runs
and miss at any size); 8192 gives each segment ~1.7x its mean share.
SCALING.md ("The generated-class cache") has the measurements.

- The cache is per JVM: the driver and each executor keep their own
  copy (in local mode they share one JVM and one cache).
- It is a static SQL conf, read once when a JVM first generates code.
  It is set on the SparkConf here, before the context starts, and
  executors get it with the SparkConf they are launched with.
- Cost, after a full GC on a 4-core VM: two full-catalog passes leave
  43 MB more metaspace and compressed class space in use than at 100
  entries (284 against 241 MB, ~9 KB per cached class), which bounds
  the extra at ~75 MB for 8192 classes. JVM RSS was 2.4 against 2.1 GB,
  mostly heap. On the ``catalog_mix`` working set the two differ by
  ~1 MB of metaspace.
- Sessions built elsewhere keep Spark's default of 100: a harness that
  creates its own session and hands it to ``__spark_entry__.entry(spark)``
  or ``queries()``, and any session that existed before ``get_spark()``
  was first called in the process (``getOrCreate`` applies no static
  conf to a running context).

``spark.sql.codegen.useIdInClassName=false`` keeps the codegen stage ID
out of generated class names. AQE numbers an entry's stages differently
from call to call, and with the ID in the name the source differed and
missed the cache: ``fd_discovery_profile`` recompiled 30-70 classes on
every warm call, and a warm full-catalog pass ~220 in all. Without it a
warm call compiles none.

``spark.driver.memory`` defaults to the host (``default_driver_memory``):
the lower of /proc/meminfo's MemTotal and the cgroup memory limit, less
512 MiB per task slot for Python workers and 1 GiB for the JVM's non-heap
memory, and below 32 GB so compressed oops stay on.
``SPARK_GRAFT_DRIVER_MEM`` overrides it.

Class-data sharing. A driver JVM starts by reading, parsing and verifying
~10,200 classes from Spark's jars (``get_spark()`` plus one query, logged
with ``-Xlog:class+load``; ~1,200 more come from the JDK's own archive).
When ``get_spark()`` is about to launch the JVM (no gateway yet), it
starts it from a dynamic CDS archive (JEP 350) of those classes instead,
through ``-XX:SharedArchiveFile`` in ``spark.driver.extraJavaOptions``;
then ~440 still come from the jars. On a quiet 4-core VM that takes
``get_spark()`` from ~3-5 s to ~2 s; SCALING.md ("Driver JVM start")
has the A/B.

- The archive is keyed by Spark's jar list (each jar's name, size and
  mtime), the JDK's ``release`` file and the compressed-oops mode of the
  heap. It lives in ``$XDG_CACHE_HOME/jaffle_shop_classic_spark/cds/``
  (default ``~/.cache``), a directory made with mode 0700, as
  ``<key>.jsa`` plus ``<key>.jsa.size``. One archive is 140-210 MB, and a
  new key's archive replaces the old ones. Deleting the directory resets it.
- Training: with no archive for the key, the JVM is launched with
  ``-XX:ArchiveClassesAtExit=<key>.jsa.<pid>.tmp`` and dumps the classes it
  loaded as it exits (~5 s, once). An ``atexit`` hook closes the gateway's
  stdin, waits for that exit and, only on status 0, publishes the file
  with ``os.replace`` and records its size.
- Conf dir: the JVM refuses to dump with a non-empty directory on the
  classpath, and Spark's launcher always puts ``SPARK_CONF_DIR`` (default
  ``$SPARK_HOME/conf``) there. So the archive is used only when that dir
  is missing or holds nothing but ``*.template`` files, which Spark never
  reads; the launch then points ``SPARK_CONF_DIR`` at the empty ``conf/``
  beside the archives and restores the variable afterwards. A conf dir
  with a real file launches exactly as without CDS.
- Fallbacks: an archive is mapped only if this uid owns it and its size
  is the recorded one, since mapping a truncated archive kills the JVM
  with SIGBUS (an archive of random bytes is skipped by the JVM). A launch
  with the archive flags that still fails is retried once without them,
  and an archive it was mapping is deleted. A JVM started elsewhere
  (``PYSPARK_GATEWAY_PORT``, or a gateway already running in the
  process) gets no flags.
- Cost: the archive's pages count in driver RSS as file-backed memory;
  peak JVM RSS in traced benchmark runs moved within run-to-run noise
  (``jaffle_dag`` 1908 → 1835 and 1835 → 1850 MB, ``catalog_mix``
  2816 → 2421 MB). The training run pays the dump once, 5-20 s at exit
  with the host's load.
"""

from __future__ import annotations

import atexit
import hashlib
import os
import shutil
import subprocess
from collections.abc import Callable, Iterator, Mapping, Sequence
from contextlib import contextmanager
from concurrent.futures import ThreadPoolExecutor
from typing import TypeVar

from py4j.protocol import Py4JError
from pyspark import SparkContext, inheritable_thread_target
from pyspark.errors import PySparkRuntimeError
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

T = TypeVar("T")

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# spark.sql.codegen.cache.maxEntries: the full catalog's ~4,600 distinct
# generated classes with headroom for Guava's 4 segments (module docstring)
CODEGEN_CACHE_MAX_ENTRIES = 8192

# Default driver heap: host memory less one Python worker per task slot and
# the JVM's own non-heap memory, kept under 32 GB so compressed oops stay on
PYTHON_WORKER_HEADROOM = 512 << 20
JVM_NON_HEAP_HEADROOM = 1 << 30
MIN_DRIVER_HEAP = 1 << 30
MAX_DRIVER_HEAP = 31 << 30
COMPRESSED_OOPS_MAX_HEAP = 32 << 30

# Class-data-sharing archive of the driver JVM (module docstring)
CDS_SUBDIR = os.path.join("jaffle_shop_classic_spark", "cds")
# the dump lists every class it skips (signed jars, old class files) on stdout
CDS_QUIET = "-Xlog:cds=off,cds+dynamic=off"
# the training JVM dumps as it exits (~5 s); how long the exiting process waits
CDS_DUMP_WAIT_S = 120


def get_spark(
    app_name: str = "jaffle_shop_classic_spark",
    shuffle_partitions: int | None = None,
    master: str | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    ``shuffle_partitions`` defaults to the local core count: at local test
    scale (sf<=0.1) Spark's 200-partition default just adds scheduling
    overhead, while on a real cluster this is sized to ~2-3x total cores.
    AQE coalesces small post-shuffle partitions either way, so the value
    is a ceiling, not a hard choice.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 8)
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus)
    driver_memory = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(int(cpus))
    confs = {
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        "spark.sql.codegen.cache.maxEntries": str(CODEGEN_CACHE_MAX_ENTRIES),
        # keeps the codegen stage ID out of the class name, so a plan whose
        # stages AQE numbers differently on each call hits the cache
        "spark.sql.codegen.useIdInClassName": "false",
        "spark.ui.enabled": "false",
        "spark.driver.memory": driver_memory,
    }

    def build(extra: Mapping[str, str]) -> SparkSession:
        builder = SparkSession.builder.master(master).appName(app_name)
        for key, value in {**confs, **extra}.items():
            builder = builder.config(key, value)
        return builder.getOrCreate()

    spark = _launch(build, driver_memory)
    spark.sparkContext.setLogLevel("WARN")
    return spark


def default_driver_memory(cpus: int) -> str:
    """``spark.driver.memory`` for this host: the lower of the machine's
    RAM and its cgroup limit, less ``PYTHON_WORKER_HEADROOM`` per task slot
    and ``JVM_NON_HEAP_HEADROOM``, clamped to [``MIN_DRIVER_HEAP``,
    ``MAX_DRIVER_HEAP``]. Without either reading (no /proc), 16g."""
    limits = [m for m in (_meminfo_total_bytes(), _cgroup_memory_max_bytes()) if m]
    if not limits:
        return "16g"
    heap = min(limits) - cpus * PYTHON_WORKER_HEADROOM - JVM_NON_HEAP_HEADROOM
    return f"{max(MIN_DRIVER_HEAP, min(heap, MAX_DRIVER_HEAP)) >> 20}m"


def _meminfo_total_bytes() -> int | None:
    """MemTotal from /proc/meminfo, or None where it cannot be read."""
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1]) * 1024
    except (OSError, ValueError, IndexError):
        pass
    return None


def _cgroup_memory_max_bytes() -> int | None:
    """The lowest memory limit of this process's cgroup: ``memory.max``
    (cgroup v2) or ``memory.limit_in_bytes`` (v1), looked up both under the
    path /proc/self/cgroup names and at the mount root (a cgroup namespace
    shows its own cgroup there). None when unlimited or unreadable."""
    try:
        with open("/proc/self/cgroup") as fh:
            lines = fh.read().splitlines()
    except OSError:
        return None
    files = []
    for line in lines:
        _, controllers, path = line.split(":", 2)
        if not controllers:
            files += [f"/sys/fs/cgroup{path}/memory.max", "/sys/fs/cgroup/memory.max"]
        elif "memory" in controllers.split(","):
            root = "/sys/fs/cgroup/memory"
            files += [f"{root}{path}/memory.limit_in_bytes", f"{root}/memory.limit_in_bytes"]
    limits = []
    for name in files:
        try:
            with open(name) as fh:
                value = fh.read().strip()
        except OSError:
            continue
        # v2 writes "max" when unlimited, v1 a number near 2**63
        if value.isdigit() and int(value) < 1 << 62:
            limits.append(int(value))
    return min(limits, default=None)


def _heap_bytes(memory: str) -> int:
    """Bytes in a ``spark.driver.memory`` string (no unit means MiB)."""
    units = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40, "p": 1 << 50}
    text = memory.strip().lower().removesuffix("b")
    if text and text[-1] in units:
        return int(text[:-1]) * units[text[-1]]
    return int(text) << 20


def _launch(build: Callable[[Mapping[str, str]], SparkSession], driver_memory: str) -> SparkSession:
    """``build({})``, except that a driver JVM this call starts is started
    from the class-data-sharing archive, or trains it (module docstring).
    A launch with the archive flags that fails is retried once without
    them; if it was mapping an archive, that archive is deleted first."""
    plan = _cds_plan(driver_memory)
    if plan is None:
        return build({})
    archive, tmp, conf_dir = plan
    flag = f"-XX:SharedArchiveFile={archive}" if tmp is None else f"-XX:ArchiveClassesAtExit={tmp}"
    # a JVM that dies mapping a damaged archive writes its crash log here,
    # not into the caller's directory; _remove_stale clears it when the
    # next archive is published
    crash_log = os.path.join(os.path.dirname(archive), "hs_err_pid%p.log")
    saved = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = conf_dir
    try:
        spark = build({"spark.driver.extraJavaOptions": f"{flag} -XX:ErrorFile={crash_log} {CDS_QUIET}"})
    except PySparkRuntimeError as e:
        if e.getCondition() != "JAVA_GATEWAY_EXITED":
            raise
        spark = None
    finally:
        if saved is None:
            del os.environ["SPARK_CONF_DIR"]
        else:
            os.environ["SPARK_CONF_DIR"] = saved
    if spark is None:
        # a damaged archive can crash the JVM as it maps it (SIGBUS)
        if tmp is None:
            _remove(archive, archive + ".size")
        return build({})
    if tmp is not None:
        atexit.register(_publish_archive, SparkContext._gateway.proc, tmp, archive)
    return spark


def _cds_plan(driver_memory: str) -> tuple[str, str | None, str] | None:
    """``(archive, tmp, conf_dir)`` for a driver JVM launch: the archive
    for this key; None as ``tmp`` when it is intact and is to be mapped,
    else the file the JVM is to dump a new one to as it exits; and the
    empty conf dir to launch with. None to launch as before: no JVM is
    about to start, the conf dir holds a real conf file, or no archive key
    or cache dir can be had."""
    if SparkContext._gateway is not None or "PYSPARK_GATEWAY_PORT" in os.environ:
        return None
    spark_home = _find_spark_home()
    conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    try:
        # the launcher puts the conf dir on the classpath, and the JVM
        # will not dump an archive with a non-empty directory there
        if not all(name.endswith(".template") for name in os.listdir(conf_dir)):
            return None
    except FileNotFoundError:
        pass
    except OSError:
        return None
    key = _archive_key(spark_home, driver_memory)
    if key is None:
        return None
    base = os.environ.get("XDG_CACHE_HOME") or os.path.join(os.path.expanduser("~"), ".cache")
    cds_dir = os.path.join(base, CDS_SUBDIR)
    empty_conf = os.path.join(cds_dir, "conf")
    try:
        os.makedirs(cds_dir, mode=0o700, exist_ok=True)
        os.makedirs(empty_conf, mode=0o700, exist_ok=True)
        if os.stat(cds_dir).st_uid != os.getuid() or os.listdir(empty_conf):
            return None
    except OSError:
        return None
    archive = os.path.join(cds_dir, key + ".jsa")
    tmp = None if _archive_intact(archive) else f"{archive}.{os.getpid()}.tmp"
    return archive, tmp, empty_conf


def _archive_key(spark_home: str, driver_memory: str) -> str | None:
    """What a dynamic archive is valid for: Spark's jars (name, size,
    mtime), the JDK the launcher runs (its ``release`` file) and the
    compressed-oops mode the heap size selects. None if one is unreadable."""
    java_home = os.environ.get("JAVA_HOME")
    if not java_home:
        java = shutil.which("java")
        if java is None:
            return None
        java_home = os.path.dirname(os.path.dirname(os.path.realpath(java)))
    digest = hashlib.sha256()
    try:
        jars = os.path.join(spark_home, "jars")
        for name in sorted(os.listdir(jars)):
            st = os.stat(os.path.join(jars, name))
            digest.update(f"{name}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
        with open(os.path.join(java_home, "release"), "rb") as fh:
            digest.update(fh.read())
        coops = _heap_bytes(driver_memory) < COMPRESSED_OOPS_MAX_HEAP
    except (OSError, ValueError):
        return None
    digest.update(b"coops" if coops else b"no-coops")
    return digest.hexdigest()[:32]


def _archive_intact(archive: str) -> bool:
    """The archive is ours and as long as when it was published: mapping
    a truncated archive crashes the JVM."""
    try:
        st = os.stat(archive)
        with open(archive + ".size") as fh:
            return st.st_uid == os.getuid() and st.st_size == int(fh.read())
    except (OSError, ValueError):
        return False


def _publish_archive(proc: subprocess.Popen, tmp: str, archive: str) -> None:
    """At interpreter exit: let the training JVM exit (it dumps ``tmp`` as
    it does), and if it exited with status 0, publish ``tmp`` as
    ``archive``, record its size and remove archives of other keys."""
    try:
        if proc.poll() is None:
            if SparkContext._active_spark_context is not None:
                # closes the accumulator server before the JVM drops its
                # connection to it, which would print an EOFError
                SparkContext._active_spark_context.stop()
            proc.stdin.close()  # the gateway exits on stdin EOF
            proc.wait(timeout=CDS_DUMP_WAIT_S)
        if proc.returncode != 0 or not os.path.isfile(tmp):
            return
        size = os.path.getsize(tmp)
        os.replace(tmp, archive)
        record = f"{archive}.size.{os.getpid()}.tmp"
        with open(record, "w") as fh:
            fh.write(str(size))
        os.replace(record, archive + ".size")
        _remove_stale(os.path.dirname(archive), os.path.basename(archive))
    except (OSError, Py4JError, subprocess.TimeoutExpired):
        pass
    finally:
        if proc.returncode is not None:
            _remove(tmp)


def _remove_stale(cds_dir: str, keep: str) -> None:
    """Remove every file in ``cds_dir`` except ``keep``, its size record
    and the temporary files of processes still running: that is, the
    archives of other keys and what dead training processes left."""
    for name in os.listdir(cds_dir):
        if name in (keep, keep + ".size") or not os.path.isfile(os.path.join(cds_dir, name)):
            continue
        if name.endswith(".tmp"):
            try:
                os.kill(int(name.split(".")[-2]), 0)
                continue  # a live process is still writing it
            except (ProcessLookupError, ValueError):
                pass
            except PermissionError:
                continue
        _remove(os.path.join(cds_dir, name))


def _remove(*paths: str) -> None:
    for path in paths:
        try:
            os.remove(path)
        except OSError:
            pass


def run_concurrently(spark: SparkSession, fns: Sequence[Callable[[], T]]) -> list[T]:
    """Call each of ``fns`` (independent Spark actions) on a pool of at
    most ``defaultParallelism`` threads; return their results in input
    order. Every call runs to completion, then the first failure in input
    order is re-raised, so callers see the exception the serial loop
    would have raised first. Each call inherits the caller's local
    properties (job group, scheduler pool) as they are at submission."""
    if len(fns) <= 1:
        return [fn() for fn in fns]
    workers = min(len(fns), spark.sparkContext.defaultParallelism)
    with ThreadPoolExecutor(max_workers=workers) as pool:
        futures = [pool.submit(inheritable_thread_target(spark)(fn)) for fn in fns]
    return [f.result() for f in futures]


@contextmanager
def pinned_conf(spark: SparkSession, confs: Mapping[str, str]) -> Iterator[None]:
    """Set each of ``confs`` on the session for the block, then restore
    every key as it was before: its old value, or unset if it was unset.
    The restore runs however the block exits, exceptions included."""
    saved = {key: spark.conf.get(key, None) for key in confs}
    try:
        for key, value in confs.items():
            spark.conf.set(key, value)
        yield
    finally:
        for key, value in saved.items():
            if value is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, value)
