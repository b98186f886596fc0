"""SparkSession factory.

The reference engine hand-manages a global buffer pool split across
join/sort consumers (reference: src/qp/optimizer/BufferManager.java:14-21,
src/QueryMain.java:93-115). On Spark, memory/spill management is
Tungsten's job; our knobs are partition counts, AQE, and broadcast
thresholds — set here once with scale-minded defaults.

Design notes for the 100 TB target (tested on local[32]):
  * AQE on: runtime partition coalescing, skew-join splitting, and
    plan re-optimization replace the reference's randomized
    iterative-improvement optimizer (src/qp/optimizer/RandomOptimizer.java).
  * shuffle.partitions defaults to cores locally; on a real cluster
    this should be ~2-3x total executor cores — AQE coalesces down,
    so err high. Exposed as a parameter.
  * maxPartitionBytes 128m: at 100 TB that is ~800k input splits —
    fine for a 1000-executor cluster, keeps per-task memory bounded.
  * Arrow enabled: every Pandas-UDF extension operator (dedup,
    similarity, multimodal) rides vectorized Arrow batches.
  * session timezone pinned UTC so timestamp semantics are stable
    across engines (and match the DuckDB oracle).
  * driver heap defaults to 3/4 of host RAM, capped at 31g: at 32g and
    above the JVM turns compressed oops off, so every object reference
    doubles in size.

Startup. The reference runs one process per query (src/QueryMain.java:
21-40, mirrored by ``cli.py``), so every call pays a cold driver JVM,
and that start is mostly class loading. ``get_spark`` therefore launches
the driver with a JDK dynamic class-data-sharing (AppCDS) archive: the
classes a driver loaded, pre-parsed and memory-mapped by later starts.
  * Where: ``$XDG_CACHE_HOME/database_query_processor_spark/cds/``
    (default ``~/.cache``), outside the repo and outside ``TMPDIR``.
    One archive ("slot") per key, about 160 MB each.
  * Key: the JDK (its resolved binary and ``release`` file), the
    classpath the launcher builds (conf directory path, and every jar's
    name, size and mtime) and whether compressed oops are on (heap
    size). These are what the JVM validates; ``-D`` properties are not,
    so they stay out of the key.
  * Life cycle: with no slot for the key, the driver runs with
    ``-XX:ArchiveClassesAtExit=<slot>.tmp-<uuid>`` and writes the
    archive as its JVM exits; that process then waits for its JVM at
    interpreter exit, probes the file with ``java -version`` and only
    then renames it into the slot (never overwriting a live slot in
    place). A truncated archive kills a JVM that maps it, so nothing
    maps an unprobed file. With a slot, the driver runs with
    ``-XX:SharedArchiveFile=<slot>``; a stale slot is ignored by the
    JVM, which then starts as it would without one.
  * Conf-dir rule: CDS refuses a non-empty directory on the classpath,
    and spark-submit puts ``$SPARK_CONF_DIR`` first. When that directory
    holds nothing but ``*.template`` files, the gateway is launched with
    ``SPARK_CONF_DIR`` pointing at ``cds/empty-conf/`` (a stable path:
    a fresh one per run would change the classpath and void the
    archive). When it holds real files, or the classpath is extended
    (``SPARK_CLASSPATH``, ``HADOOP_CONF_DIR``,
    ``spark.driver.extraClassPath``, ...), no CDS is used at all.
  * CDS is skipped too when a gateway is already running, or when the
    caller's java options already name ``SharedArchiveFile``,
    ``ArchiveClassesAtExit`` or ``-Xshare``.
  * Reset: delete the ``cds/`` directory; the next start writes a new
    archive.
"""

from __future__ import annotations

import atexit
import contextlib
import hashlib
import os
import re
import shlex
import shutil
import subprocess
import time
import uuid
from dataclasses import dataclass
from pathlib import Path

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession


def _default_cpus() -> int:
    """SPARK_GRAFT_CPUS, parsed lazily with a clear error — an
    import-time int('') would kill every entry point with a bare
    ValueError before argparse could say anything useful. Unset, it
    is the number of cores this process may run on."""
    raw = os.environ.get("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    try:
        n = int(raw)
    except ValueError as exc:
        raise ValueError(
            f"SPARK_GRAFT_CPUS must be an integer, got {raw!r}"
        ) from exc
    if n < 1:
        raise ValueError(f"SPARK_GRAFT_CPUS must be >= 1, got {n}")
    return n


def get_spark(
    app_name: str = "database_query_processor_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with scale-minded defaults."""
    cpus = _default_cpus()
    driver_memory = driver_memory or _default_driver_memory()
    master = master or f"local[{cpus}]"
    # explicit None check — `or` would silently replace a passed 0
    # with the default instead of surfacing the invalid value
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    elif shuffle_partitions < 1:
        raise ValueError(
            f"shuffle_partitions must be >= 1, got {shuffle_partitions}"
        )
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", driver_memory)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.cbo.enabled", "true")
        .config("spark.sql.cbo.joinReorder.enabled", "true")
        # Pin ANSI explicitly: Spark 4.x defaults it ON (3.x defaulted
        # off). The whole 205-query oracle surface is verified under
        # ANSI=true; pinning makes that intent survive version drift.
        # Consequence: data-dependent divides MUST be guarded
        # (try_divide / predicates) — unguarded x/0 is a job-killing
        # DIVIDE_BY_ZERO, not a NULL.
        .config("spark.sql.ansi.enabled", "true")
        .config("spark.ui.enabled", "false")
        # no [Stage N:> ...] bars on stderr: they interleave with the
        # CLI's and tools' own output and fill captured logs
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.warehouse.dir", "/tmp/dqps-warehouse")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # InferFiltersFromGenerate copies the generator's INPUT
        # expression into an inferred `size(e) > 0 AND e IS NOT NULL`
        # filter below the Generate. The text pipelines explode
        # COMPUTED arrays (shingles, n-grams, token arrays) built from
        # higher-order functions — CodegenFallback, so the duplicated
        # tree is interpreted with no subexpression reuse and the
        # "filter" costs 2 more full evaluations per row than the
        # explode itself (measured 18x on the 3-gram pipeline: 29.8 s
        # -> 1.7 s at sf0.1, artifacts/X04_DECOMP_r12.json). The
        # rule's upside — pruning empty-array rows before a shuffle or
        # at a parquet scan — needs STORED arrays. Only x36 explodes
        # one, embeddings.embedding, which is never null or empty, so
        # the inferred filter would remove nothing (tests/test_plans.py
        # gates the list). Excluding the rule is scale-independent (the
        # re-evaluation tax is per-row on any cluster) and
        # semantics-preserving (the filter it infers only removes rows
        # the Generate drops anyway).
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        # events.parquet carries TIMESTAMP(NANOS) which the vectorized
        # reader rejects; read as long, catalog converts to micros.
        # catalog.footer_schema mirrors this on the driver: it maps an
        # INT64 timestamp[ns] footer column to long.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    conf = {"spark.driver.memory": driver_memory, **(extra_conf or {})}
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    cds = _cds_plan(conf)
    if cds is None:
        spark = builder.getOrCreate()
    else:
        builder = builder.config(
            "spark.driver.extraJavaOptions",
            cds.java_options(conf.get("spark.driver.extraJavaOptions", "")),
        )
        with cds.launch_env():
            spark = builder.getOrCreate()
        if cds.tmp is not None:
            atexit.register(_promote_at_exit, cds, SparkContext._gateway.proc)
    spark.sparkContext.setLogLevel("WARN")
    return spark


def _default_driver_memory() -> str:
    """Three quarters of host RAM, capped at 31g so compressed oops stay on."""
    ram_mb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") >> 20
    return f"{max(1024, min(31 * 1024, ram_mb * 3 // 4))}m"


# -- driver class-data sharing (see the module docstring) ---------------

# keep the thousands of [warning][cds] lines a dump prints off stdout
_CDS_QUIET = ("-Xlog:cds=off", "-Xlog:cds+dynamic=off")
# the caller manages CDS itself
_CDS_OWN = ("SharedArchiveFile", "ArchiveClassesAtExit", "-Xshare")
# a gateway launched elsewhere, or a classpath the key does not cover
_CDS_FOREIGN_ENV = (
    "PYSPARK_GATEWAY_PORT", "PYSPARK_SUBMIT_ARGS", "SPARK_CLASSPATH",
    "SPARK_DIST_CLASSPATH", "HADOOP_CONF_DIR", "YARN_CONF_DIR",
)
# environment the driver JVM also takes java options from
_JAVA_OPTS_ENV = ("SPARK_SUBMIT_OPTS", "JAVA_TOOL_OPTIONS", "JDK_JAVA_OPTIONS", "_JAVA_OPTIONS")
# largest -Xmx with compressed oops on JDK 17 (32736m is on, 32750m off)
_OOPS_MAX_HEAP = 32736 << 20
_HEAP_UNIT = {"": 0, "k": 10, "m": 20, "g": 30, "t": 40}
_DUMP_WAIT_S = 120  # a dump of ~160 MB takes 10-20 s
_STALE_TMP_S = 3600  # a .tmp-* this old has no live writer


@dataclass(frozen=True)
class _Cds:
    """One driver launch's archive: map ``slot``, or, when it is missing,
    dump to ``tmp`` and promote that at exit."""

    java: str
    oops: bool
    slot: Path
    conf_dir: Path
    tmp: Path | None

    def java_options(self, caller: str) -> str:
        flag = (f"-XX:ArchiveClassesAtExit={self.tmp}" if self.tmp is not None
                else f"-XX:SharedArchiveFile={self.slot}")
        return " ".join(filter(None, (caller, shlex.quote(flag), *_CDS_QUIET)))

    @contextlib.contextmanager
    def launch_env(self):
        """SPARK_CONF_DIR at the empty conf dir for the gateway launch only."""
        prev = os.environ.get("SPARK_CONF_DIR")
        os.environ["SPARK_CONF_DIR"] = str(self.conf_dir)
        try:
            yield
        finally:
            if prev is None:
                os.environ.pop("SPARK_CONF_DIR", None)
            else:
                os.environ["SPARK_CONF_DIR"] = prev

    def probe(self, archive: Path) -> bool:
        """Whether a JVM maps ``archive`` and its checksums hold; a
        truncated one exits non-zero."""
        cmd = [
            self.java, f"-XX:SharedArchiveFile={archive}", "-Xshare:auto",
            "-XX:+VerifySharedSpaces", "-XX:ErrorFile=/dev/null", "-XX:-CreateCoredumpOnCrash",
            f"-XX:{'+' if self.oops else '-'}UseCompressedOops", *_CDS_QUIET, "-version",
        ]
        try:
            run = subprocess.run(cmd, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
                                 timeout=60)
        except (OSError, subprocess.TimeoutExpired):
            return False
        return run.returncode == 0


def _compressed_oops(memory: str, java_opts: str) -> bool | None:
    """Whether the driver JVM runs with compressed oops; None if unknown."""
    flags = re.findall(r"-XX:([+-])UseCompressedOops", java_opts)
    if flags:
        return flags[-1] == "+"
    m = re.fullmatch(r"(\d+)([kmgt]?)", memory.strip().lower())
    return None if m is None else int(m[1]) << _HEAP_UNIT[m[2]] <= _OOPS_MAX_HEAP


def _cds_plan(conf: dict[str, str]) -> _Cds | None:
    """The archive for launching a driver with ``conf``, or None where
    CDS must not be used and the launch stays as it was."""
    java_opts = " ".join([conf.get("spark.driver.extraJavaOptions", "")]
                         + [os.environ.get(v, "") for v in _JAVA_OPTS_ENV])
    if (SparkContext._gateway is not None
            or any(os.environ.get(v) for v in _CDS_FOREIGN_ENV)
            or "spark.driver.extraClassPath" in conf
            or any(w in java_opts for w in _CDS_OWN)):
        return None
    oops = _compressed_oops(conf["spark.driver.memory"], java_opts)
    java_home = os.environ.get("JAVA_HOME")
    java = shutil.which(os.path.join(java_home, "bin", "java") if java_home else "java")
    cache = os.environ.get("XDG_CACHE_HOME") or os.path.join(os.path.expanduser("~"), ".cache")
    if oops is None or java is None or not os.path.isabs(cache):
        return None
    spark_home = Path(_find_spark_home())
    real_conf = Path(os.environ.get("SPARK_CONF_DIR") or spark_home / "conf")
    root = Path(cache, "database_query_processor_spark", "cds")
    empty = root / "empty-conf"
    jdk = Path(java).resolve()
    try:
        if real_conf.is_dir() and any(not p.name.endswith(".template") for p in real_conf.iterdir()):
            return None
        empty.mkdir(parents=True, exist_ok=True)
        if any(empty.iterdir()):
            return None
        jars = sorted((p.name, p.stat().st_size, p.stat().st_mtime_ns)
                      for p in (spark_home / "jars").iterdir())
        release = (jdk.parent.parent / "release").read_text()
    except OSError:
        return None
    for tmp in root.glob("*.tmp-*"):
        with contextlib.suppress(FileNotFoundError):
            if time.time() - tmp.stat().st_mtime > _STALE_TMP_S:
                tmp.unlink()
    key = repr((str(jdk), release, str(empty), str(spark_home / "jars"), jars, oops))
    slot = root / f"driver-{hashlib.sha256(key.encode()).hexdigest()[:16]}.jsa"
    tmp = None if slot.exists() else root / f"{slot.name}.tmp-{uuid.uuid4().hex}"
    return _Cds(str(jdk), oops, slot, empty, tmp)


def _promote(cds: _Cds) -> None:
    """Rename a dumped archive into its slot if it probes clean, else drop it.
    os.replace never rewrites a slot that live JVMs have mapped."""
    if not cds.slot.exists() and cds.tmp.exists() and cds.probe(cds.tmp):
        os.replace(cds.tmp, cds.slot)
    else:
        cds.tmp.unlink(missing_ok=True)


def _promote_at_exit(cds: _Cds, proc: subprocess.Popen) -> None:
    """The gateway JVM exits on EOF from this process and writes its
    archive as it goes; promote it only once that JVM is gone."""
    if proc.poll() is None:
        proc.stdin.close()
        try:
            proc.wait(timeout=_DUMP_WAIT_S)
        except subprocess.TimeoutExpired:
            return  # left to the stale-tmp sweep
    _promote(cds)
