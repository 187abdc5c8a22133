"""SparkSession factory and session configuration (SURVEY §4).

Design: the engine never *owns* the session when invoked through the
driver contract (``__spark_entry__.entry``/``queries`` receive one);
``get_spark`` is for tests and ``bench.py``. ``ensure_conf`` applies
the runtime-settable determinism configs (UTC, Arrow) to any session,
whether we created it or the driver did.

100 TB posture: on a real cluster the static configs below (AQE,
shuffle partitions, broadcast threshold) come from spark-submit /
cluster defaults; nothing in this engine assumes local mode. Shuffle
partitions default to 2-3x total executor cores and AQE coalesces
them down per-stage at runtime.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from .registry import hold

# Runtime-settable (safe to apply to a session we did not create).
RUNTIME_CONF = {
    # Determinism: all timestamp <-> string/epoch conversions in UTC,
    # matching the DuckDB oracle's naive-UTC timestamps.
    "spark.sql.session.timeZone": "UTC",
    # Arrow for toPandas()/pandas UDFs: vectorized Python<->JVM transfer.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # AQE: runtime shuffle-partition coalescing, skew-join splitting,
    # runtime broadcast conversion. Core of the 100 TB posture.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Kept for TIMESTAMP(NANOS) files (Spark 4 rejects them outright
    # without it; with it they read as int64 nanos). The CURRENT
    # testdata stores events.ts as timestamp[us], which this conf does
    # not affect. Either way, loaders._normalize_ts sniffs the resolved
    # type and normalizes to TIMESTAMP - the loader never assumes this
    # conf (or any conf) actually applied.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


#: SparkContext application ids that already carry the package zip.
_SHIPPED: set[str] = set()


def _ship_package(spark: SparkSession) -> None:
    """Make ``pudatalake_spark`` importable inside executor Python
    workers regardless of the DRIVER's working directory.

    The mapInPandas/applyInPandas operators pickle functions that
    reference this package by module name; a worker resolves that
    import from ITS ``sys.path``, which contains the driver's cwd but
    not necessarily the repo root - a driver launched from ``/tmp``
    fails exactly 10 inventory keys with ``ModuleNotFoundError``
    (VERDICT r10 "what's wrong" #1). Shipping a zip of the package
    via ``sc.addPyFile`` puts it on every worker's path (and on any
    real cluster's executors, where a repo checkout can never be
    assumed). Idempotent per SparkContext; failure-safe like the
    conf loop (local path imports still work when cwd is the repo).
    """
    import tempfile
    import zipfile

    try:
        sc = spark.sparkContext
        app = sc.applicationId
        if app in _SHIPPED:
            return
        pkg_dir = os.path.dirname(os.path.abspath(__file__))
        # Ship ONLY when workers could not import the package anyway:
        # an added file measurably taxes EVERY task (A/B-measured r11:
        # a 60-key sf0.1 census runs 204 s with the zip registered vs
        # 102 s without - per-task dependency bookkeeping), so the
        # common case (local master, driver launched from the repo,
        # where workers inherit the driver's cwd/PYTHONPATH and
        # import by path) must stay zip-free. Local-mode workers see
        # the driver's cwd and PYTHONPATH; any non-local master
        # always ships.
        master = sc.master or ""
        if master.startswith("local"):
            repo_root = os.path.dirname(pkg_dir)
            # Worker reachability is decided from the paths the WORKER
            # will actually have, not the driver's current cwd: local
            # -mode Python workers are forked by the executor JVM, so
            # their cwd is the JVM's ``user.dir`` (pinned at session
            # creation - a driver that chdirs AFTER getOrCreate does
            # not move it, VERDICT r11 "wrong" #1), plus PYTHONPATH,
            # plus the interpreter's site-packages (a pip-installed
            # copy of this package needs no zip at all, ADVICE r11).
            reachable = set()
            try:
                jvm_cwd = sc._jvm.java.lang.System.getProperty("user.dir")
                if jvm_cwd:
                    reachable.add(os.path.abspath(jvm_cwd))
            except Exception:
                # No JVM handle (connect-mode shim): can't know the
                # worker cwd - leave it out and let site/PYTHONPATH
                # decide (conservative: unknown cwd => ship).
                pass
            reachable |= {
                os.path.abspath(p)
                for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
                if p
            }
            import site

            try:
                reachable |= {
                    os.path.abspath(p) for p in site.getsitepackages()
                }
                reachable.add(os.path.abspath(site.getusersitepackages()))
            except Exception:
                pass
            if repo_root in reachable:
                _SHIPPED.add(app)
                return
        zpath = os.path.join(
            tempfile.mkdtemp(prefix="pudatalake_pkg_"),
            "pudatalake_spark.zip",
        )
        with zipfile.ZipFile(zpath, "w", zipfile.ZIP_DEFLATED) as z:
            for root, _dirs, files in os.walk(pkg_dir):
                for f in sorted(files):
                    # The package reads no data files at import: its
                    # modules are all a worker needs.
                    if not f.endswith(".py"):
                        continue
                    full = os.path.join(root, f)
                    rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                    z.write(full, rel)
        sc.addPyFile(zpath)
        _SHIPPED.add(app)
    except Exception:
        # Session without an accessible context (connect-mode) or a
        # read-only temp dir: leave path-based imports in charge.
        pass


def ensure_conf(spark: SparkSession) -> SparkSession:
    """Apply runtime determinism/perf conf to an existing session."""
    for k, v in RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # Static conf on a running session - leave as-is.
            pass
    _ship_package(spark)
    return spark


#: opt-in conf: when set to a path, every iterative-superstep /
#: shared-frame materialization in the engine (CC, k-core, PageRank,
#: BFS, dedup-eval, ranks.global_order) uses RELIABLE
#: ``checkpoint()`` into that directory instead of
#: ``localCheckpoint``. Default unchanged: localCheckpoint (fastest;
#: non-replicated, so an executor loss fails the job - acceptable on
#: static clusters, the wrong trade under dynamic allocation / spot
#: executors, where this conf is the switch). Documented in
#: docs/SCALING.md §19.
CHECKPOINT_DIR_CONF = "spark.pudatalake.checkpoint.dir"


def superstep_checkpoint(df, eager: bool = False):
    """Materialize a frame that an iterative loop (or multiple
    consumers) will reuse, truncating lineage so each superstep's plan
    stays O(1) instead of O(rounds).

    Two physical strategies behind one call:

    - default: ``localCheckpoint`` - executor-local blocks, no
      replication, no distributed-FS round-trip. Measured best on the
      bench box (eager ``persist()`` was WORSE: the cache boundary
      blocks codegen fusion + AQE, BASELINE.md r5). Caveat: blocks are
      non-replicated; losing an executor fails the job instead of
      recomputing.
    - ``spark.pudatalake.checkpoint.dir=<path>``: reliable
      ``checkpoint()`` into that directory (set once per session via
      ``sparkContext.setCheckpointDir``; the first dir wins - the JVM
      checkpoint dir is session-global). Survives executor loss; the
      right posture for dynamic-allocation / spot clusters and for
      fixpoint loops long enough that a mid-loop loss is likely.
      Costs one write+read round-trip per superstep to the checkpoint
      filesystem. Lifecycle: checkpoint files are deleted when their
      RDD is GC'd only because ``get_spark`` sets
      ``spark.cleaner.referenceTracking.cleanCheckpoints=true`` (a
      STATIC conf - sessions built elsewhere must set it at build
      time or clean the directory themselves); files from a crashed
      driver always need external cleanup (SCALING.md §19).

    The registry records the checkpointed RDD's id and unpersists it
    when the enclosing ``registry.scope()`` exits, else when the next
    registered build starts (``registry.release``); a superstep a fixpoint loop has superseded is freed earlier, by the
    ContextCleaner once it is garbage.

    ``eager=False`` (default) defers only the job that writes the
    checkpoint blocks to the first downstream action. It does not keep
    the caller free of jobs: under AQE the checkpoint call executes the
    adaptive plan, which runs every shuffle stage below the frame right
    away, and with AQE off it runs none. Measured: a frame with two
    shuffles ran 2 jobs at the call with AQE on and 0 with it off, and
    a traced perfbench run counts ``operators.build_jobs = 3`` for
    q_graph_pagerank's builder. ``eager=True`` also runs the write job
    now, for a caller that needs the blocks before a driver-side count
    that gates a fixpoint loop.
    """
    spark = df.sparkSession
    sc = spark.sparkContext
    ckdir = spark.conf.get(CHECKPOINT_DIR_CONF, "")
    if not ckdir:
        out = df.localCheckpoint(eager=eager)
    else:
        if not sc._jsc.sc().getCheckpointDir().isDefined():
            sc.setCheckpointDir(ckdir)
        out = df.checkpoint(eager=eager)
    hold((sc, out._jdf.logicalPlan().rdd().id()))
    return out


def _default_heap() -> str:
    """Driver-heap default: RAM/4, clamped to [4g, 32g]."""
    try:
        total_gb = (
            os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
        ) // (1024 ** 3)
    except (ValueError, OSError, AttributeError):
        return "8g"
    return f"{max(4, min(32, total_gb // 4))}g"


def get_spark(
    app_name: str = "pudatalake-spark",
    master: str | None = None,
    shuffle_partitions: int = 32,
) -> SparkSession:
    """Build (or get) a session with the engine's standard config."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 4
    master = master or f"local[{cpus}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Heap default keyed on physical RAM, capped at the 32g that
        # measured best on the 128 GiB local[32] bench box (r6): the
        # old fixed 8g made a 20-query session GC-bound (orig-16
        # subtotal 10.1 s at 8g vs 7.8 s at 32g, uniform drift across
        # unrelated plans - the BENCH_r05 mystery); 64g regressed
        # (longer pauses). RAM/4 keeps the default safe on small dev
        # boxes (a fixed 32g would OOM a 16 GB laptop); on a real
        # cluster this comes from spark-submit sizing instead.
        .config("spark.driver.memory",
                os.environ.get("PUDL_DRIVER_MEM", _default_heap()))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Reliable-checkpoint hygiene (ADVICE r9): when the opt-in
        # CHECKPOINT_DIR_CONF path is used, Spark only deletes
        # checkpoint files whose RDD is GC'd if this cleaner flag is
        # on - otherwise per-superstep checkpoints accumulate for the
        # session lifetime (unbounded dir growth on long fixpoint
        # loops / long-lived clusters). Static conf, so it must be set
        # at build time; harmless when checkpointing is unused.
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
    )
    for k, v in RUNTIME_CONF.items():
        builder = builder.config(k, v)
    return ensure_conf(builder.getOrCreate())
