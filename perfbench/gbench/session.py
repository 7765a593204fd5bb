"""The benchmark's Spark session: one local JVM holding the driver and the
local executors, started from the benchmark's own working directory so the
relative ``target/*cache`` paths queries write land there."""
import os
import time

from pyspark.sql import SparkSession


def slots():
    return len(os.sched_getaffinity(0))


def heap_gb():
    """At most half of RAM, and no more than 2 GiB."""
    with open("/proc/meminfo") as fh:
        kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
    return max(1, min(2, kb // (2 * 1024 * 1024)))


def start(classes, work):
    """Start the session with ``work`` as the JVM's working directory."""
    n, heap = slots(), heap_gb()
    os.chdir(work)
    # a fixed heap size (-Xms = -Xmx), touched whole at start, keeps the
    # JVM's resident set from following which heap regions the collector
    # happened to use, which varies with GC timing on a contended host; a
    # fixed set of JIT compiler threads lets cpu_s tell their time apart
    b = (SparkSession.builder.master(f"local[{n}]").appName("graft-bench")
         .config("spark.driver.memory", f"{heap}g")
         .config("spark.driver.extraClassPath", classes)
         .config("spark.sql.shuffle.partitions", str(n))
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.sql.legacy.parquet.nanosAsLong", "true")
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false")
         .config("spark.local.dir", os.path.join(work, "spark-local"))
         .config("spark.sql.warehouse.dir", os.path.join(work, "spark-warehouse"))
         .config("spark.driver.extraJavaOptions",
                 f"-Xms{heap}g -XX:+AlwaysPreTouch -XX:-UseDynamicNumberOfCompilerThreads "
                 f"-Dderby.system.home={work}"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def start_event_log(spark, log_dir):
    """Attach Spark's own event logger, writing uncompressed JSON lines
    under ``log_dir``, so that only what runs until ``stop_event_log``
    is logged and pays the logging cost."""
    jvm, sc = spark._jvm, spark.sparkContext._jsc.sc()
    os.makedirs(log_dir, exist_ok=True)
    conf = sc.getConf().set("spark.eventLog.compress", "false")
    logger = jvm.org.apache.spark.scheduler.EventLoggingListener(
        sc.applicationId(), jvm.scala.Option.apply(None), jvm.java.net.URI("file://" + log_dir),
        conf, sc.hadoopConfiguration())
    logger.start()
    sc.listenerBus().addToEventLogQueue(logger)
    return logger


def stop_event_log(spark, logger):
    """Deliver every pending event to ``logger``, detach and close it."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    sc.removeSparkListener(logger)
    logger.stop()


def jvm_pid(spark):
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def peak_rss_mb(pid):
    """VmHWM (peak resident set) of process ``pid``, in MiB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


CLK_TCK = os.sysconf("SC_CLK_TCK")
# /proc shows a thread's name cut to 15 characters: HotSpot's
# "C1 CompilerThread0", "C2 CompilerThread1", ...
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _ticks(stat_path):
    """``(name, user + system ticks)`` from a /proc ``stat`` file."""
    with open(stat_path) as fh:
        head, rest = fh.read().rsplit(")", 1)
    fields = rest.split()
    return head.split("(", 1)[1], int(fields[11]) + int(fields[12])


def cpu_s(pid, proc="/proc"):
    """CPU seconds process ``pid`` has used, as ``(program, jit)``.

    ``program`` is user plus system time over all threads except the JIT
    compiler's; ``jit`` is the compiler threads' own. How much compiling
    lands in a given pass depends on when the compiler threads got a CPU,
    so it swings between runs of the same code and is kept apart. The
    session keeps a fixed set of compiler threads, so none exits and takes
    its time into the process total. Time the hypervisor steals from the
    machine is charged to neither, so unlike wall time they do not grow
    when a shared host is contended."""
    _, total = _ticks(f"{proc}/{pid}/stat")
    jit = 0
    for tid in os.listdir(f"{proc}/{pid}/task"):
        try:
            name, ticks = _ticks(f"{proc}/{pid}/task/{tid}/stat")
        except (FileNotFoundError, ProcessLookupError):
            continue  # the thread ended meanwhile
        if name.startswith(JIT_THREADS):
            jit += ticks
    return (total - jit) / CLK_TCK, jit / CLK_TCK


def steal_s():
    """CPU seconds the hypervisor has taken from this machine, all CPUs."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / CLK_TCK


def isolate(spark):
    """Drop scan persists and cached relations between operations, as
    graft's own bench harness does, so one operation's caches cannot
    skew the next."""
    spark._jvm.graft.functions.ScanFns.unpersistScans()
    spark._jsparkSession.catalog().clearCache()


def anchor_s(spark):
    """Host-speed yardstick: the fixed shuffle-plus-aggregate graft's
    bench uses, over 20M synthetic rows."""
    t0 = time.perf_counter()
    (spark.range(20_000_000).selectExpr("id % 1000 AS k", "id")
     .groupBy("k").sum("id").count())
    return time.perf_counter() - t0


def stop(spark):
    """Stop Spark and the JVM behind it, and wait until the JVM is gone."""
    sc = spark.sparkContext
    gateway = sc._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
    finally:
        try:
            gateway.shutdown()
        except Exception:
            pass
        if proc is not None:
            try:
                proc.stdin.close()
            except Exception:
                pass
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()
