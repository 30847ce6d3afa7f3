"""Build the program from source and drive its compiled classes over py4j.

The program under test is the repo's `src/main` Scala library. It is
compiled with the repo's own `build.sbt` (no build-file change) and put
on the classpath of a pyspark session's JVM; every call into it goes
through the public functions of its `graft.*` objects.
"""
import hashlib
import os
import subprocess
import sys
import time

CLASSES = os.path.join("target", "scala-2.13", "classes")
STAMP = os.path.join("target", ".perfbench-source-digest")
CORES = 4


class SetupError(Exception):
    """The checkout cannot be built or run; the benchmark prints no result."""


def source_files(root):
    must = [os.path.join(root, "build.sbt"),
            os.path.join(root, "project", "build.properties")]
    for p in must:
        if not os.path.isfile(p):
            raise SetupError(f"missing {os.path.relpath(p, root)}: not a checkout of the program")
    src = os.path.join(root, "src", "main")
    if not os.path.isdir(src):
        raise SetupError("missing src/main: not a checkout of the program")
    files = list(must)
    for d, _, fs in os.walk(src):
        files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def source_digest(root):
    h = hashlib.sha256()
    for p in source_files(root):
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def ensure_built(root, log=sys.stderr):
    """Compile `src/main` with sbt unless the classes already match the
    sources. Returns (digest, build seconds)."""
    digest = source_digest(root)
    stamp = os.path.join(root, STAMP)
    if os.path.isdir(os.path.join(root, CLASSES)) and os.path.isfile(stamp):
        with open(stamp) as f:
            if f.read().strip() == digest:
                return digest, 0.0
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "-Dsbt.server.autostart=false", "compile"],
                       cwd=root, env=env, stdout=log, stderr=log, timeout=840)
    if p.returncode != 0:
        raise SetupError(f"sbt compile failed with exit code {p.returncode}")
    with open(stamp, "w") as f:
        f.write(digest)
    return digest, time.time() - t0


def start_session(root, work, event_log_dir=None):
    """A local[4] session with the program's classes and extensions."""
    from pyspark.sql import SparkSession
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    b = (SparkSession.builder.master(f"local[{CORES}]")
         .appName("perfbench")
         .config("spark.driver.extraClassPath", os.path.join(root, CLASSES))
         .config("spark.sql.extensions", "graft.GraftExtensions")
         .config("spark.driver.memory", "2g")
         .config("spark.driver.extraJavaOptions",
                 f"-Djava.io.tmpdir={tmp} -XX:ReservedCodeCacheSize=512m "
                 # C1 only: a short run otherwise spends about half its CPU
                 # in C2 compiles that finish at random points of the timed
                 # pass, which is most of its run-to-run spread
                 "-XX:+UseCodeCacheFlushing -XX:TieredStopAtLevel=1 "
                 # the 2 GB heap is committed and touched up front, so peak
                 # RSS moves with memory outside the heap, not with G1's
                 # run-to-run heap sizing
                 "-Xms2g -XX:+AlwaysPreTouch")
         .config("spark.local.dir", os.path.join(work, "local"))
         .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
         .config("spark.sql.shuffle.partitions", str(CORES))
         .config("spark.default.parallelism", str(CORES))
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false")
         # write every status update, so executor totals read between
         # steps are complete
         .config("spark.ui.liveUpdate.period", "0")
         .config("spark.sql.execution.arrow.pyspark.enabled", "true"))
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", event_log_dir)
             .config("spark.eventLog.compress", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


class Jvm:
    """Thin helpers for calling Scala APIs through py4j."""

    def __init__(self, spark):
        self.spark = spark
        self.jvm = spark._jvm
        self.jss = spark._jsparkSession
        self.graft = self.jvm.graft

    def seq(self, items):
        lst = self.jvm.java.util.ArrayList()
        for x in items:
            lst.add(x)
        return self.jvm.scala.jdk.javaapi.CollectionConverters.asScala(lst).toList()

    def iterate(self, seq):
        it = seq.iterator()
        while it.hasNext():
            yield it.next()

    def some(self, x):
        return self.jvm.scala.Some(x)

    def col(self, name):
        return self.jvm.org.apache.spark.sql.functions.col(name)

    def df(self, jdf):
        from pyspark.sql import DataFrame
        return DataFrame(jdf, self.spark)

    # ---- process and JVM counters -------------------------------------
    def pid(self):
        return int(self.jvm.java.lang.management.ManagementFactory
                   .getRuntimeMXBean().getPid())

    def jvm_counters(self):
        mf = self.jvm.java.lang.management.ManagementFactory
        gc_ms = sum(int(b.getCollectionTime())
                    for b in mf.getGarbageCollectorMXBeans())
        jit_ms = int(mf.getCompilationMXBean().getTotalCompilationTime())
        code = 0
        for p in mf.getMemoryPoolMXBeans():
            n = p.getName()
            # segmented ("CodeHeap '...'") or single ("CodeCache") code cache
            if n.startswith("CodeHeap") or n in ("CodeCache", "Code Cache"):
                code += int(p.getUsage().getUsed())
        return {"gc_ms": gc_ms, "jit_ms": jit_ms, "codecache_mb": code / 2**20}


def proc_cpu_s(pid):
    """utime + stime of a process, in seconds."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def proc_hwm_mb(pid):
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def load1():
    return os.getloadavg()[0]
