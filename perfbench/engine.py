"""Builds the engine with the benchmark's command server and drives it.

The server (perfbench/jvm) is one JVM per run. It reads one JSON request
per line on stdin and answers with one ``@@PB {json}`` line on stdout;
everything else it prints goes to its log file.
"""
import codecs
import json
import os
import select
import shutil
import subprocess
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPLY_PREFIX = "@@PB "

# The forked `run` options of build.sbt: the JDK 17 module opens Spark
# needs outside spark-submit, the UI off, UTC, a pinned heap, G1 and a
# 512m code cache. The heap is pinned to a fixed size (build.sbt's
# SPARK_DRIVER_MEM override) so that it does not follow the host's free
# memory from run to run. -XX:-UsePerfData is the harness's own: it
# keeps the JVM from writing its counters file to the system temp dir.
HEAP = "4g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
JVM_OPTIONS = [
    "-Dspark.ui.enabled=false",
    "-Dspark.sql.session.timeZone=UTC",
    f"-Xmx{HEAP}",
    f"-Xms{HEAP}",
    "-XX:+UseG1GC",
    "-XX:ReservedCodeCacheSize=512m",
    "-XX:-UsePerfData",
]


def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME/jars, or next to the
    spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home:
        raise SystemExit("Spark not found: set SPARK_HOME")
    return os.path.join(home, "jars")


def nproc():
    return len(os.sched_getaffinity(0))


def session_conf(workload_kind, cores, local_dir):
    """Spark settings of the production entry each workload stands for:
    ``Pipeline.main`` for the sensor workloads, ``CurationPipeline.main``
    for the corpus (with SPARK_GRAFT_CPUS = cores). Only
    ``spark.local.dir`` is the harness's own, to keep scratch files in
    the run's directory."""
    if workload_kind == "sensor":
        conf = {
            "spark.app.name": "graft-pipeline",
            "spark.master": f"local[{cores}]",
            "spark.sql.shuffle.partitions": str(cores),
            "spark.sql.adaptive.enabled": "true",
            "spark.sql.session.timeZone": "UTC",
            "spark.sql.sources.partitionOverwriteMode": "dynamic",
        }
    else:
        conf = {
            "spark.master": f"local[{cores}]",
            "spark.sql.extensions": "graft.plans.GraftExtensions",
            "spark.sql.shuffle.partitions": str(cores),
            "spark.sql.session.timeZone": "UTC",
            "spark.ui.enabled": "false",
        }
    conf["spark.local.dir"] = local_dir
    return conf


def build(root, build_dir):
    """Compiles the engine's main sources and the command server into
    ``build_dir/classes`` (make skips it when nothing changed)."""
    engine = os.path.join(root, "src", "main", "scala", "graft", "Pipeline.scala")
    if not os.path.isfile(engine):
        raise SystemExit(f"engine sources not found: {engine}")
    subprocess.run(
        ["make", "-s", "-C", os.path.join(HERE, "jvm"), f"OUT={build_dir}",
         f"SPARK_JARS={spark_jars()}"],
        check=True, stdout=subprocess.DEVNULL)
    return os.path.join(build_dir, "classes")


class EngineError(RuntimeError):
    """The engine exited, or the run's deadline passed."""


class OpError(EngineError):
    """The engine answered a request with an exception."""


class Engine:
    """One server JVM. Use as a context manager: leaving it stops the
    JVM and waits until it has ended."""

    def __init__(self, classes, workdir, deadline):
        self.deadline = deadline
        tmp = os.path.join(workdir, "tmp")
        os.makedirs(tmp, exist_ok=True)
        self.log_path = os.path.join(workdir, "jvm.log")
        self._log = open(self.log_path, "w")
        opens = [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
        cmd = ["java", *opens, *JVM_OPTIONS, f"-Djava.io.tmpdir={tmp}",
               "-cp", f"{classes}:{spark_jars()}/*", "perfbench.Server"]
        self.proc = subprocess.Popen(
            cmd, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
            stderr=self._log, cwd=workdir, text=True, bufsize=1)
        self._buf = ""
        self._decoder = codecs.getincrementaldecoder("utf-8")()

    def __enter__(self):
        return self

    def __exit__(self, exc_type, *exc):
        if exc_type is not None and self.proc.poll() is None:
            self.proc.kill()
            self.proc.wait()
        self.close()

    def close(self):
        if self.proc.poll() is None:
            try:
                self.proc.stdin.write(json.dumps({"cmd": "quit"}) + "\n")
                self.proc.stdin.flush()
                self.proc.wait(timeout=30)
            except (OSError, subprocess.TimeoutExpired):
                self.proc.kill()
                self.proc.wait()
        self._log.close()

    def log_tail(self, n=40):
        with open(self.log_path) as f:
            return "".join(f.readlines()[-n:])

    def _readline(self):
        while "\n" not in self._buf:
            left = self.deadline - time.monotonic()
            if left <= 0:
                self.proc.kill()
                raise EngineError("run deadline passed while waiting for the engine")
            ready, _, _ = select.select([self.proc.stdout], [], [], left)
            if ready:
                raw = os.read(self.proc.stdout.fileno(), 65536)
                if not raw:
                    raise EngineError("engine exited:\n" + self.log_tail())
                self._buf += self._decoder.decode(raw)
        line, self._buf = self._buf.split("\n", 1)
        return line

    def call(self, cmd, **kw):
        """Sends one request; returns the reply. A request the engine
        answered with an exception raises OpError."""
        self.proc.stdin.write(json.dumps({"cmd": cmd, **kw}) + "\n")
        self.proc.stdin.flush()
        while True:
            line = self._readline()
            if line.startswith(REPLY_PREFIX):
                reply = json.loads(line[len(REPLY_PREFIX):])
                if not reply.get("ok"):
                    raise OpError(f"{cmd} failed:\n{reply.get('error', '')}")
                return reply
