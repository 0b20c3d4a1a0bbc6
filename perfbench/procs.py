"""Building the JVM side, spawning server processes and reading /proc."""
import hashlib
import os
import re
import socket
import subprocess
import time
from pathlib import Path

from pyarrow import flight

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".bench_build" / "perfbench"

# what spark-submit adds for Spark 4 on JDK 17 (the engine's build.sbt
# passes the same list to its forked runs)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
HEAP = "3g"
READY_TIMEOUT_S = 150
CLK_TCK = os.sysconf("SC_CLK_TCK")
# "GC(12) Pause Young (Normal) (G1 Evacuation Pause) 1200M->310M(3072M) 4.1ms"
# (young and full pauses only: remark and cleanup pauses free little and
# log the occupancy mid-cycle)
GC_AFTER = re.compile(r"GC\(\d+\) Pause (Young|Full) .*?\d+[KMG]->(\d+)([KMG])\(\d+[KMG]\)")
UNIT_MB = {"K": 1 / 1024.0, "M": 1.0, "G": 1024.0}


# what the compiled classes depend on: the engine's build and sources
# and the harness's; any change to these means a rebuild
BUILD_INPUTS = ["build.sbt", "project/build.properties", "src/main",
                "perfbench/build.sbt", "perfbench/project/build.properties",
                "perfbench/src"]


def tree_hash(root, inputs):
    """Content hash of the files under `inputs` (paths relative to root),
    names included, in a fixed order."""
    h = hashlib.sha256()
    for rel in inputs:
        p = root / rel
        files = sorted(f for f in p.rglob("*") if f.is_file()) if p.is_dir() else [p]
        for f in files:
            if f.is_file():
                h.update(str(f.relative_to(root)).encode() + b"\0")
                h.update(f.read_bytes() + b"\0")
    return h.hexdigest()[:16]


def build():
    """Compile the engine (the root project) and the harness; returns the
    runtime classpath and the source hash it was built from. The
    classpath is reused while the sources hash the same; otherwise sbt
    recompiles what changed."""
    key = tree_hash(ROOT, BUILD_INPUTS)
    cp_file = WORK / "classpath.txt"
    if cp_file.exists():
        stored_key, _, cp = cp_file.read_text().partition("\n")
        if stored_key == key:
            return cp.strip(), key
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true")
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, capture_output=True, text=True, timeout=800)
    lines = [ln for ln in out.stdout.splitlines()
             if "classes" in ln and ":" in ln and not ln.startswith("[")]
    if out.returncode != 0 or not lines:
        raise RuntimeError("build failed:\n" + out.stdout[-3000:] + out.stderr[-2000:])
    WORK.mkdir(parents=True, exist_ok=True)
    cp_file.write_text(f"{key}\n{lines[-1]}\n")
    return lines[-1], key


def free_port():
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


def java():
    return jdk_tool("java")


def jdk_tool(name):
    home = os.environ.get("JAVA_HOME")
    return str(Path(home) / "bin" / name) if home else name


def jvm_version():
    out = subprocess.run([java(), "-version"], capture_output=True, text=True)
    return (out.stderr.splitlines() or ["unknown"])[0]


def _env(cpus, extra):
    # the engine's knobs stay at their defaults: nothing inherited
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    local = WORK / "spark-local"
    local.mkdir(parents=True, exist_ok=True)
    env.update({"SPARK_GRAFT_CPUS": str(cpus), "SPARK_LOCAL_DIRS": str(local)})
    env.update(extra)
    return env


class Server:
    """One engine JVM: graft.Serve (the product as shipped) or the
    benchmark's harness. The clock starts at spawn; `setup_s` is the
    time until the first DoGet("SELECT 1 AS a") succeeds."""

    def __init__(self, classpath, main, args, cpus, env=None, cwd=None):
        tmp = WORK / "tmp"
        tmp.mkdir(parents=True, exist_ok=True)
        self.gc_log = WORK / f"{main.rsplit('.', 1)[-1]}.gc.log"
        cwd = Path(cwd or WORK / "serve")
        cwd.mkdir(parents=True, exist_ok=True)
        cmd = [java(), *[a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")],
               # a fixed, pre-touched heap: its size is a deployment
               # choice, and a heap that grows mid-run makes peak RSS and
               # GC cost depend on when the run happened to grow it
               f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
               # the pre-touched heap is all resident, so RSS cannot show
               # what the program keeps on it; the GC log can
               f"-Xlog:gc:file={self.gc_log}",
               "-Dspark.ui.enabled=false",
               "-Dspark.sql.session.timeZone=UTC", f"-Djava.io.tmpdir={tmp}",
               "-cp", classpath, main, *args]
        self.log = open(WORK / f"{main.rsplit('.', 1)[-1]}.stderr.log", "w")
        self.t_spawn = time.monotonic()
        self.proc = subprocess.Popen(
            cmd, cwd=cwd, env=_env(cpus, env or {}), stdin=subprocess.PIPE,
            stdout=subprocess.PIPE, stderr=self.log, text=True, bufsize=1)
        self.port = None

    def wait_ready(self):
        """Poll until the Flight port accepts a DoGet; returns setup_s."""
        deadline = self.t_spawn + READY_TIMEOUT_S
        while time.monotonic() < deadline:
            if self.proc.poll() is not None:
                raise RuntimeError(f"server exited with {self.proc.returncode} during setup")
            try:
                with socket.create_connection(("127.0.0.1", self.port), timeout=0.5):
                    pass
            except OSError:
                time.sleep(0.01)
                continue
            # a fresh client per attempt: no gRPC reconnect backoff
            client = flight.FlightClient(f"grpc://127.0.0.1:{self.port}")
            try:
                client.do_get(flight.Ticket(b"SELECT 1 AS a")).read_all()
                return time.monotonic() - self.t_spawn
            except flight.FlightError:
                time.sleep(0.01)
            finally:
                client.close()
        raise RuntimeError("server not ready in time")

    def cpu_s(self):
        """utime + stime of the server process."""
        fields = Path(f"/proc/{self.proc.pid}/stat").read_text().rsplit(")", 1)[1].split()
        return (int(fields[11]) + int(fields[12])) / CLK_TCK

    def reset_peak_rss(self):
        """Restart VmHWM at the current RSS, so the peak covers only the
        measured phase. Returns False where the kernel refuses."""
        try:
            Path(f"/proc/{self.proc.pid}/clear_refs").write_text("5")
            return True
        except OSError:
            return False

    def peak_rss_mb(self):
        for line in Path(f"/proc/{self.proc.pid}/status").read_text().splitlines():
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
        raise RuntimeError("no VmHWM")

    def gc_mark(self):
        """Where the GC log ends now: the start of a measured phase."""
        return self.gc_log.stat().st_size if self.gc_log.exists() else 0

    def collect(self):
        """A full collection now (jcmd GC.run): the GC log then holds the
        live heap at this point. Informational, so a JDK without jcmd
        only loses that figure."""
        try:
            subprocess.run([jdk_tool("jcmd"), str(self.proc.pid), "GC.run"],
                           capture_output=True, timeout=60)
        except (OSError, subprocess.SubprocessError):
            pass

    def heap_after_gc_mb(self, mark):
        """(pause kind, heap occupancy in MB right after it) for each young
        or full collection logged since `mark`."""
        with open(self.gc_log, "rb") as f:
            f.seek(mark)
            text = f.read().decode(errors="replace")
        return [(m.group(1), int(m.group(2)) * UNIT_MB[m.group(3)])
                for m in GC_AFTER.finditer(text)]

    def stop(self):
        if self.proc.poll() is None:
            try:
                self.proc.stdin.write("quit\n")
                self.proc.stdin.flush()
            except (BrokenPipeError, OSError):
                pass
            self.proc.terminate()
            try:
                self.proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()
        for f in (self.proc.stdin, self.proc.stdout):
            try:
                f.close()
            except OSError:
                pass
        self.log.close()


def serve(classpath, data_dir, cpus):
    """Spawn graft.Serve on free ports (Flight and Thrift)."""
    port = free_port()
    s = Server(classpath, "graft.Serve", [str(data_dir)], cpus, env={
        "SPARK_GRAFT_FLIGHT_PORT": str(port),
        "SPARK_GRAFT_THRIFT_PORT": str(free_port())})
    s.port = port
    return s
