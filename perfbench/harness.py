"""Shared plumbing for the graft benchmark scripts: checkout checks, the
sbt build of the benchmark package, the benchmark JVM, the canonical
output hash and the machine context.

Every path is relative to the checkout root, the working directory the
scripts are run from. Build outputs, query outputs, Spark scratch space
and run records all go under `.bench_build/perfbench/` there.
"""
import hashlib
import json
import os
import queue
import subprocess
import sys
import threading
import time
from pathlib import Path

ROOT = Path.cwd()
BENCH = Path(__file__).resolve().parent
WORK = ROOT / ".bench_build" / "perfbench"
DEFAULT_SF = "/root/testdata/sf0.1"
HEAP = "4g"

# The program under test, built from source next to the benchmark.
REQUIRED = ["build.sbt", "src/main/scala/graft/SparkEntry.scala", "scripts/check.py"]

# Spark 4 on JDK 17 outside spark-submit; the same list as the root build.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def check_checkout(sf_dir):
    missing = [p for p in REQUIRED if not (ROOT / p).is_file()]
    if missing:
        fail(f"run from the root of a graft checkout; missing {', '.join(missing)}")
    if not Path(sf_dir, "lineitem.parquet").is_file():
        fail(f"fixture tables not found in {sf_dir}")


def cores():
    return len(os.sched_getaffinity(0))


def _check():
    """The oracle gate's script, scripts/check.py, for its canonical form
    and fixture table list."""
    scripts = str(ROOT / "scripts")
    if scripts not in sys.path:
        sys.path.insert(0, scripts)
    import check
    return check


def rows_hash(cols, rows):
    """sha256 of a result in the oracle gate's canonical form: columns
    sorted by name, values canonicalized, rows sorted."""
    c, r = _check().canon_rows(cols, rows)
    return hashlib.sha256(json.dumps([c, r]).encode()).hexdigest(), len(r)


def parquet_hash(con, path):
    rel = con.execute(f"SELECT * FROM read_parquet('{path}/*.parquet')")
    return rows_hash([d[0] for d in rel.description], rel.fetchall())


def duckdb_on(sf_dir):
    """DuckDB with the fixture tables as views, as scripts/check.py sets up."""
    import duckdb
    con = duckdb.connect()
    for t in _check().TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


def source_hash():
    h = hashlib.sha256()
    files = sorted((ROOT / "src" / "main").rglob("*")) + sorted((BENCH / "src").rglob("*")) + [
        BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for f in files:
        if f.is_file():
            h.update(str(f.relative_to(ROOT)).encode())
            h.update(f.read_bytes())
    return h.hexdigest()


def build():
    """Compile graft and the benchmark driver with sbt, offline, unless the
    sources are unchanged since the last build. Returns the classpath."""
    WORK.mkdir(parents=True, exist_ok=True)
    stamp = WORK / "build.json"
    digest = source_hash()
    if stamp.is_file():
        saved = json.loads(stamp.read_text())
        if saved["sources"] == digest:
            return saved["classpath"]
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join([
        "-Dsbt.override.build.repos=true",
        f"-Dsbt.repository.config={Path.home() / '.sbt' / 'repositories'}",
        "-Dsbt.offline=true", "-Xmx2g"]))
    log = WORK / "build.log"
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime / fullClasspath"],
        cwd=BENCH, env=env, capture_output=True, text=True, stdin=subprocess.DEVNULL)
    log.write_text(proc.stdout + proc.stderr)
    out_lines = [l.strip() for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not out_lines:
        fail(f"build failed, see {log}", 1)
    classpath = out_lines[-1]
    stamp.write_text(json.dumps({"sources": digest, "classpath": classpath}))
    return classpath


def java_cmd(classpath, tmp):
    # A fixed-size heap: no heap resizing, and fewer young collections,
    # in the timed passes.
    return (["java", f"-Xmx{HEAP}", f"-Xms{HEAP}", f"-XX:CICompilerCount={max(4, cores() // 4)}",
             f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
            + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-cp", classpath, "graft.perfbench.Main"])


class Jvm:
    """The benchmark JVM with its protocol lines (stdout lines starting
    with `PERFBENCH `) readable with a deadline; its log goes to a file."""

    def __init__(self, classpath, args, run_dir, deadline):
        tmp = run_dir / "tmp"
        tmp.mkdir(parents=True, exist_ok=True)
        self.deadline = deadline
        self.log_path = run_dir / "jvm.log"
        self._log = open(self.log_path, "w")
        env = dict(os.environ, GRAFT_ARTIFACT_DIR=str(tmp / "artifacts"))
        self.proc = subprocess.Popen(
            java_cmd(classpath, tmp) + args, cwd=run_dir, env=env, text=True,
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=self._log)
        self._lines = queue.Queue()
        threading.Thread(target=self._pump, daemon=True).start()

    def _pump(self):
        for line in self.proc.stdout:
            if line.startswith("PERFBENCH "):
                self._lines.put(line[len("PERFBENCH "):].rstrip("\n"))
        self._lines.put(None)

    def expect(self, word):
        """The payload of the next protocol line, which must start with word."""
        try:
            line = self._lines.get(timeout=max(0.0, self.deadline - time.time()))
        except queue.Empty:
            line = None
        if line is None or not line.startswith(word):
            self.proc.kill()
            self.stop()
            tail = self.log_path.read_text().splitlines()[-15:]
            fail(f"benchmark JVM ended or timed out before {word}; "
                 f"log {self.log_path}:\n" + "\n".join(tail), 1)
        return line[len(word):].strip()

    def send(self, text):
        self.proc.stdin.write(text + "\n")
        self.proc.stdin.flush()

    def stop(self):
        """Waits for the JVM to exit (killing it at the deadline)."""
        if self.proc.poll() is None:
            try:
                self.proc.stdin.close()
            except OSError:
                pass
            try:
                self.proc.wait(timeout=max(1.0, min(20.0, self.deadline - time.time())))
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()
        self._log.close()


def oracle_queries(classpath):
    """{"workloads": {name: [query]}, "oracle_sql": {query: sql|None}} from
    the registry, for every workload query."""
    WORK.mkdir(parents=True, exist_ok=True)
    path = WORK / "oracle_sql.json"
    subprocess.run(java_cmd(classpath, WORK) + ["--oracles", str(path)],
                   check=True, stdin=subprocess.DEVNULL, stdout=subprocess.DEVNULL,
                   timeout=120)
    return json.loads(path.read_text())


def loadavg():
    return float(Path("/proc/loadavg").read_text().split()[0])


def steal_ticks():
    fields = Path("/proc/stat").read_text().splitlines()[0].split()
    return int(fields[8]) if len(fields) > 8 else 0


def git_commit():
    try:
        top = subprocess.run(["git", "-C", str(ROOT), "rev-parse", "--show-toplevel", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    lines = top.stdout.split()
    if top.returncode == 0 and len(lines) == 2 and Path(lines[0]) == ROOT:
        return lines[1]
    return None
