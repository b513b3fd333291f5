"""Build the program and its launcher, and run one engine JVM.

The build is `sbt "export Runtime/fullClasspath"` in `perfbench/engine`,
whose build depends on the program in the repository root, so sbt compiles
both from source. A stamp over every source and build file keeps a second
run from building again; the build's wall time is reported apart and
enters no metric.
"""
import hashlib
import json
import os
import shutil
import signal
import subprocess
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
LAUNCHER_BUILD = HERE / "engine"
STAMP = LAUNCHER_BUILD / "target" / "perfbench-build.json"

# Spark 4 on JDK 17 outside spark-submit needs these (the program's
# build.sbt passes the same list to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class BuildError(RuntimeError):
    pass


def _sources(root):
    """Every file whose change must rebuild: the program's sources and
    build definition, and the launcher's."""
    files = []
    for base in (root / "src" / "main", LAUNCHER_BUILD / "src"):
        files += [p for p in base.rglob("*") if p.is_file()]
    for p in (root / "build.sbt", root / "project" / "build.properties",
              LAUNCHER_BUILD / "build.sbt",
              LAUNCHER_BUILD / "project" / "build.properties"):
        if p.is_file():
            files.append(p)
    files += sorted((root / "project").glob("*.sbt"))
    return sorted(files)


def _digest(root):
    h = hashlib.sha256()
    for p in _sources(root):
        h.update(str(p.relative_to(root)).encode())
        h.update(b"\0")
        h.update(p.read_bytes())
        h.update(b"\0")
    return h.hexdigest()


def program_present(root):
    src = root / "src" / "main" / "scala"
    return (root / "build.sbt").is_file() and src.is_dir() and \
        any(src.rglob("*.scala"))


def build(root, log_path):
    """Return (classpath, seconds spent building; 0.0 when up to date)."""
    if not program_present(root):
        raise BuildError(f"no program sources under {root}")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        raise BuildError("sbt and java are needed to build the program")
    digest = _digest(root)
    if STAMP.is_file():
        st = json.loads(STAMP.read_text())
        cp = st.get("classpath", "")
        if st.get("digest") == digest and cp and all(
                Path(p).exists() for p in cp.split(os.pathsep)[:2]):
            return cp, 0.0
    t0 = time.monotonic()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = [env.get("SBT_OPTS", ""), "-Xmx2g", "-Dsbt.offline=true"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.is_file():
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(o for o in opts if o)
    log_path.parent.mkdir(parents=True, exist_ok=True)
    with open(log_path, "wb") as log:
        proc = subprocess.Popen(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "export Runtime/fullClasspath"],
            cwd=LAUNCHER_BUILD, env=env, stdout=subprocess.PIPE,
            stderr=log, stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=700)
        except BaseException:
            _kill_group(proc)
            raise
        log.write(out)
    if proc.returncode != 0:
        raise BuildError(f"sbt failed ({proc.returncode}); see {log_path}")
    lines = [l for l in out.decode(errors="replace").splitlines()
             if ".jar" in l and not l.startswith("[")]
    if not lines:
        raise BuildError(f"sbt printed no classpath; see {log_path}")
    cp = lines[-1].strip()
    STAMP.parent.mkdir(parents=True, exist_ok=True)
    STAMP.write_text(json.dumps({"digest": digest, "classpath": cp}))
    return cp, time.monotonic() - t0


def _kill_group(proc):
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()


class Engine:
    """One engine JVM running `perfbench.Launcher`, answering one JSON
    line per control command on its stdout."""

    def __init__(self, classpath, args, run_dir, heap):
        tmp = run_dir / "tmp"
        tmp.mkdir(parents=True, exist_ok=True)
        cmd = (["java"] +
               [f"--add-opens={m}=ALL-UNNAMED" for m in ADD_OPENS] +
               [f"-Xms{heap}", f"-Xmx{heap}", f"-Djava.io.tmpdir={tmp}",
                "-Dspark.ui.enabled=false",
                "-Dspark.sql.session.timeZone=UTC",
                "-cp", classpath, "perfbench.Launcher"] + args)
        self.log = open(run_dir / "engine.log", "wb")
        self.proc = subprocess.Popen(
            cmd, cwd=run_dir, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
            stderr=self.log, start_new_session=True)

    def read(self):
        """Next control answer (skips any stray stdout line)."""
        while True:
            line = self.proc.stdout.readline()
            if not line:
                raise RuntimeError("engine exited; see engine.log")
            if line.startswith(b"@@ "):
                return json.loads(line[3:])

    def call(self, *fields):
        self.proc.stdin.write(("\t".join(fields) + "\n").encode())
        self.proc.stdin.flush()
        ans = self.read()
        if "error" in ans:
            raise RuntimeError(ans["error"])
        return ans

    def peak_rss_mb(self):
        """VmHWM of the engine JVM: its resident-set high-water mark."""
        with open(f"/proc/{self.proc.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("no VmHWM for the engine process")

    def close(self, timeout=30):
        """Ask the engine to quit; kill its whole process group if it
        does not end in time (or was never asked)."""
        if self.proc.poll() is None:
            try:
                self.proc.stdin.write(b"quit\n")
                self.proc.stdin.flush()
                self.proc.stdin.close()
                self.proc.wait(timeout=timeout)
            except (OSError, subprocess.TimeoutExpired):
                pass
        if self.proc.poll() is None:
            _kill_group(self.proc)
        else:
            try:  # anything the JVM left behind in its group
                os.killpg(self.proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        self.log.close()
