"""Start and stop the benchmark's server JVM (perfbench.Launcher)."""

import json
import os
import shutil
import subprocess
import time
import urllib.request

# what spark-submit would pass on JDK 17 (the root build's jdk17AddOpens)
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


# a fixed heap: no resizing, so peak RSS and GC cost repeat run to run
HEAP = "2g"


class Server:
    def __init__(self, classpath, work, launcher_args, cores):
        self.classpath, self.work = classpath, work
        self.args, self.cores = launcher_args, cores
        self.proc = None
        self.port = self.ctl = None
        self.ready = None

    def start(self, timeout_s=150):
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(os.path.join(self.work, "tmp"))
        cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}",
               f"-Djava.io.tmpdir={self.work}/tmp", "-Dspark.sql.session.timeZone=UTC"]
        for p in ADD_OPENS:
            cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
        cmd += ["-cp", self.classpath, "perfbench.Launcher",
                "--work", self.work, "--cores", str(self.cores)] + self.args
        self.log = open(os.path.join(self.work, "server.log"), "wb")
        self.proc = subprocess.Popen(cmd, stdin=subprocess.PIPE, stdout=self.log,
                                     stderr=subprocess.STDOUT)
        ready = os.path.join(self.work, "ready.json")
        deadline = time.monotonic() + timeout_s
        while not os.path.exists(ready):
            if self.proc.poll() is not None or time.monotonic() > deadline:
                self.stop()
                raise RuntimeError("server did not start; see " +
                                   os.path.join(self.work, "server.log"))
            time.sleep(0.05)
        with open(ready) as f:
            self.ready = json.load(f)
        self.port, self.ctl = self.ready["port"], self.ready["ctl"]

    def control(self, path, timeout_s=60):
        with urllib.request.urlopen(f"http://127.0.0.1:{self.ctl}{path}",
                                    timeout=timeout_s) as r:
            return json.loads(r.read())

    def peak_rss_mb(self):
        with open(f"/proc/{self.proc.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("VmHWM not found")

    def stop(self):
        """kill the JVM and wait for it: every result is read by then, and
        the next run starts from a fresh work directory"""
        if self.proc is None:
            return
        self.proc.kill()
        self.proc.wait()
        self.proc.stdin.close()
        self.log.close()
        self.proc = None
