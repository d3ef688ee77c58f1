"""Serving-path benchmark of the graft engine over HTTP.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 15 --trace 0

Run from the repository root. The first run builds the engine and the
benchmark's launcher with sbt (perfbench/launcher) and each workload's
first run writes its generated store; later runs reuse both while no
source changed. Each run starts a fresh server JVM (`graft.api.HttpApi`
over the store at local[nproc]), sets it up (API open and first answer,
then two API restarts in the same JVM, each to its first answer), warms
it up, drives a fixed amount of the workload over HTTP (sized from
--seconds: about that long on a 4-core box), checks the answers, and
prints one JSON line last: {"correct", "attempted", "failed", "metrics"}.
--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones
(Spark listener on, trace=1 on every other read).
"""

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import loadgen  # noqa: E402
import metrics  # noqa: E402
import server  # noqa: E402

WORK = ".perfbench-work"
LAUNCHER = os.path.join("perfbench", "launcher")
SETUP_ROUNDS = 3


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    h = hashlib.sha256()
    roots = ["build.sbt", "project/build.properties", "src/main",
             os.path.join(LAUNCHER, "build.sbt"),
             os.path.join(LAUNCHER, "project", "build.properties"),
             os.path.join(LAUNCHER, "src")]
    for root in roots:
        for d, dirs, files in os.walk(root) if os.path.isdir(root) else [("", [], [root])]:
            dirs.sort()
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(p.encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def build():
    """compile the engine and the launcher (sbt, offline); return the
    runtime classpath and the sources' stamp. Reused while the sources are
    unchanged."""
    stamp_file = os.path.join(WORK, "build.stamp")
    cp_file = os.path.join(WORK, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read(), stamp
    log("building engine and launcher with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:  # the build resolves nothing from the network
        repos = os.path.expanduser("~/.sbt/repositories")
        opts = ["-Dsbt.offline=true"]
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    cmd = ["sbt", "--batch", "--no-server", "-Dsbt.log.noformat=true",
           "compile", "export Runtime/fullClasspath"]
    r = subprocess.run(cmd, cwd=LAUNCHER, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, timeout=840)
    out = r.stdout.decode(errors="replace").strip().splitlines()
    if r.returncode != 0 or not out:
        sys.stderr.write("\n".join(out[-40:]) + "\n")
        raise SystemExit("build failed")
    cp = out[-1].strip()
    if "scala-2.13/classes" not in cp:
        raise SystemExit("build printed no classpath")
    os.makedirs(WORK, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp, stamp


def store_cache(workload, stamp, args):
    """where this build keeps the workload's generated store; caches of
    other builds are removed"""
    root = os.path.abspath(os.path.join(WORK, "stores"))
    name = workload + "-" + hashlib.sha256(
        (stamp + " " + " ".join(args)).encode()).hexdigest()[:16]
    if os.path.isdir(root):
        for d in os.listdir(root):
            if d.startswith(workload + "-") and d != name:
                shutil.rmtree(os.path.join(root, d), ignore_errors=True)
    return os.path.join(root, name)


class Sampler(threading.Thread):
    """samples the server's ingest buffer and spill store every 250 ms"""

    def __init__(self, srv, spill_dir):
        super().__init__(daemon=True)
        self.srv, self.spill_dir = srv, spill_dir
        self.buffered, self.spill_files, self.spill_bytes = [], [], []
        self.halt = threading.Event()

    def run(self):
        while not self.halt.wait(0.25):
            try:
                self.buffered.append(self.srv.control("/stats")["buffered"])
                if self.spill_dir:
                    n, b = dir_files(self.spill_dir)
                    self.spill_files.append(n)
                    self.spill_bytes.append(b)
            except Exception:  # noqa: BLE001 - a sample lost to a swap
                pass


def dir_files(root):
    """(data files, bytes) of a parquet store, skipping hidden/marker files"""
    n = b = 0
    for d, _, files in os.walk(root):
        for f in files:
            if f.startswith((".", "_")):
                continue
            try:
                b += os.path.getsize(os.path.join(d, f))
                n += 1
            except OSError:
                pass
    return n, b


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(loadgen.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not (os.path.isfile("build.sbt") and os.path.isdir("src/main/scala/graft")):
        raise SystemExit("run from the repository root: build.sbt and "
                         "src/main/scala/graft are missing")
    cp, stamp = build()
    cores = os.cpu_count() or 4
    w = loadgen.WORKLOADS[a.workload](a.seed)
    store = w.store
    args = store.launcher_args() + w.launcher_args()
    srv = server.Server(cp, os.path.abspath(os.path.join(WORK, "run")),
                        args + ["--store", store_cache(a.workload, stamp, args),
                                "--listener", str(a.trace)], cores)
    probe = gen.Req("/api/v1/query",
                    [("query", "count(cpu_usage_user)"), ("time", store.end_ms // 1000)],
                    "probe")
    try:
        # set-up rounds, each ending at the first answer: round 1 launches
        # the JVM, which opens the API (after writing the store, the first
        # time in a build); later rounds restart the API in the same JVM
        rounds = []
        t = time.time()
        srv.start()
        port = srv.port
        for k in range(SETUP_ROUNDS):
            if k:
                t = time.time()
                port = srv.control("/reopen", timeout_s=120)["port"]
            op = loadgen.read(loadgen.Client(port), probe, False)
            if not op.ok:
                raise SystemExit(f"set-up probe failed: {op.error}")
            rounds.append(op.done - t)
        t = time.time()
        warm = w.warmup(port)
        warm_s = time.time() - t
        bad = [op.error for op in warm if not op.ok]
        log(f"setup rounds {[round(r, 2) for r in rounds]} (session "
            f"{srv.ready['session_s']:.1f}s, store {srv.ready['store_s']:.1f}s) "
            f"warm-up {warm_s:.1f}s ({len(warm)} ops, {len(bad)} failed)")
        spill_dir = os.path.join(srv.work, "spill") if w.spill_points else None
        if a.trace:
            srv.control("/jobs")  # drop the set-up's job records
        before = srv.control("/stats")
        sampler = Sampler(srv, spill_dir)
        sampler.start()
        t0 = time.time()
        ops = w.run(port, a.seconds, a.trace)
        window = time.time() - t0
        sampler.halt.set()
        sampler.join()
        after = srv.control("/stats")
        jobs = srv.control("/jobs") if a.trace else []
        rss = srv.peak_rss_mb()
        store_bytes = None
        if spill_dir:
            srv.control("/flush", timeout_s=120)
            store_bytes = dir_files(spill_dir)[1]
    finally:
        srv.stop()

    # samples in the spill store: its pre-spilled history plus every ack
    spilled = (w.spill_points * store.series_count() + w.samples_acked
               if spill_dir else 0)
    run = metrics.Run(a.workload, ops, window, rounds, rounds[0] + warm_s, before,
                      after, rss, sampler, jobs, w.lags, store_bytes, spilled)
    errors = [op.error for op in ops if not op.ok]
    for e in sorted(set(errors))[:10]:
        log(f"failed: {errors.count(e)}x {e}")
    out = run.trace_metrics() if a.trace else run.end_to_end()
    for t in run.thin:
        log(f"thin tail: {t}")
    print(json.dumps({"correct": run.correct, "attempted": len(ops),
                      "failed": len(errors), "metrics": out}))


if __name__ == "__main__":
    main()
