"""Load generator of the serving-path benchmark: the workloads' clients,
their seeded requests, and the closed-form checks of the answers."""

import http.client
import random
import threading
import time

import gen
import stats

HOUR_MS = 3_600_000


class Op:
    """one request as the client saw it (times are epoch seconds)"""

    __slots__ = ("kind", "cls", "due", "send", "done", "ok", "error", "status",
                 "exec_ms", "nbytes", "samples", "plan_ms", "stream_ms",
                 "traced", "checked", "wrong", "rows")

    def __init__(self, kind, cls):
        self.kind, self.cls = kind, cls
        self.due = self.send = self.done = None
        self.ok, self.error, self.status = False, None, None
        self.exec_ms = self.plan_ms = self.stream_ms = None
        self.nbytes = self.samples = self.rows = 0
        self.traced = self.checked = self.wrong = False

    @property
    def latency_ms(self):
        return (self.done - self.send) * 1000.0


class Client:
    """one keep-alive connection; reconnects after any failure"""

    def __init__(self, port, timeout_s=60):
        self.port, self.timeout_s = port, timeout_s
        self.conn = None

    def call(self, method, url, body=None, headers=None):
        if self.conn is None:
            self.conn = http.client.HTTPConnection("127.0.0.1", self.port,
                                                   timeout=self.timeout_s)
        try:
            self.conn.request(method, url, body=body, headers=headers or {})
            r = self.conn.getresponse()
            return r.status, r.read()
        except Exception:
            self.close()
            raise

    def close(self):
        if self.conn is not None:
            self.conn.close()
            self.conn = None


def read(client, req, trace):
    """send one read and validate (and, if it carries a check, verify) it"""
    op = Op("read", req.cls)
    op.traced = bool(trace) and req.path != "/render"
    op.send = time.time()
    try:
        status, body = client.call("GET", req.url(op.traced))
        op.done = time.time()
        op.status, op.nbytes = status, len(body)
        doc = stats.parse_body(req.path, status, body)
        op.samples = stats.result_samples(req.path, doc)
        if req.path != "/render":
            op.exec_ms = doc.get("stats", {}).get("executionTimeMsec")
            tr = doc.get("trace")
            op.plan_ms = stats.span(tr, "build query plan")
            op.stream_ms = stats.span(tr, "execute plan and stream response")
        if req.check is not None:
            req.check(doc)
            op.checked = True
        op.ok = True
    except Exception as e:  # noqa: BLE001 - every failure is counted
        if op.done is None:
            op.done = time.time()
        op.wrong = isinstance(e, stats.WrongResult)
        op.error = f"{type(e).__name__}: {e}"[:300]
    return op


# -- closed-form checks ----------------------------------------------------

def _fail(msg):
    raise stats.WrongResult(msg)


def _host_index(metric):
    h = metric.get("hostname", "")
    if not h.startswith("host_"):
        _fail(f"series without hostname: {metric}")
    return int(h[5:])


def check_range_max(store, hosts, m, w_ms, start_ms, end_ms, step_ms, last):
    """max_over_time(cpu_<m>{...}[w]) over a range: every expected series,
    every grid point, every value"""
    npts = (end_ms - start_ms) // step_ms + 1

    def check(doc):
        res = doc["data"]["result"]
        got = {_host_index(s["metric"]): s["values"] for s in res}
        if set(got) != set(hosts):
            _fail(f"series {sorted(got)} != {sorted(hosts)}")
        for s, vals in got.items():
            if len(vals) != npts:
                _fail(f"host_{s}: {len(vals)} points, want {npts}")
            for t_s, v in vals:
                t = int(round(float(t_s) * 1000))
                want = max(store.gauge(s, m, i) for i in store.window(t, w_ms, last))
                if float(v) != want:
                    _fail(f"host_{s} t={t}: {v} != {want}")
    return check


def check_count_by_region(store, hosts, w_ms, t_ms, last):
    """sum by (region)(count_over_time(cpu_...{region=R}[w])) at t"""
    want = float(len(hosts) * len(store.window(t_ms, w_ms, last)))

    def check(doc):
        res = doc["data"]["result"]
        if len(res) != 1 or float(res[0]["value"][1]) != want:
            _fail(f"count {[r['value'][1] for r in res]} != {want}")
    return check


def check_render_max(store, hosts, m, from_ms, until_ms, last):
    """groupByNode(servers.R.*.cpu.<m>, 1, "max"): the per-point max over
    the region's hosts, at every stored point of the range"""
    def check(doc):
        if len(doc) != 1:
            _fail(f"{len(doc)} render series, want 1")
        seen = 0
        for v, t_s in doc[0]["datapoints"]:
            t = t_s * 1000
            if v is None:
                continue
            i = store.index(t)
            want = max(store.gauge(s, m, i) for s in hosts)
            if float(v) != want:
                _fail(f"render t={t}: {v} != {want}")
            seen += 1
        need = len(range(store.index(from_ms), min(last, store.index(until_ms)) + 1)) - 1
        if seen < need:
            _fail(f"render: {seen} points, want {need}")
    return check


def check_instant_max_gt(store, m, w_ms, t_ms, last, threshold):
    """max_over_time(cpu_<m>[w]) > threshold at t, over all hosts"""
    want = {}
    for s in range(store.hosts):
        v = max(store.gauge(s, m, i) for i in store.window(t_ms, w_ms, last))
        if v > threshold:
            want[s] = v

    def check(doc):
        got = {_host_index(r["metric"]): float(r["value"][1])
               for r in doc["data"]["result"]}
        if got != want:
            _fail(f"{got} != {want}")
    return check


def check_last(store, m, w_ms, t_ms, last):
    """last_over_time(cpu_<m>[w]) at t: the newest acked write of every host"""
    i = store.window(t_ms, w_ms, last)[-1]
    want = {s: store.gauge(s, m, i) for s in range(store.hosts)}

    def check(doc):
        got = {_host_index(r["metric"]): float(r["value"][1])
               for r in doc["data"]["result"]}
        if got != want:
            _fail(f"read-your-writes: {got} != {want}")
    return check


# -- dashboard ---------------------------------------------------------------

DASH_STEP_MS = 60_000
DASH_RANGE_MS = 6 * HOUR_MS
DASH_ROUND_S = 7.5  # --seconds per refresh of every client


def dashboard_panels(store, region, start_ms, end_ms, rng):
    """one refresh of a region's dashboard (7 panels) ending at end_ms"""
    hosts = [s for s in range(store.hosts) if store.region(s) == region]
    last = store.points - 1
    sel = f'region="{region}"'
    rng_p = [("start", start_ms // 1000), ("end", end_ms // 1000),
             ("step", DASH_STEP_MS // 1000)]

    def rq(cls, q, check=None):
        return gen.Req("/api/v1/query_range", [("query", q)] + rng_p, cls, check)
    check = rng.random() < 0.5  # a seeded half of the checkable reads
    return [
        rq("avg_by_host", f"avg by (hostname)(cpu_usage_user{{{sel}}})"),
        rq("rate_by_region", f"sum by (region)(rate(net_bytes_total{{{sel}}}[5m]))"),
        rq("hist_quantile", "histogram_quantile(0.99, sum by (le)(rate("
           f"http_request_duration_seconds_bucket{{{sel}}}[5m])))"),
        rq("topk", f"topk(3, max_over_time(cpu_usage_system{{{sel}}}[5m]))"),
        rq("max_over_time", f"max_over_time(cpu_usage_idle{{{sel}}}[5m])",
           check_range_max(store, hosts, 2, 300_000, start_ms, end_ms,
                           DASH_STEP_MS, last) if check else None),
        gen.Req("/api/v1/query",
                [("query", f"sum by (region)(count_over_time(cpu_usage_user{{{sel}}}[6h]))"),
                 ("time", end_ms // 1000)], "stat",
                check_count_by_region(store, hosts, DASH_RANGE_MS, end_ms, last)
                if check else None),
        gen.Req("/render",
                [("target", f'groupByNode(servers.{region}.*.cpu.usage_user, 1, "max")'),
                 ("from", start_ms // 1000), ("until", end_ms // 1000),
                 ("format", "json")], "render",
                check_render_max(store, hosts, 0, start_ms, end_ms, last)
                if check else None),
    ]


class Workload:
    """what run.py needs of a workload beyond its store and its clients"""

    spill_points = 0   # newest points the launcher puts in the spill store
    samples_acked = 0
    lags = ()          # open-loop send lateness, ms

    def launcher_args(self):
        return []


class Dashboard(Workload):
    """4 closed-loop clients, no think time, on one shared 7-panel dashboard
    (a team's wall screens on one incident range, refreshing on a shared
    timer: every refresh starts on all screens at once). The warm-up loads
    it once, filling the O6/O7 caches; a run is then one refresh of every
    client per DASH_ROUND_S of --seconds, all cache hits except /render,
    which has no result cache. Same-time refreshes make the queue on the
    serial dispatcher the same in every run; with clients drifting freely,
    the share of reads queued behind a /render sat near one half, so the
    median jumped between the fast and the slow mode from run to run."""

    clients = 4

    def __init__(self, seed):
        # 12 hosts x 20 series, 7 h at 10 s; the dashboard ends 1 h before
        # the newest sample
        self.store = store = gen.Store(["cpu", "counter", "hist", "graphite"],
                                       hosts=12, points=7 * 360 + 1)
        self.region = random.Random(f"dashboard:{seed}").choice(gen.REGIONS)
        self.end = store.end_ms - HOUR_MS
        self.start = self.end - DASH_RANGE_MS
        self.rng = [random.Random(f"dashboard:{seed}:{c}") for c in range(self.clients)]

    def refresh(self, c):
        return dashboard_panels(self.store, self.region, self.start, self.end,
                                self.rng[c])

    def warmup(self, port):
        """one load fills the O6/O7 caches and JITs every panel class"""
        client = Client(port)
        ops = [read(client, req, False) for req in dashboard_panels(
            self.store, self.region, self.start, self.end, random.Random(0))]
        client.close()
        return ops

    def run(self, port, seconds, trace_mode):
        rounds = max(1, round(seconds / DASH_ROUND_S))
        return closed_loop(port, self.clients, rounds, trace_mode, self.refresh,
                           together=True)


def closed_loop(port, clients, rounds, trace_mode, next_batch, together=False):
    """`clients` closed-loop clients, each sending `rounds` batches of reads
    back to back; returns when all are done. `together`: each batch starts
    when every client has finished the previous one. trace_mode 1 traces
    every other read of a batch, the other half each round, so every class
    has traced and untraced reads (a same-process A/B of the tracing cost)."""
    out = [[] for _ in range(clients)]
    barrier = threading.Barrier(clients)

    def loop(c):
        client = Client(port)
        for r in range(rounds):
            if together:
                barrier.wait()
            for i, req in enumerate(next_batch(c)):
                out[c].append(read(client, req, trace_mode and (r + i) % 2 == 1))
        client.close()
    threads = [threading.Thread(target=loop, args=(c,)) for c in range(clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return [op for ops in out for op in ops]


# -- ingest_alert --------------------------------------------------------------

WRITE_PERIOD_S = 0.4       # one scrape (10 s of simulated time) every 400 ms
RESEND_SHARE = 0.1         # at-least-once delivery: bodies sent twice
WRITERS = 32               # writer connections, so slow acks never delay a send
ALERT_ROUND_S = 3.75       # --seconds per alert rule-group round


class IngestAlert(Workload):
    """An open-loop writer (one scrape of every series per 400 ms, a seeded
    10% of bodies re-sent) beside one closed-loop vmalert-shaped client
    evaluating a 5-rule group (three threshold alerts, one recording rule,
    one read-your-writes check) at the newest acknowledged timestamp, one
    group round per ALERT_ROUND_S of --seconds. Every ack bumps the store
    version, so no read can hit the O6/O7 caches."""

    spill_points = 180
    spill_files = 60
    spill_rows = 2000

    def __init__(self, seed):
        # 12 hosts x 11 series, 3 h at 10 s; the newest 30 min sit in 60
        # small spill files
        self.store = store = gen.Store(["cpu", "counter"], hosts=12,
                                       points=3 * 360 + 1)
        # one generator per thread that draws, so the draws never interleave
        self.check_rng = random.Random(f"ingest_alert:check:{seed}")
        self.resend_rng = random.Random(f"ingest_alert:resend:{seed}")
        self.acked = store.points - 1   # every point up to this one is acked
        self.lock = threading.Lock()
        self.samples_acked = 0
        self.acked_set = set()
        self.store_next = store.points  # next point index to write
        self.lags = []

    def launcher_args(self):
        return ["--spill-points", str(self.spill_points),
                "--spill-files", str(self.spill_files),
                "--spill-rows", str(self.spill_rows)]

    def rules(self, t_ms, last):
        st = self.store
        check = self.check_rng.random() < 0.5

        def q(cls, expr, chk=None):
            return gen.Req("/api/v1/query", [("query", expr), ("time", t_ms // 1000)],
                           cls, chk if check else None)
        return [
            q("rule_max", "max_over_time(cpu_usage_user[5m]) > 95",
              check_instant_max_gt(st, 0, 300_000, t_ms, last, 95)),
            # a recording rule: a bare 3 h rollup takes the O7 instant-cache
            # path (and misses, the store version having moved)
            q("rule_avg", "avg_over_time(cpu_usage_system[3h])"),
            q("rule_rate", "sum by (region)(rate(net_bytes_total[5m])) > 0"),
            q("rule_ryw", "last_over_time(cpu_usage_idle[20s])",
              check_last(st, 2, 20_000, t_ms, last)),
            # scrape-gap alert; an odd number of rules keeps the median read
            # inside one rule's latency instead of between two
            q("rule_gap", "count_over_time(cpu_usage_user[1m]) < 5"),
        ]

    def alert_batch(self, _client=0):
        with self.lock:
            last = self.acked
        return self.rules(self.store.ts(last), last)

    def warmup(self, port):
        """a few imports and one untimed rule-group round (JIT of the
        import parser and of every rule class)"""
        client = Client(port)
        ops = [self.write(client, self.next_index(), time.time()) for _ in range(3)]
        ops += [read(client, r, False) for r in self.alert_batch()]
        client.close()
        return ops

    def next_index(self):
        i = self.store_next
        self.store_next += 1
        return i

    def write(self, client, i, due):
        op = Op("write", "import")
        op.due = due
        body = self.store.scrape_body(i)
        op.send = time.time()
        try:
            status, resp = client.call("POST", "/api/v1/import/prometheus", body,
                                       {"Content-Type": "text/plain"})
            op.done = time.time()
            op.status = status
            if status != 204:
                raise stats.BadResponse(f"HTTP {status}: {resp[:200]!r}")
            op.ok = True
            op.rows = body.count(b"\n")
            with self.lock:
                self.samples_acked += op.rows
                self.acked_set.add(i)
                while self.acked + 1 in self.acked_set:
                    self.acked += 1
        except Exception as e:  # noqa: BLE001
            if op.done is None:
                op.done = time.time()
            op.error = f"{type(e).__name__}: {e}"[:300]
        return op

    def schedule(self, t0):
        """the endless seeded write plan: (due time, point index); a re-sent
        body follows its first send half a period later"""
        k = 0
        while True:
            i = self.next_index()
            due = t0 + k * WRITE_PERIOD_S
            yield due, i
            if self.resend_rng.random() < RESEND_SHARE:
                yield due + WRITE_PERIOD_S / 2, i
            k += 1

    def run(self, port, seconds, trace_mode):
        rounds = max(1, round(seconds / ALERT_ROUND_S))
        done = threading.Event()
        writes, lock = [], threading.Lock()
        idle = [Client(port) for _ in range(WRITERS)]
        cv = threading.Condition()
        lags = []

        def send(due, i, client):
            op = self.write(client, i, due)
            with lock:
                writes.append(op)
            with cv:
                idle.append(client)
                cv.notify()

        def writer():
            threads = []
            for due, i in self.schedule(time.time()):
                if done.wait(max(0.0, due - time.time())):
                    break
                with cv:
                    while not idle:
                        cv.wait()
                    client = idle.pop()
                lags.append((time.time() - due) * 1000.0)
                t = threading.Thread(target=send, args=(due, i, client))
                t.start()
                threads.append(t)
            for t in threads:
                t.join()
        w = threading.Thread(target=writer)
        w.start()
        reads = closed_loop(port, 1, rounds, trace_mode, self.alert_batch)
        done.set()
        w.join()
        for c in idle:
            c.close()
        self.lags = lags
        return reads + writes


WORKLOADS = {"dashboard": Dashboard, "ingest_alert": IngestAlert}
