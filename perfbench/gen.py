"""Seeded inputs of the serving-path benchmark.

The store is TSBS cpu-only-shaped: per host, ten `cpu_*` gauges, one
`net_bytes_total` counter, one seven-bucket
`http_request_duration_seconds_bucket` histogram and two dotted-name
Graphite gauges. Every sample value is a closed-form integer function of
(host, sub-series, point index). The launcher
(launcher/src/main/scala/perfbench/Launcher.scala) writes the store with
the same formulas, so the checks here know every stored value without
reading the store.

The store is the same for every seed (so a checkout generates it once);
everything else a run sends is a pure function of the workload name and
the seed: the same seed gives the same request bytes.
"""

import urllib.parse

CPU_FIELDS = ["usage_user", "usage_system", "usage_idle", "usage_nice",
              "usage_iowait", "usage_irq", "usage_softirq", "usage_steal",
              "usage_guest", "usage_guest_nice"]
REGIONS = ["us-east-1", "us-west-1", "us-west-2", "eu-west-1",
           "eu-central-1", "ap-southeast-1"]
LES = ["0.05", "0.1", "0.25", "0.5", "1", "2.5", "+Inf"]

# 2024-03-01T12:00:00Z: a fixed clock, so inputs never depend on the date
END_MS = 1709294400000
STEP_MS = 10_000


class Store:
    """The generated store: `hosts` hosts, `points` samples per series at
    10 s, the newest at `end_ms`."""

    def __init__(self, kinds, hosts, points, end_ms=END_MS):
        self.kinds, self.hosts, self.points = kinds, hosts, points
        self.end_ms = end_ms
        self.start_ms = end_ms - (points - 1) * STEP_MS

    # -- the closed forms (mirrored by Launcher.generate) ------------------
    def gauge(self, s, m, i):
        return float((s * 1000003 + m * 7919 + i * 104729 +
                      ((i * (s + m + 1)) % 65521) * 31) % 101)

    def counter(self, s, i):
        return float(((s % 20) + 11) * i + (i * 37 + s) % 11)

    # -- labels -------------------------------------------------------------
    @staticmethod
    def host(s):
        return f"host_{s}"

    @staticmethod
    def region(s):
        return REGIONS[s % len(REGIONS)]

    def ts(self, i):
        return self.start_ms + i * STEP_MS

    def index(self, ts_ms):
        """point index of a stored timestamp"""
        return (ts_ms - self.start_ms) // STEP_MS

    def series_count(self):
        per = {"cpu": 10, "counter": 1, "hist": len(LES), "graphite": 2}
        return self.hosts * sum(per[k] for k in self.kinds)

    def window(self, t_ms, w_ms, last_index):
        """point indexes in (t - w, t], clipped to [0, last_index]"""
        lo = max(0, -(-(t_ms - w_ms + 1 - self.start_ms) // STEP_MS))
        hi = min(last_index, (t_ms - self.start_ms) // STEP_MS)
        return range(lo, hi + 1)

    def launcher_args(self):
        return ["--kinds", ",".join(self.kinds), "--hosts", str(self.hosts),
                "--points", str(self.points), "--step-ms", str(STEP_MS),
                "--end-ms", str(self.end_ms)]

    def scrape_body(self, i):
        """one Prometheus-text scrape of every cpu and counter series at
        point i (timestamps in ms)"""
        ts = self.ts(i)
        lines = []
        for s in range(self.hosts):
            tags = (f'hostname="{self.host(s)}",region="{self.region(s)}",'
                    f'datacenter="{self.region(s)}-{"ab"[s % 2]}",'
                    f'rack="{s % 10}",service="{s % 5}"')
            for m, f in enumerate(CPU_FIELDS):
                lines.append(f"cpu_{f}{{{tags}}} {self.gauge(s, m, i):g} {ts}")
            lines.append(f"net_bytes_total{{{tags}}} {self.counter(s, i):g} {ts}")
        return ("\n".join(lines) + "\n").encode()


class Req:
    """One read: path + query parameters, its class, and (optionally) the
    check that validates its result."""

    __slots__ = ("path", "params", "cls", "check")

    def __init__(self, path, params, cls, check=None):
        self.path, self.params, self.cls, self.check = path, params, cls, check

    def url(self, trace):
        p = list(self.params)
        if trace and self.path != "/render":
            p.append(("trace", "1"))
        return self.path + "?" + urllib.parse.urlencode(p)
