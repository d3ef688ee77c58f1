"""The benchmark's metrics: end-to-end figures from an untraced run and the
per-layer split from a traced one."""

from stats import beyond, due_latency_ms, mean, median, percentile, ratio, tail_ok

END_TO_END = [  # (name, unit, better)
    ("setup_s", "s", "lower"),
    ("read_p50_ms", "ms", "lower"),
    ("reads_per_s", "1/s", "higher"),
    ("server_peak_rss_mb", "MB", "lower"),
]

CLASSES = {
    "dashboard": ["avg_by_host", "rate_by_region", "hist_quantile", "topk",
                  "max_over_time", "stat", "render"],
    "ingest_alert": ["rule_max", "rule_avg", "rule_rate", "rule_ryw", "rule_gap"],
}

H, L = "higher", "lower"
PER_LAYER = [  # (name, unit, better); every traced run prints all of them
    ("reads_attempted", "count", H),
    ("read_error_ratio", "ratio", L),
    ("read_p90_ms", "ms", L),
    ("reads_checked", "count", H),
    ("writes_attempted", "count", H),
    ("write_error_ratio", "ratio", L),
    ("write_p50_ms", "ms", L),
    ("write_p90_ms", "ms", L),
    ("write_samples_per_s", "1/s", H),
    ("store_bytes_per_sample", "B", L),
    ("setup.cold_s", "s", L),
    ("api.queue_ms.p50", "ms", L),
    ("api.queue_ms.p90", "ms", L),
    ("api.server_ms.p50", "ms", L),
    ("api.response_bytes.mean", "B", L),
    ("api.buffered_rows.mean", "rows", L),
    ("api.buffered_rows.max", "rows", L),
    ("lang.plan_ms.p50", "ms", L),
    ("lang.plan_jobs.mean", "count", L),
    ("engine.o6_lookups", "count", H),
    ("engine.o6_hit_ratio", "ratio", H),
    ("engine.o6_exact_hits", "count", H),
    ("engine.o6_suffix_hits", "count", H),
    ("engine.o6_misses", "count", L),
    ("engine.o7_lookups", "count", H),
    ("engine.o7_hit_ratio", "ratio", H),
    ("engine.o7_exact_hits", "count", H),
    ("engine.o7_delta_hits", "count", H),
    ("engine.o7_misses", "count", L),
    ("exec.stream_ms.p50", "ms", L),
    ("spark.jobs", "count", L),
    ("spark.stages", "count", L),
    ("spark.tasks", "count", L),
    ("spark.task_ms", "ms", L),
    ("spark.max_task_ms", "ms", L),
    ("spark.shuffle_write_bytes", "B", L),
    ("spark.spill_bytes", "B", L),
    ("spark.gc_ms", "ms", L),
    ("core.input_rows", "count", L),
    ("core.input_bytes", "B", L),
    ("core.result_samples", "count", H),
    ("core.rows_per_result", "ratio", L),
    ("core.spill_files.max", "count", L),
    ("core.spill_bytes.max", "B", L),
    ("core.spill_compactions", "count", L),
    ("sources.imports", "count", H),
    ("sources.import_service_ms.p50", "ms", L),
    ("graphite.renders", "count", H),
    ("graphite.render_task_ms.p50", "ms", L),
    ("jvm.gc_ms", "ms", L),
    ("loadgen.lag_ms.p90", "ms", L),
    ("trace.traced_reads", "count", H),
    ("trace.overhead", "ratio", L),
] + [(f"class.{w}.{c}.{m}", "ms", L) for w, cs in CLASSES.items()
     for c in cs for m in ("server_ms", "task_ms")]

# the count each ratio is taken over, reported beside it
BASES = {
    "read_error_ratio": "reads_attempted",
    "write_error_ratio": "writes_attempted",
    "engine.o6_hit_ratio": "engine.o6_lookups",
    "engine.o7_hit_ratio": "engine.o7_lookups",
    "core.rows_per_result": "core.result_samples",
    "trace.overhead": "trace.traced_reads",
}


def p(values, q):
    return percentile(values, q) if values else 0.0


def attribute(ops, jobs):
    """Map each Spark job record to the request it served. The HTTP facade
    dispatches serially, so a job belongs to the in-flight request that
    finished first after the job ended; jobs of one job group (one
    request's deadline group) stay together. Parquet writes are the
    background spill and compaction, not a request's work."""
    by_done = sorted(ops, key=lambda o: o.done)
    out = {id(o): [] for o in ops}
    owner_of_group = {}
    for j in sorted(jobs, key=lambda j: j["submit"]):
        if j["site"].startswith("parquet at"):
            continue
        g = j["group"]
        owner = owner_of_group.get(g) if g != "null" else None
        if owner is None:
            for o in by_done:
                if o.send * 1000 <= j["submit"] + 5 and o.done * 1000 >= j["end"] - 5:
                    owner = o
                    break
        if owner is None:
            continue
        if g != "null":
            owner_of_group[g] = owner
        out[id(owner)].append(j)
    return out


def service_ms(ops):
    """per-request service time on a serial server: from when it was sent
    or the previous request finished, whichever is later, to its end"""
    res, prev = {}, 0.0
    for o in sorted(ops, key=lambda o: o.done):
        res[id(o)] = (o.done - max(o.send, prev)) * 1000.0
        prev = o.done
    return res


class Run:
    def __init__(self, workload, ops, window_s, setup_rounds, cold_s, before,
                 after, rss_mb, sampler, jobs, lags, store_bytes, samples_acked):
        self.workload, self.ops, self.window_s = workload, ops, window_s
        self.setup_rounds, self.cold_s = setup_rounds, cold_s
        self.before, self.after, self.rss_mb = before, after, rss_mb
        self.sampler, self.jobs, self.lags = sampler, jobs, lags
        self.store_bytes, self.samples_acked = store_bytes, samples_acked
        self.reads = [o for o in ops if o.kind == "read"]
        self.writes = [o for o in ops if o.kind == "write"]
        self.ok_reads = [o for o in self.reads if o.ok]
        self.ok_writes = [o for o in self.writes if o.ok]
        self.thin = []  # tail percentiles the sample does not support

    def p90(self, name, values):
        """the 90th percentile, noting when fewer than ten samples lie beyond
        it (the value is still reported, for the trend)"""
        if values and not tail_ok(len(values), 90):
            self.thin.append(f"{name}: {len(values)} samples, "
                             f"{beyond(len(values), 90)} beyond p90")
        return p(values, 90)

    @property
    def correct(self):
        """no answer carried wrong values (failed requests count as failed)"""
        return not any(o.wrong for o in self.ops)

    def end_to_end(self):
        lat = [o.latency_ms for o in self.ok_reads]
        vals = {
            "setup_s": median(self.setup_rounds),
            "read_p50_ms": median(lat),
            "reads_per_s": len(self.ok_reads) / self.window_s,
            "server_peak_rss_mb": self.rss_mb,
        }
        return {n: {"value": vals[n], "unit": u} for n, u, _ in END_TO_END}

    def trace_metrics(self):
        reads, ok = self.reads, self.ok_reads
        v = {n: 0.0 for n, _, _ in PER_LAYER}
        v["reads_attempted"] = len(reads)
        v["read_error_ratio"] = ratio(len(reads) - len(ok), len(reads))[0]
        v["read_p90_ms"] = self.p90("read_p90_ms", [o.latency_ms for o in ok])
        v["reads_checked"] = sum(1 for o in ok if o.checked)
        w, wok = self.writes, self.ok_writes
        v["writes_attempted"] = len(w)
        v["write_error_ratio"] = ratio(len(w) - len(wok), len(w))[0]
        wl = [due_latency_ms(o.due, o.done) for o in wok]
        v["write_p50_ms"], v["write_p90_ms"] = p(wl, 50), self.p90("write_p90_ms", wl)
        v["write_samples_per_s"] = sum(o.rows for o in wok) / self.window_s
        if self.store_bytes is not None and self.samples_acked:
            v["store_bytes_per_sample"] = self.store_bytes / self.samples_acked
        v["setup.cold_s"] = self.cold_s

        stat = [o for o in ok if o.exec_ms is not None]
        v["api.queue_ms.p50"] = p([o.latency_ms - o.exec_ms for o in stat], 50)
        v["api.queue_ms.p90"] = self.p90("api.queue_ms.p90",
                                         [o.latency_ms - o.exec_ms for o in stat])
        v["api.server_ms.p50"] = p([o.exec_ms for o in stat], 50)
        v["api.response_bytes.mean"] = mean([o.nbytes for o in ok])
        v["api.buffered_rows.mean"] = mean(self.sampler.buffered)
        v["api.buffered_rows.max"] = max(self.sampler.buffered, default=0)
        traced = [o for o in ok if o.traced and o.plan_ms is not None]
        v["lang.plan_ms.p50"] = p([o.plan_ms for o in traced], 50)
        v["exec.stream_ms.p50"] = p([o.stream_ms for o in traced
                                     if o.stream_ms is not None], 50)

        b, a = self.before, self.after
        o6 = [a["o6"][i] - b["o6"][i] for i in range(3)]
        o7 = [a["o7"][i] - b["o7"][i] for i in range(3)]
        v["engine.o6_exact_hits"], v["engine.o6_suffix_hits"], v["engine.o6_misses"] = o6
        v["engine.o6_lookups"] = sum(o6)
        v["engine.o6_hit_ratio"] = ratio(o6[0] + o6[1], sum(o6))[0]
        v["engine.o7_exact_hits"], v["engine.o7_delta_hits"], v["engine.o7_misses"] = o7
        v["engine.o7_lookups"] = sum(o7)
        v["engine.o7_hit_ratio"] = ratio(o7[0] + o7[1], sum(o7))[0]
        v["jvm.gc_ms"] = a["gc_ms"] - b["gc_ms"]

        owned = attribute(self.ops, self.jobs)

        def tot(o, k):
            return sum(j[k] for j in owned[id(o)])
        n = len(ok) or 1
        for key, field in [("spark.stages", "stages"), ("spark.tasks", "tasks"),
                           ("spark.task_ms", "task_ms"),
                           ("spark.shuffle_write_bytes", "shuffle_write"),
                           ("spark.spill_bytes", "spill"), ("spark.gc_ms", "gc_ms"),
                           ("core.input_rows", "in_rows"),
                           ("core.input_bytes", "in_bytes")]:
            v[key] = sum(tot(o, field) for o in ok) / n
        v["spark.jobs"] = sum(len(owned[id(o)]) for o in ok) / n
        v["spark.max_task_ms"] = sum(max((j["max_task_ms"] for j in owned[id(o)]),
                                         default=0) for o in ok) / n
        v["core.result_samples"] = sum(o.samples for o in ok)
        v["core.rows_per_result"] = ratio(sum(tot(o, "in_rows") for o in ok),
                                          v["core.result_samples"])[0]
        v["core.spill_files.max"] = max(self.sampler.spill_files, default=0)
        v["core.spill_bytes.max"] = max(self.sampler.spill_bytes, default=0)
        files = self.sampler.spill_files
        v["core.spill_compactions"] = sum(1 for x, y in zip(files, files[1:]) if y < x)
        plan_jobs = []
        for o in traced:
            if o.exec_ms is None:
                continue
            plan_end = (o.done * 1000 - o.exec_ms) + o.plan_ms
            plan_jobs.append(sum(1 for j in owned[id(o)] if j["submit"] <= plan_end))
        v["lang.plan_jobs.mean"] = mean(plan_jobs)
        svc = service_ms(self.ops)
        v["sources.imports"] = len(wok)
        # an import parses in the server process (a local relation runs no
        # Spark task), so its cost shows as service time, not task time
        v["sources.import_service_ms.p50"] = p([svc[id(o)] for o in wok], 50)
        renders = [o for o in ok if o.cls == "render"]
        v["graphite.renders"] = len(renders)
        v["graphite.render_task_ms.p50"] = p([tot(o, "task_ms") for o in renders], 50)
        v["loadgen.lag_ms.p90"] = self.p90("loadgen.lag_ms.p90", self.lags)
        # server time of traced vs untraced reads of the same run, class by
        # class (the classes differ several-fold in cost; client latency
        # would add the queue, which depends on the other clients)
        on_sum = off_sum = 0.0
        for c in {o.cls for o in stat}:
            on = [o.exec_ms for o in stat if o.cls == c and o.traced]
            off = [o.exec_ms for o in stat if o.cls == c and not o.traced]
            if on and off:
                on_sum, off_sum = on_sum + median(on), off_sum + median(off)
        v["trace.traced_reads"] = sum(1 for o in ok if o.traced)
        v["trace.overhead"] = ratio(on_sum, off_sum)[0]
        for c in CLASSES[self.workload]:
            cs = [o for o in ok if o.cls == c]
            v[f"class.{self.workload}.{c}.server_ms"] = p(
                [o.exec_ms if o.exec_ms is not None else svc[id(o)] for o in cs], 50)
            v[f"class.{self.workload}.{c}.task_ms"] = p([tot(o, "task_ms") for o in cs], 50)
        return {n: {"value": v[n], "unit": u} for n, u, _ in PER_LAYER}
