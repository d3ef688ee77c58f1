"""Self-tests of the benchmark's statistics, checks and generator.

    python3 perfbench/test_perfbench.py

Pure Python: no JVM, no build. Local HTTP fakes stand in for the server.
"""

import json
import os
import socket
import sys
import threading
import time
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import loadgen  # noqa: E402
import metrics  # noqa: E402
import stats  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class FakeServer:
    """serves one canned raw HTTP response per connection, then closes"""

    def __init__(self, raw, delay_s=0.0):
        self.raw, self.delay_s = raw, delay_s
        self.sock = socket.socket()
        self.sock.bind(("127.0.0.1", 0))
        self.sock.listen(8)
        self.port = self.sock.getsockname()[1]
        self.thread = threading.Thread(target=self.serve, daemon=True)
        self.thread.start()

    def serve(self):
        while True:
            try:
                conn, _ = self.sock.accept()
            except OSError:
                return
            with conn:
                data = b""
                while b"\r\n\r\n" not in data:
                    data += conn.recv(65536)
                head, _, rest = data.partition(b"\r\n\r\n")
                for line in head.split(b"\r\n"):
                    if line.lower().startswith(b"content-length:"):
                        n = int(line.split(b":")[1])
                        while len(rest) < n:
                            rest += conn.recv(65536)
                time.sleep(self.delay_s)
                conn.sendall(self.raw)

    def close(self):
        self.sock.close()


def chunked(body):
    return (b"HTTP/1.1 200 OK\r\nContent-Type: application/json\r\n"
            b"Transfer-Encoding: chunked\r\nConnection: close\r\n\r\n" +
            b"%x\r\n" % len(body) + body + b"\r\n0\r\n\r\n")


OK_BODY = json.dumps({"status": "success", "data": {"resultType": "vector", "result": [
    {"metric": {"hostname": "host_0"}, "value": [1, "42"]}]},
    "stats": {"seriesFetched": "1", "executionTimeMsec": 7}}).encode()


def read_from(raw, path="/api/v1/query", check=None):
    srv = FakeServer(raw)
    try:
        return loadgen.read(loadgen.Client(srv.port),
                            gen.Req(path, [("query", "x")], "c", check), False)
    finally:
        srv.close()


class PercentileRule(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 50), 50)
        self.assertEqual(stats.percentile(xs, 90), 90)
        self.assertEqual(stats.percentile([5], 90), 5)

    def test_ten_samples_beyond(self):
        self.assertEqual(stats.beyond(100, 90), 10)
        self.assertTrue(stats.tail_ok(100, 90))
        self.assertFalse(stats.tail_ok(99, 90))
        self.assertTrue(stats.tail_ok(20, 50))
        self.assertFalse(stats.tail_ok(0, 50))


class RatiosWithBases(unittest.TestCase):
    def test_ratio(self):
        self.assertEqual(stats.ratio(3, 4), (0.75, 4))
        self.assertEqual(stats.ratio(0, 0), (0.0, 0))

    def test_every_ratio_has_its_base(self):
        names = {n for n, _, _ in metrics.PER_LAYER}
        ratios = {n for n, u, _ in metrics.PER_LAYER if u == "ratio"}
        self.assertEqual(ratios, set(metrics.BASES))
        for r, base in metrics.BASES.items():
            self.assertIn(base, names, r)

    def test_benchmark_json_lists_the_metrics(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            b = json.load(f)
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in b["end_to_end"]],
                         metrics.END_TO_END)
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in b["per_layer"]],
                         metrics.PER_LAYER)
        self.assertEqual([w["name"] for w in b["workloads"]], list(metrics.CLASSES))


class ResponseValidation(unittest.TestCase):
    def test_success(self):
        op = read_from(chunked(OK_BODY))
        self.assertTrue(op.ok, op.error)
        self.assertEqual((op.samples, op.exec_ms), (1, 7))

    def test_truncated_body_is_a_failed_read(self):
        raw = chunked(OK_BODY)
        op = read_from(raw[:raw.index(b"\r\n\r\n") + 4 + 30])
        self.assertFalse(op.ok)

    def test_empty_200_is_a_failed_read(self):
        op = read_from(b"HTTP/1.1 200 OK\r\nContent-Length: 0\r\nConnection: close\r\n\r\n")
        self.assertFalse(op.ok)
        self.assertIn("empty", op.error)

    def test_error_status_is_a_failed_read(self):
        body = b'{"status":"error","error":"x"}'
        op = read_from(b"HTTP/1.1 422 Unprocessable\r\nContent-Length: %d\r\n"
                       b"Connection: close\r\n\r\n" % len(body) + body)
        self.assertFalse(op.ok)

    def test_render_needs_an_array(self):
        self.assertFalse(read_from(chunked(b'{"a":1}'), "/render").ok)
        self.assertTrue(read_from(chunked(b'[]'), "/render").ok)

    def test_wrong_value_fails_the_check(self):
        st = gen.Store(["cpu"], hosts=1, points=10)
        want = st.gauge(0, 2, 9)
        good = {"data": {"resultType": "vector",
                         "result": [{"metric": {"hostname": "host_0"},
                                     "value": [0, str(want)]}]}}
        check = loadgen.check_last(st, 2, 20_000, st.ts(9), 9)
        check(good)
        good["data"]["result"][0]["value"][1] = str(want + 1)
        with self.assertRaises(stats.WrongResult):
            check(good)
        op = read_from(chunked(json.dumps(dict(good, status="success")).encode()),
                       check=check)
        self.assertFalse(op.ok)
        self.assertTrue(op.wrong)
        self.assertFalse(read_from(chunked(b""), check=check).wrong)


class OpenLoopTiming(unittest.TestCase):
    def test_latency_counts_from_the_due_time(self):
        srv = FakeServer(b"HTTP/1.1 204 No Content\r\nConnection: close\r\n\r\n",
                         delay_s=0.05)
        try:
            w = loadgen.IngestAlert(1)
            st = w.store
            due = time.time() - 1.0  # the send is a second late
            op = w.write(loadgen.Client(srv.port), st.points, due)
        finally:
            srv.close()
        self.assertTrue(op.ok, op.error)
        self.assertGreaterEqual(stats.due_latency_ms(op.due, op.done), 1000.0)
        self.assertLess(op.latency_ms, 1000.0)
        run = metrics.Run("ingest_alert", [op], 1.0, [1.0], 1.0,
                          {"o6": [0] * 3, "o7": [0] * 4, "gc_ms": 0},
                          {"o6": [0] * 3, "o7": [0] * 4, "gc_ms": 0}, 1.0,
                          type("S", (), {"buffered": [], "spill_files": [],
                                         "spill_bytes": []})(), [], [], None, 0)
        self.assertGreaterEqual(run.trace_metrics()["write_p50_ms"]["value"], 1000.0)

    def test_schedule_is_fixed_by_the_seed(self):
        def plan(seed):
            it = loadgen.IngestAlert(seed).schedule(100.0)
            return [next(it) for _ in range(50)]
        a = plan(5)
        self.assertEqual(a, plan(5))
        self.assertEqual(a[0], (100.0, loadgen.IngestAlert(5).store.points))
        self.assertGreater(len({i for _, i in a}), 30)
        self.assertLess(len({i for _, i in a}), 50)  # some bodies are re-sent


class Generator(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        for seed in (1, 2):
            a, b = loadgen.IngestAlert(seed).store, loadgen.IngestAlert(seed).store
            self.assertEqual(a.scrape_body(a.points), b.scrape_body(b.points))
            self.assertEqual(a.launcher_args(), b.launcher_args())

        def urls(seed):
            d = loadgen.Dashboard(seed)
            return [r.url(False) for c in range(d.clients) for r in d.refresh(c)]
        self.assertEqual(urls(7), urls(7))

    def test_seeds_differ(self):
        def plan(seed):
            it = loadgen.IngestAlert(seed).schedule(0.0)
            return [next(it) for _ in range(50)]
        self.assertNotEqual(plan(1), plan(2))

    def test_window(self):
        st = gen.Store(["cpu"], hosts=1, points=100)
        t = st.ts(50)
        self.assertEqual(list(st.window(t, 30_000, 99)), [48, 49, 50])
        self.assertEqual(list(st.window(t, 30_000, 49)), [48, 49])


if __name__ == "__main__":
    unittest.main()
