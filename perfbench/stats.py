"""Statistics and response checks of the serving-path benchmark."""

import json
import math


def percentile(values, q):
    """Nearest-rank q-th percentile (0 < q <= 100) of `values`."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    return xs[max(0, math.ceil(q / 100.0 * len(xs)) - 1)]


def beyond(n, q):
    """how many of n samples lie above the nearest-rank q-th percentile"""
    return n - max(1, math.ceil(q / 100.0 * n))


def tail_ok(n, q, need=10):
    """the q-th percentile of n samples has at least `need` samples beyond it"""
    return n > 0 and beyond(n, q) >= need


def median(values):
    xs = sorted(values)
    if not xs:
        raise ValueError("median of no samples")
    m = len(xs) // 2
    return xs[m] if len(xs) % 2 else (xs[m - 1] + xs[m]) / 2.0


def mean(values):
    return sum(values) / len(values) if values else 0.0


def ratio(num, base):
    """(num / base, base); a ratio over nothing reads 0 with its base 0"""
    return (num / base if base else 0.0), base


class BadResponse(Exception):
    """an answer the benchmark refuses: error status, empty, truncated or
    malformed"""


class WrongResult(BadResponse):
    """a well-formed answer whose values differ from the closed form"""


def parse_body(path, status, body):
    """Parse a read's body, or raise BadResponse. Prometheus paths need
    {"status":"success"}; /render needs a JSON array. A 200 with an empty
    or truncated body fails here, since it does not parse."""
    if status != 200:
        raise BadResponse(f"HTTP {status}: {body[:200]!r}")
    if not body:
        raise BadResponse("HTTP 200 with an empty body")
    try:
        doc = json.loads(body)
    except ValueError as e:
        raise BadResponse(f"unparseable body ({len(body)} bytes): {e}")
    if path == "/render":
        if not isinstance(doc, list):
            raise BadResponse("render body is not a JSON array")
    elif not isinstance(doc, dict) or doc.get("status") != "success":
        raise BadResponse(f"status is not success: {body[:200]!r}")
    return doc


def result_samples(path, doc):
    """number of (series, point) values in a parsed answer"""
    if path == "/render":
        return sum(len(s.get("datapoints", [])) for s in doc)
    res = doc["data"]["result"]
    if doc["data"]["resultType"] == "vector":
        return len(res)
    return sum(len(s.get("values", [])) for s in res)


def span(trace, message_prefix):
    """duration of the first span whose message starts with the prefix"""
    if trace is None:
        return None
    if trace.get("message", "").startswith(message_prefix):
        return trace.get("duration_msec")
    for c in trace.get("children", []):
        d = span(c, message_prefix)
        if d is not None:
            return d
    return None


def due_latency_ms(due_s, done_s):
    """open-loop latency: from when the request was due, not when it was
    sent, so a late send (generator or server stall) still counts"""
    return (done_s - due_s) * 1000.0
