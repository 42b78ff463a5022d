"""HTTP load generator for the ``serve`` workload, run in its own process so
it does not share the server's interpreter lock.

Two phases, alternated a few times, over at most ``CONNECTIONS``
concurrent connections, each request on a new connection (the server
speaks HTTP/1.0):

- open loop: requests are due on a fixed schedule at ``rate`` per second,
  a seeded 50/50 mix of the two routes; a request's latency runs from when
  it was due, so a stall also delays the requests queued behind it;
- burst: a closed loop, each connection sending its next request as soon
  as the previous one is answered.

While the phases run, each response body is only hashed and one copy of
each distinct body kept; afterwards each distinct body is parsed once and
reduced to a digest of its canonical form, which the parent maps to the
mart version that produced it. So the generator spends little CPU per
request and its own work barely delays the responses it times.
"""

from __future__ import annotations

import hashlib
import http.client
import itertools
import json
import random
import sys
import threading
import time

ROUTES = ("/mart/all", "/mart/statistic")
CONNECTIONS = 4


def _num(v):
    return float(v) if isinstance(v, (int, float)) and not isinstance(v, bool) else v


def digest(route: str, payload) -> str:
    """Digest of a response payload that ignores row order, key order and
    the int/float spelling of numbers."""
    if route == "/mart/all":
        canon = sorted(sorted((k, _num(v)) for k, v in row.items()) for row in payload)
    else:
        canon = sorted((k, _num(v)) for k, v in payload.items())
    return hashlib.sha1(json.dumps(canon).encode()).hexdigest()


def _get(port: int, route: str) -> tuple[int, bytes]:
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=10)
    try:
        conn.request("GET", route)
        resp = conn.getresponse()
        return resp.status, resp.read()
    finally:
        conn.close()


def timed_get(port: int, route: str, due: float, bodies: dict) -> dict:
    """One request; a 200 body is kept in ``bodies`` under its raw hash
    until ``resolve`` turns it into a digest."""
    sent = time.monotonic()
    rec = {"route": route, "due": due, "sent": sent, "ok": False, "digest": None, "bytes": 0}
    try:
        status, body = _get(port, route)
        rec["done"] = time.monotonic()
        rec["bytes"] = len(body)
        if status == 200:
            rec["raw"] = (route, hashlib.sha1(body).digest())
            bodies.setdefault(rec["raw"], body)
            rec["ok"] = True
    except (OSError, http.client.HTTPException):
        rec["done"] = time.monotonic()
    return rec


def resolve(recs: list[dict], bodies: dict) -> list[dict]:
    """Set the digest of every answered record, parsing each distinct body
    once; a body that is not JSON gets no digest."""
    canon: dict = {}
    for r in recs:
        raw = r.pop("raw", None)
        if raw is None:
            continue
        if raw not in canon:
            try:
                canon[raw] = digest(r["route"], json.loads(bodies[raw]))
            except ValueError:
                canon[raw] = None
        r["digest"] = canon[raw]
    return recs


def _drive(worker) -> list[dict]:
    out: list[dict] = []
    lock = threading.Lock()

    def loop():
        mine = worker()
        with lock:
            out.extend(mine)

    threads = [threading.Thread(target=loop) for _ in range(CONNECTIONS)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return out


def open_loop(port: int, rate: float, seconds: float, seed: int, bodies: dict) -> list[dict]:
    n = int(rate * seconds)
    rng = random.Random(seed)
    routes = [ROUTES[i % 2] for i in range(n)]
    rng.shuffle(routes)
    start = time.monotonic() + 0.05
    counter = itertools.count()

    def worker():
        recs = []
        while (i := next(counter)) < n:
            due = start + i / rate
            delay = due - time.monotonic()
            if delay > 0:
                time.sleep(delay)
            recs.append(timed_get(port, routes[i], due, bodies))
        return recs

    return _drive(worker)


def burst(port: int, seconds: float, seed: int, bodies: dict) -> list[dict]:
    rng = random.Random(seed)
    routes = [ROUTES[rng.randrange(2)] for _ in range(4096)]
    counter = itertools.count()
    end = time.monotonic() + seconds

    def worker():
        recs = []
        while (now := time.monotonic()) < end:
            recs.append(timed_get(port, routes[next(counter) % len(routes)], now, bodies))
        return recs

    return _drive(worker)


def main(argv: list[str]) -> None:
    """Process entry point: ``port rate open_s burst_s cycles seed``.
    Alternates the phases ``cycles`` times, an open loop of
    ``open_s / cycles`` then a burst of ``burst_s / cycles``, so both
    sample the host over the whole run; writes the records as one JSON
    object to standard output, the open loops' as one list and the
    burst's as one list per round."""
    port, cycles, seed = int(argv[0]), int(argv[4]), int(argv[5])
    rate, open_s, burst_s = float(argv[1]), float(argv[2]), float(argv[3])
    bodies: dict = {}
    open_recs, burst_recs = [], []
    for k in range(cycles):
        open_recs += open_loop(port, rate, open_s / cycles, seed * 100 + 2 * k, bodies)
        burst_recs.append(burst(port, burst_s / cycles, seed * 100 + 2 * k + 1, bodies))
    json.dump({"open": resolve(open_recs, bodies),
               "burst": [resolve(r, bodies) for r in burst_recs]}, sys.stdout)


if __name__ == "__main__":
    main(sys.argv[1:])
