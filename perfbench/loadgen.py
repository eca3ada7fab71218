"""Closed-loop HTTP load for the serving workload.

Run as a separate process so the clients do not share an interpreter lock
with the server.  It reads one JSON object on stdin:

    {"port": int, "seconds": float, "clients": int, "seq_seed": str,
     "boroughs": [str], "year": int, "pool": [{feature: value}]}

and prints one JSON line per completed request:

    {"i", "route", "key", "status", "value", "ms", "t0", "t1"}

``value`` is the marker count parsed from the /map page or the /predict
prediction; ``key`` indexes ``boroughs`` or ``pool``.  Each client sends
its next request only after the previous reply (closed loop), taking the
next entry of one seeded request sequence, so a seed fixes which requests
are sent and only their assignment to clients depends on timing.
"""

from __future__ import annotations

import http.client
import json
import random
import re
import sys
import threading
import time
import urllib.parse

_MARKERS = re.compile(rb"<p>(\d+) markers\.")


def request_sequence(seq_seed: str, n_boroughs: int, n_pool: int, n: int) -> list:
    """``n`` (route, key) pairs: every block of ten holds five /map and five
    /predict requests in seeded order, so the route mix is exact."""
    rng = random.Random(seq_seed)
    out = []
    while len(out) < n:
        block = ["map"] * 5 + ["predict"] * 5
        rng.shuffle(block)
        for route in block:
            k = rng.randrange(n_boroughs if route == "map" else n_pool)
            out.append((route, k))
    return out[:n]


def feature_vector(rng: random.Random) -> dict[str, float]:
    """Feature values in the ranges the feature table holds."""
    q = float(rng.randint(1, 50))
    p = round(rng.uniform(900.0, 999.9), 1)
    return {
        "l_quantity": q,
        "l_discount": rng.randint(0, 10) / 100.0,
        "l_tax": rng.randint(0, 8) / 100.0,
        "p_retailprice": p,
        "qty_price": q * p,
        "mth": float(rng.randint(1, 12)),
        "wd": float(rng.randint(0, 6)),
    }


def send(conn: http.client.HTTPConnection, cfg: dict, route: str, key: int):
    """One request → (status, value)."""
    if route == "map":
        q = urllib.parse.urlencode({"borough": cfg["boroughs"][key], "year": cfg["year"]})
        conn.request("GET", f"/map?{q}")
    else:
        conn.request(
            "POST",
            "/predict",
            body=json.dumps(cfg["pool"][key]),
            headers={"Content-Type": "application/json"},
        )
    resp = conn.getresponse()
    body = resp.read()
    if resp.status != 200:
        return resp.status, None
    if route == "map":
        m = _MARKERS.search(body)
        return resp.status, int(m.group(1)) if m else None
    return resp.status, json.loads(body)["prediction"]


def main() -> int:
    cfg = json.load(sys.stdin)
    seq = request_sequence(
        cfg["seq_seed"], len(cfg["boroughs"]), len(cfg["pool"]), 100_000
    )
    lock = threading.Lock()
    state = {"next": 0}
    records = []
    start = time.perf_counter()
    deadline = start + cfg["seconds"]

    def client() -> None:
        conn = http.client.HTTPConnection("127.0.0.1", cfg["port"], timeout=60)
        try:
            while time.perf_counter() < deadline:
                with lock:
                    i = state["next"]
                    state["next"] += 1
                route, key = seq[i]
                t0 = time.perf_counter()
                try:
                    status, value = send(conn, cfg, route, key)
                except (OSError, http.client.HTTPException, ValueError) as ex:
                    status, value = 0, repr(ex)[:200]
                    conn.close()
                t1 = time.perf_counter()
                with lock:
                    records.append({
                        "i": i, "route": route, "key": key, "status": status,
                        "value": value, "ms": 1000 * (t1 - t0),
                        "t0": t0 - start, "t1": t1 - start,
                    })
        finally:
            conn.close()

    threads = [
        threading.Thread(target=client, daemon=True) for _ in range(cfg["clients"])
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=cfg["seconds"] + 90)
    if any(t.is_alive() for t in threads):
        print("load generator: a client did not finish", file=sys.stderr)
        return 1
    for r in sorted(records, key=lambda r: r["i"]):
        print(json.dumps(r))
    return 0


if __name__ == "__main__":
    sys.exit(main())
