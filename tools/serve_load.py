"""Latency of the HTTP routes under concurrent clients.

    python3 tools/serve_load.py

Run from the root of a checkout. The script writes a lake of two
datasets of ``ROWS`` rows each into a temporary directory (``trains`` as
Parquet, ``trains_csv`` as CSV, both through ``DataLake.save``), serves
it with ``server.make_server`` on an ephemeral localhost port, and plays
one untimed warm-up round. Then, for each count in ``CLIENTS``, that
many threads each hold one ``http.client`` connection and send their
share of ``REQUESTS`` requests per route, closed loop (the next request
after the previous reply). Every route but ``sql miss`` repeats one
request, so after the warm-up round the server answers it from its
answer pool (``DataLake.answer``); ``sql miss`` asks for a limit no
request asked for before, so each of its requests runs the query. It
prints the p50 and p99 latency of every route at every client count,
and the number of failed requests. The driver heap is 2g unless
``SPARK_DRIVER_MEMORY`` says otherwise; cores come from
``SPARK_GRAFT_CPUS`` as for the server.
"""

from __future__ import annotations

import http.client
import itertools
import json
import math
import os
import shutil
import sys
import tempfile
import threading
import time
from collections import Counter

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

ROWS = 250_000  # per dataset
REQUESTS = 32  # per route at each client count
CLIENTS = (1, 8, 32)
SQL = (
    "SELECT station_id, COUNT(*) AS n, SUM(arrival_delay) AS total"
    " FROM trains GROUP BY station_id ORDER BY station_id"
)
REGRESSION = json.dumps({"x_col": "distance_km", "y_col": "arrival_delay"})
# route name → (method, path, body); a callable body is called per request
ROUTES = {
    f"{kind} {ds}": req
    for ds in ("trains", "trains_csv")
    for kind, req in (
        ("preview", ("GET", f"/data/{ds}/preview?limit=100", None)),
        ("delays", ("GET", f"/data/{ds}/delays?sorting=Desc&limit=100", None)),
        ("regression", ("POST", f"/data/{ds}/regression", REGRESSION)),
    )
}
ROUTES["sql trains"] = ("POST", "/sql", json.dumps({"query": SQL}))
_limits = itertools.count(1000)  # above the query's 200 rows
ROUTES["sql miss"] = ("POST", "/sql", lambda: json.dumps({"query": SQL, "limit": next(_limits)}))


def write_lake(spark, lake_dir: str, rows: int):
    from pyspark.sql import functions as F

    from polars_express_spark.catalog import DataLake

    lake = DataLake(spark, lake_dir)
    df = spark.range(rows).select(
        F.concat(F.lit("T"), (F.col("id") % 50_000).cast("string")).alias("train_id"),
        (F.rand(1) * 795 + 5).alias("distance_km"),
        (F.randn(2) * 6 + 4).alias("departure_delay"),
        (F.randn(3) * 8 + 5).alias("arrival_delay"),
        (F.col("id") % 200).alias("station_id"),
    )
    lake.save(df, "trains")
    lake.save(df.coalesce(1), "trains_csv", fmt="csv")
    return lake


def percentile(xs: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(xs)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def run_level(port: int, clients: int, requests: int) -> tuple[dict, Counter]:
    """``clients`` closed-loop threads sending ``requests`` per route in
    all: route → latencies in ms, and failed requests by cause."""
    per_client = math.ceil(requests / clients)
    lat: dict[str, list[float]] = {r: [] for r in ROUTES}
    failed: Counter = Counter()
    lock = threading.Lock()
    start = threading.Barrier(clients)

    def client(seed: int) -> None:
        conn = http.client.HTTPConnection("127.0.0.1", port, timeout=600)
        order = list(ROUTES)
        start.wait()
        try:
            for i in range(per_client):
                for name in order[(seed + i) % len(order):] + order[:(seed + i) % len(order)]:
                    method, path, body = ROUTES[name]
                    body = body() if callable(body) else body
                    headers = {"Content-Type": "application/json"} if body else {}
                    t0 = time.perf_counter()
                    try:
                        conn.request(method, path, body=body, headers=headers)
                        resp = conn.getresponse()
                        resp.read()
                        error = None if resp.status == 200 else f"{name}: HTTP {resp.status}"
                    except (OSError, http.client.HTTPException) as e:
                        error = f"{name}: {type(e).__name__}"
                        conn.close()
                    ms = (time.perf_counter() - t0) * 1e3
                    with lock:
                        lat[name].append(ms)
                        if error:
                            failed[error] += 1
        finally:
            conn.close()

    threads = [threading.Thread(target=client, args=(i,), daemon=True) for i in range(clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=1800)
    if any(t.is_alive() for t in threads):
        raise RuntimeError(f"a client at {clients} clients did not finish")
    return lat, failed


def main() -> int:
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    from polars_express_spark.server import make_server
    from polars_express_spark.session import get_spark

    spark = get_spark(app_name="serve_load")
    lake_dir = tempfile.mkdtemp(prefix="serve_load_")
    srv = None
    try:
        lake = write_lake(spark, lake_dir, ROWS)
        srv = make_server(lake, "127.0.0.1", 0)
        threading.Thread(target=srv.serve_forever, daemon=True).start()
        port = srv.server_address[1]
        run_level(port, 1, 1)  # warm-up, untimed
        print(f"{'clients':>7}  {'route':<22}{'n':>4}  {'p50_ms':>8}  {'p99_ms':>8}")
        for clients in CLIENTS:
            lat, failed = run_level(port, clients, REQUESTS)
            for name, xs in lat.items():
                print(f"{clients:>7}  {name:<22}{len(xs):>4}  "
                      f"{percentile(xs, 0.5):>8.1f}  {percentile(xs, 0.99):>8.1f}")
            print(f"{clients:>7}  failed requests: {sum(failed.values())}"
                  f" {dict(failed) if failed else ''}", flush=True)
    finally:
        if srv is not None:
            srv.shutdown()
            srv.server_close()
        spark.stop()
        shutil.rmtree(lake_dir, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
