"""Open-loop HTTP load generator, run in its own process.

    python3 perfbench/http_client.py PORT CONNECTIONS < schedule.json

Requests are released on a fixed schedule whatever the server does; at
most ``connections`` are in flight, and a request that finds every
connection busy waits in the backlog. Each request is timed from when
it was due, so a stall is charged to every request queued behind it.
"""

from __future__ import annotations

import json
import queue
import sys
import threading
import time
import urllib.error
import urllib.request


def make_schedule(rates: list[float], rung_s: float, charts: list[str],
                  page_period_s: float) -> list[tuple]:
    """(rung, due offset s, path): evenly spaced arrivals at each fixed
    rate. One request per ``page_period_s`` loads the page, at every
    rate; the others fetch the charts in turn, so every run sends the
    same mix."""
    out = []
    n_chart = 0
    for rung, rate in enumerate(rates):
        page_every = max(1, round(rate * page_period_s))
        for i in range(int(rate * rung_s)):
            if i % page_every == page_every - 1:
                path = "/"
            else:
                path = f"/api/chart/{charts[n_chart % len(charts)]}"
                n_chart += 1
            out.append((rung, rung * rung_s + i / rate, path))
    return out


def run(port: int, schedule: list[list], connections: int) -> dict:
    """Replay ``schedule`` against ``127.0.0.1:port``; return one record
    per request and the generator's lateness and backlog."""
    work: queue.Queue = queue.Queue()
    records: list[dict] = []
    lock = threading.Lock()
    t0 = time.monotonic()

    def worker() -> None:
        while True:
            item = work.get()
            if item is None:
                return
            rung, due, path = item
            sent = time.monotonic() - t0
            status = 0
            try:
                with urllib.request.urlopen(
                    f"http://127.0.0.1:{port}{path}", timeout=120
                ) as resp:
                    resp.read()
                    status = resp.status
            except urllib.error.HTTPError as exc:
                status = exc.code
            except OSError:
                status = -1
            done = time.monotonic() - t0
            with lock:
                records.append({"rung": rung, "path": path, "due": due,
                                "sent": sent, "done": done, "status": status})

    threads = [threading.Thread(target=worker, daemon=True)
               for _ in range(connections)]
    for t in threads:
        t.start()
    lateness, backlog_max = 0.0, 0
    for item in schedule:
        wait = item[1] - (time.monotonic() - t0)
        if wait > 0:
            time.sleep(wait)
        lateness = max(lateness, time.monotonic() - t0 - item[1])
        work.put(item)
        backlog_max = max(backlog_max, work.qsize() - 1)
    for _ in threads:
        work.put(None)
    for t in threads:
        t.join(timeout=300)
    return {"records": records, "gen_lateness_s": lateness,
            "backlog_max": backlog_max, "hung": sum(t.is_alive() for t in threads)}


if __name__ == "__main__":
    port, connections = int(sys.argv[1]), int(sys.argv[2])
    json.dump(run(port, json.load(sys.stdin), connections), sys.stdout)
