"""Closed-loop HTTP load generator: one client, run in its own process.

    python3 graftbench/loadgen.py PLAN.json RESULTS.json

The plan holds the server URL, the warm-up blocks, the timed blocks and
the timed window in seconds. Each block is a fixed mix of requests; the
client sends the next request only when the previous answer is in. It
runs every warm-up block, then timed blocks until the window has
elapsed (and at least ``min_blocks``), always finishing the block it
is in, so the timed mix is exactly whole blocks. Every answer is written out for checking.
Timestamps are ``time.monotonic()``, comparable with the server's.
"""

from __future__ import annotations

import http.client
import json
import sys
import time
from urllib.parse import urlparse


def send(host: str, port: int, req: dict) -> tuple[int, object]:
    conn = http.client.HTTPConnection(host, port, timeout=120)
    try:
        body = None
        headers = {}
        if "body" in req:
            body = json.dumps(req["body"]).encode()
            headers = {"Content-Type": "application/json"}
        conn.request(req["method"], req["path"], body=body, headers=headers)
        resp = conn.getresponse()
        return resp.status, json.loads(resp.read() or b"null")
    finally:
        conn.close()


def run_block(host, port, block, phase, index, out) -> None:
    for req in block:
        t0 = time.monotonic()
        try:
            status, body = send(host, port, req)
        except (OSError, http.client.HTTPException, ValueError) as e:
            status, body = 0, {"client_error": repr(e)}
        out.append(
            {"phase": phase, "block": index, "id": req["id"], "kind": req["kind"],
             "t0": t0, "t1": time.monotonic(), "status": status, "body": body}
        )


def main(plan_path: str, results_path: str) -> int:
    with open(plan_path) as fh:
        plan = json.load(fh)
    url = urlparse(plan["url"])
    out: list[dict] = []
    for i, block in enumerate(plan["warmup"]):
        run_block(url.hostname, url.port, block, "warmup", i, out)
    start = time.monotonic()
    for i, block in enumerate(plan["timed"]):
        if i >= plan["min_blocks"] and time.monotonic() - start >= plan["seconds"]:
            break
        run_block(url.hostname, url.port, block, "timed", i, out)
    else:
        print("loadgen: plan ran out of timed blocks", file=sys.stderr)
        return 3
    with open(results_path, "w") as fh:
        json.dump({"window_start": start, "requests": out}, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main(*sys.argv[1:3]))
