"""The hermetic Elasticsearch lookalike in a process of its own.

Run as ``python3 perfbench/esproc.py <seed> <fail_rate> <calls>`` from the
checkout root: it serves ``sources.es_testing.FakeElasticsearchServer``
on an ephemeral localhost port, prints the URL as its first stdout
line, then answers one line per stdin command:

- ``stats``  -> ``{"bulk_calls": n}`` (the server's own count)
- EOF        -> shut down and exit

A seeded schedule answers about ``fail_rate`` of the first ``calls``
``/_bulk`` calls with per-item 429s, so the client's retry path runs.
The server pops the schedule's head on every call, so it is sized to
the calls a run makes rather than made large.

``EsProcess`` is the parent-side handle.
"""

from __future__ import annotations

import json
import os
import random
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def main() -> None:
    sys.path.insert(0, os.getcwd())
    from flink_elasticsearch_ingestion_spark.sources.es_testing import (
        FakeElasticsearchServer,
    )

    seed, rate, calls = int(sys.argv[1]), float(sys.argv[2]), int(sys.argv[3])
    rng = random.Random(seed)
    server = FakeElasticsearchServer(username="bench", password="bench")
    # one entry per bulk call: None proceeds, 429 fails every item
    server.state.fail_bulk_statuses = [
        429 if rng.random() < rate else None for _ in range(calls)
    ]
    server.start()
    print(server.url, flush=True)
    try:
        for line in sys.stdin:
            if line.strip() == "stats":
                with server.state.lock:
                    calls = server.state.bulk_calls
                print(json.dumps({"bulk_calls": calls}), flush=True)
    finally:
        server.stop()


class EsProcess:
    def __init__(self, seed: int, fail_rate: float, calls: int):
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "esproc.py"),
             str(seed), str(fail_rate), str(calls)],
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            text=True,
        )
        self.url = self.proc.stdout.readline().strip()
        if not self.url.startswith("http://"):
            self.close()
            raise RuntimeError("hermetic ES process failed to start")

    def bulk_calls(self) -> int:
        self.proc.stdin.write("stats\n")
        self.proc.stdin.flush()
        return json.loads(self.proc.stdout.readline())["bulk_calls"]

    def close(self) -> None:
        if self.proc.poll() is None:
            self.proc.stdin.close()
            try:
                self.proc.wait(timeout=20)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()


if __name__ == "__main__":
    main()
