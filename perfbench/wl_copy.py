"""Workload ``copy``: the paper's job, ES index -> ES index.

A full ``Engine.copy_run_bulk`` over seeded event versions, then polls
that each append one delta file and copy again from the checkpoint.
Every run's committed bulk payload is read back with
``read_bulk_payload`` and delivered over real HTTP to the hermetic ES
(its own process) with ``send_bulk_with_retry`` in 64-action requests,
while a seeded schedule answers ~2% of bulk calls with 429s.

The cycle (reset, full copy, polls) repeats until ``--seconds`` have
passed; every cycle does identical work.  The target index is then
scrolled back over HTTP and compared with last-write-wins per id,
computed in plain Python from the generated versions.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import time
import urllib.error

import pyarrow as pa
import pyarrow.parquet as pq

import gen
from common import (MEASURE, Result, Setup, check_coverage, e2e,
                    generic_layers, median, quantile, spark_layer)
from layers import peak_rss_mb
from esproc import EsProcess

N_IDS = 10_000
REWRITE_SHARE = 0.3
POLLS = 3
DELTA_ROWS = 500
MAX_CYCLES = 8
FAIL_RATE = 0.02
#: base retry delay handed to send_bulk_with_retry (the reference's is
#: 2000 ms; small here so the retry path runs without long sleeps)
BASE_DELAY_MS = 1
BULK_ACTIONS = 64
WARM_IDS = 2_000


def _chunks(n: int) -> int:
    return -(-n // BULK_ACTIONS)


#: most bulk calls a run makes (every cycle and the warm-up), doubled
#: for retries; the ES process's 429 schedule covers that many
MAX_BULK_CALLS = 2 * (MAX_CYCLES * (_chunks(N_IDS) + POLLS * _chunks(DELTA_ROWS))
                      + _chunks(WARM_IDS) + _chunks(DELTA_ROWS))


class Workload:
    def __init__(self, run_dir: str, seed: int, seconds: float, trace: bool):
        self.run_dir, self.seed, self.seconds, self.trace = run_dir, seed, seconds, trace
        self.es = None
        self.req_ms: list[float] = []
        self.requests = self.attempts = self.retried_items = 0
        self.items = self.failed_items = 0

    # ------------------------------------------------------------ inputs
    def generate(self) -> None:
        self.sf = os.path.join(self.run_dir, "sf")
        self.table_props = gen.write_tables(self.sf, self.seed, 0.001, skip=("events",))
        self.inputs = gen.copy_inputs(self.seed, N_IDS, REWRITE_SHARE, POLLS, DELTA_ROWS)
        self.events = os.path.join(self.sf, "events.parquet")
        os.makedirs(self.events)
        pq.write_table(self.inputs.base, os.path.join(self.events, "part-base.parquet"))
        # warm-up source: same shape, its own ids and index names
        self.warm = os.path.join(self.run_dir, "warm")
        os.makedirs(os.path.join(self.warm, "events.parquet"))
        for name in gen.TABLE_NAMES:
            if name != "events":
                os.symlink(os.path.join(self.sf, f"{name}.parquet"),
                           os.path.join(self.warm, f"{name}.parquet"))
        w = gen.copy_inputs(self.seed + 1, WARM_IDS, REWRITE_SHARE, 1, DELTA_ROWS)
        base, self.warm_delta = (
            t.set_column(t.column_names.index("event_type"), "event_type",
                         pa.array(["warm-" + v for v in t.column("event_type").to_pylist()]))
            for t in (w.base, w.deltas[0])
        )
        pq.write_table(base, os.path.join(self.warm, "events.parquet", "part-0.parquet"))
        self.es = EsProcess(self.seed, FAIL_RATE, MAX_BULK_CALLS)
        from flink_elasticsearch_ingestion_spark.config import SinkConfig
        from flink_elasticsearch_ingestion_spark.sources.es_client import (
            ElasticsearchRestClient, urllib_transport)

        self.client = ElasticsearchRestClient(
            SinkConfig(urls=self.es.url, username="bench", password="bench"),
            transport=urllib_transport,
        )

    def close(self) -> None:
        if self.es is not None:
            self.es.close()

    # -------------------------------------------------------------- ES
    def _http(self, method: str, path: str, body=None, missing_ok=False) -> dict:
        try:
            return self.client.send(self.client.request(method, path, body))
        except urllib.error.HTTPError as e:
            if missing_ok and e.code == 404:
                return {}
            raise

    def deliver(self, bulk_dir: str, tracer) -> set:
        """Read one committed payload and bulk it into ES; returns the
        (index, id) pairs the target acknowledged."""
        from flink_elasticsearch_ingestion_spark.sources.es_bulk import read_bulk_payload
        from flink_elasticsearch_ingestion_spark.sources.es_client import (
            BulkIndexError, BulkRetriesExhausted, send_bulk_with_retry)

        with tracer.call("es_bulk.read_bulk_payload", spark_counters=False):
            pairs = read_bulk_payload(bulk_dir)
            actions = [
                {"index_id": a["index"]["_index"], "doc_id": a["index"]["_id"],
                 "body": json.loads(body)}
                for a, body in pairs
            ]
        acked = set()
        with tracer.call("es_client.send_bulk_with_retry", spark_counters=False):
            for i in range(0, len(actions), BULK_ACTIONS):
                chunk = actions[i:i + BULK_ACTIONS]
                self.items += len(chunk)
                t0 = time.perf_counter()
                try:
                    r = send_bulk_with_retry(self.client, chunk, base_delay_ms=BASE_DELAY_MS)
                    self.attempts += r["attempts"]
                    self.retried_items += r["retried"]
                    acked.update((a["index_id"], a["doc_id"]) for a in chunk)
                except (BulkIndexError, BulkRetriesExhausted) as e:
                    # the response count of a failed call is not known
                    # here; the bulk_calls cross-check will show it
                    self.failed_items += len(getattr(e, "failures", [])) + len(e.pending)
                self.requests += 1
                self.req_ms.append((time.perf_counter() - t0) * 1e3)
        return acked

    def scroll_all(self) -> dict:
        out = {}
        for idx in gen.COPY_INDICES:
            r = self._http("POST", f"/{idx}/_search?scroll=1m", {"size": 1000}, missing_ok=True)
            sid = r.get("_scroll_id")
            hits = r.get("hits", {}).get("hits", [])
            while hits:
                for h in hits:
                    out[(h["_index"], h["_id"])] = h["_source"]
                r = self._http("POST", "/_search/scroll", {"scroll_id": sid, "scroll": "1m"})
                hits = r["hits"]["hits"]
            if sid:
                self._http("DELETE", "/_search/scroll", {"scroll_id": sid})
        return out

    def es_count(self) -> int:
        return sum(self._http("GET", f"/{i}/_count", missing_ok=True).get("count", 0)
                   for i in gen.COPY_INDICES)

    # ------------------------------------------------------------- run
    def run(self, spark, tracer, session_s: float) -> Result:
        from flink_elasticsearch_ingestion_spark.api import Engine
        from flink_elasticsearch_ingestion_spark.streaming.shell import CheckpointStore

        res = Result()
        setup = Setup(tracer, session_s)
        holder = {}

        def register():
            holder["engine"] = Engine(self.sf, spark)

        def warmup():
            # a full copy and one poll of the warm-up source, delivered
            w = Engine(self.warm, spark)
            ck = os.path.join(self.run_dir, "warm-ck.json")
            for step in ("full", "poll"):
                if step == "poll":
                    pq.write_table(self.warm_delta, os.path.join(
                        self.warm, "events.parquet", "delta-0.parquet"))
                d = os.path.join(self.run_dir, f"warm-bulk-{step}")
                w.copy_run_bulk(ck, d)
                self.deliver(d, tracer)

        setup.run(register, warmup)
        engine = holder["engine"]

        expected, max_ts = _expected(self.inputs.all_rows(POLLS))
        full_s, docs_per_s, visible_s, bulk_dirs = [], [], [], []
        ck = os.path.join(self.run_dir, "checkpoint.json")
        runs_n = []
        t_end = time.perf_counter() + self.seconds
        with tracer.call(MEASURE, spark_counters=False):
            cycle = 0
            while cycle == 0 or (time.perf_counter() < t_end and cycle < MAX_CYCLES):
                with tracer.call("harness.reset", spark_counters=False):
                    for idx in gen.COPY_INDICES:
                        self._http("DELETE", f"/{idx}", missing_ok=True)
                    for f in os.listdir(self.events):
                        if f.startswith("delta-"):
                            os.remove(os.path.join(self.events, f))
                    if os.path.exists(ck):
                        os.remove(ck)
                d = os.path.join(self.run_dir, f"bulk-{cycle}-full")
                t0 = time.perf_counter()
                with tracer.call("api.copy_run_bulk.full"):
                    n = engine.copy_run_bulk(ck, d)
                acked = self.deliver(d, tracer)
                full_s.append(time.perf_counter() - t0)
                docs_per_s.append(len(acked) / full_s[-1])
                bulk_dirs.append(d)
                runs_n.append((f"cycle {cycle} full copy", n, self.inputs.base.num_rows,
                               _distinct_ids(self.inputs.base)))
                for p, delta in enumerate(self.inputs.deltas):
                    d = os.path.join(self.run_dir, f"bulk-{cycle}-poll{p}")
                    t0 = time.perf_counter()
                    with tracer.call("harness.write_delta", spark_counters=False):
                        pq.write_table(delta, os.path.join(self.events, f"delta-{p}.parquet"))
                    with tracer.call("api.copy_run_bulk.poll"):
                        n = engine.copy_run_bulk(ck, d)
                    self.deliver(d, tracer)
                    visible_s.append(time.perf_counter() - t0)
                    bulk_dirs.append(d)
                    runs_n.append((f"cycle {cycle} poll {p}", n, delta.num_rows,
                                   _distinct_ids(delta)))
                with tracer.call("harness.check_count", spark_counters=False):
                    count = self.es_count()
                    saved = CheckpointStore(ck).load()
                res.check(count == len(expected),
                          f"cycle {cycle}: ES _count {count} != {len(expected)} distinct ids")
                res.check(saved is not None and dt.datetime.fromisoformat(saved) == max_ts,
                          f"cycle {cycle}: checkpoint {saved} != max ts {max_ts}")
                cycle += 1

        # ---------------------------------------------------- checks
        got = self.scroll_all()
        res.check(got == expected, f"target index differs from last-wins per id "
                                   f"({_ndiff(got, expected)} docs differ)")
        for what, n, _, want in runs_n:
            res.check(n == want, f"{what} wrote {n} docs, expected {want}")
        # self-test: one altered body must fail the same comparison
        key = sorted(got)[len(got) // 2]
        bad = dict(got)
        bad[key] = {**bad[key], "value": bad[key]["value"] + 1}
        res.check(bad != expected, "self-test: altered doc body was not caught")
        bulk_calls = self.es.bulk_calls()
        res.check(bulk_calls == self.attempts,
                  f"ES saw {bulk_calls} bulk calls; client sent {self.requests} "
                  f"requests + {self.attempts - self.requests} retries")
        res.attempted, res.failed = self.items, self.failed_items

        # ---------------------------------------------------- metrics
        res.e2e_metrics = e2e(setup, median(docs_per_s), median(visible_s))
        rss = peak_rss_mb(spark)
        res.report.update({
            "setup_s": round(setup.setup_s, 4),
            "copy_docs_per_s": round(median(docs_per_s), 2),
            "poll_visible_s": round(median(visible_s), 4),
            "poll_visible_samples": len(visible_s),
            "full_copy_s": round(median(full_s), 4),
            "full_copy_s_each": [round(x, 3) for x in full_s],
            "poll_visible_s_each": [round(x, 3) for x in visible_s],
            "cycles": len(full_s),
            "peak_rss_mb": round(rss, 1),
            "failed_ops": round(res.failed / max(1, res.attempted), 6),
            "es.bulk_calls": bulk_calls,
            "es_client.requests": self.requests,
            "es_client.retried_requests": self.attempts - self.requests,
            "inputs": {**self.inputs.props, "tables": self.table_props["rows"]},
        })
        if self.trace:
            res.layer_metrics = generic_layers(tracer, setup, "api.copy_run_bulk", rss)
            res.report.update(self._layer_report(tracer, setup, bulk_dirs, runs_n))
            check_coverage(res, tracer)
        return res

    def _layer_report(self, tracer, setup, bulk_dirs, runs_n) -> dict:
        inside = tracer.children(MEASURE)
        out = {
            "tables.register_s": round(setup.layers()["setup.register_s"][0], 4),
            "tables.schema_jobs": setup.layers()["setup.register_jobs"][0],
        }
        out.update(spark_layer("copy", [s for s in inside if s.name.startswith("api.copy_run_bulk")]))
        out["copy.full_run_s"] = round(median([s.dur for s in inside if s.name == "api.copy_run_bulk.full"]), 4)
        out["copy.poll_run_s"] = round(median([s.dur for s in inside if s.name == "api.copy_run_bulk.poll"]), 4)
        out["copy.docs_per_row"] = round(sum(r[1] for r in runs_n) / sum(r[2] for r in runs_n), 4)
        files, size, actions = 0, 0, 0
        for d in bulk_dirs:
            for f in os.listdir(d):
                if f.startswith("_MANIFEST"):
                    with open(os.path.join(d, f)) as fh:
                        m = json.load(fh)
                    files += len(m["files"])
                    actions += m["n_actions"]
                    size += sum(os.path.getsize(os.path.join(d, x)) for x in m["files"])
        out.update({
            "bulk.files": files,
            "bulk.bytes": size,
            "bulk.actions_per_file": round(actions / max(1, files), 2),
            "payload.read_s": round(sum(s.dur for s in inside if s.name == "es_bulk.read_bulk_payload"), 4),
            "es_client.send_s": round(sum(s.dur for s in inside if s.name == "es_client.send_bulk_with_retry"), 4),
            "es_client.request_ms_p50": round(median(self.req_ms), 3),
            "es_client.request_ms_p90": round(quantile(self.req_ms, 0.9), 3),
            "es_client.retried_items": self.retried_items,
            "es_client.useful_ratio": round(self.items / max(1, self.items + self.retried_items), 4),
        })
        return out


def _expected(rows: list[tuple]) -> tuple[dict, dt.datetime]:
    """Last write wins per event_id; the ES doc is the body columns."""
    last: dict = {}
    for event_id, ts, user_id, event_type, value, props in rows:
        cur = last.get(event_id)
        if cur is None or ts > cur[0]:
            last[event_id] = (ts, event_type, {"user_id": user_id, "value": value, "props": props})
    expected = {(et, str(i)): body for i, (_, et, body) in last.items()}
    return expected, max(r[1] for r in rows)


def _distinct_ids(t) -> int:
    return len(set(t.column("event_id").to_pylist()))


def _ndiff(a: dict, b: dict) -> int:
    return sum(1 for k in set(a) | set(b) if a.get(k) != b.get(k))
