"""Workload ``stream``: the streaming admission loop, closed loop.

Each epoch appends one seeded slice of text documents to the
``es_scroll`` JSONL shards and runs one ``availableNow`` trigger of
``stream_scroll_ingest_pipeline`` on the same work dir, so the
signature store grows epoch over epoch.  Slices carry planted exact
duplicates (across epochs, within an epoch, re-used doc ids, and ids
arriving twice in one epoch).

The monitor rows and the committed bulk payload of every epoch are
compared with the greedy-by-id admission rule applied in plain Python:
after last-write-wins per doc id, a doc is rejected iff its text equals
an admitted doc of an earlier epoch or a lower-id doc of its own epoch.
"""

from __future__ import annotations

import os
import shutil
import time

import gen
from common import (MEASURE, Result, Setup, check_coverage, e2e,
                    generic_layers, median, spark_layer)
from layers import peak_rss_mb

DOCS_PER_EPOCH = 250
MAX_EPOCHS = 12
WARM_DOCS = 40


class Workload:
    def __init__(self, run_dir: str, seed: int, seconds: float, trace: bool):
        self.run_dir, self.seed, self.seconds, self.trace = run_dir, seed, seconds, trace

    def generate(self) -> None:
        self.slices = gen.stream_slices(self.seed, MAX_EPOCHS, DOCS_PER_EPOCH)
        self.warm = gen.stream_slices(self.seed + 1, 1, WARM_DOCS)
        self.index = os.path.join(self.run_dir, "index")
        self.work = os.path.join(self.run_dir, "work")

    def close(self) -> None:
        pass

    def _epoch(self, spark, index: str, work: str) -> None:
        from flink_elasticsearch_ingestion_spark.streaming.pipeline import (
            stream_scroll_ingest_pipeline)

        q = stream_scroll_ingest_pipeline(spark, index, work)
        q.awaitTermination(170)
        if q.isActive or q.exception() is not None:
            q.stop()
            raise RuntimeError(f"epoch did not finish: {q.exception()}")

    def run(self, spark, tracer, session_s: float) -> Result:
        from flink_elasticsearch_ingestion_spark.sources.es_bulk import (
            read_bulk_payload, register_bulk_sink)
        from flink_elasticsearch_ingestion_spark.sources.es_scroll import (
            register_scroll_source)
        from flink_elasticsearch_ingestion_spark.streaming.pipeline import read_monitor_log

        res = Result()
        setup = Setup(tracer, session_s)

        def register():
            register_scroll_source(spark)
            register_bulk_sink(spark)

        def warmup():
            # one epoch on a throwaway work dir
            d = os.path.join(self.run_dir, "warm")
            gen.append_slice(os.path.join(d, "index"), self.warm.epochs[0])
            self._epoch(spark, os.path.join(d, "index"), os.path.join(d, "work"))
            shutil.rmtree(d, ignore_errors=True)

        setup.run(register, warmup)

        epoch_s = []
        arrived = 0
        failed_epochs = 0
        t_end = time.perf_counter() + self.seconds
        with tracer.call(MEASURE, spark_counters=False):
            e = 0
            while e == 0 or (time.perf_counter() < t_end and e < MAX_EPOCHS):
                with tracer.call("harness.append_slice", spark_counters=False):
                    gen.append_slice(self.index, self.slices.epochs[e])
                t0 = time.perf_counter()
                try:
                    with tracer.call("streaming.epoch"):
                        self._epoch(spark, self.index, self.work)
                except Exception as exc:  # an epoch that fails is a failed op
                    failed_epochs += 1
                    res.problems.append(f"epoch {e} failed: {exc}")
                epoch_s.append(time.perf_counter() - t0)
                arrived += len(self.slices.epochs[e])
                e += 1
        n_epochs = len(epoch_s)

        # ---------------------------------------------------- checks
        expected = _expected(self.slices.epochs[:n_epochs])
        mon = {r["epoch"]: r.asDict() for r in read_monitor_log(spark, self.work).collect()}
        got_bulk = {}
        for b in range(n_epochs):
            d = os.path.join(self.work, "bulk", f"batch={b}")
            got_bulk[b] = sorted(
                (a["index"]["_id"], a["index"]["_index"], body)
                for a, body in (read_bulk_payload(d) if os.path.isdir(d) else [])
            )
        problems = _compare(expected, mon, got_bulk)
        for p in problems:
            res.problems.append(p)
        # self-test: dropping one admitted doc must fail the same comparison
        last = max((b for b in got_bulk if got_bulk[b]), default=None)
        if last is not None:
            bad = dict(got_bulk)
            bad[last] = bad[last][1:]
            res.check(bool(_compare(expected, mon, bad)),
                      "self-test: dropped admitted doc was not caught")
        else:
            res.problems.append("self-test: no admitted docs to drop")
        res.attempted, res.failed = n_epochs, failed_epochs

        # ---------------------------------------------------- metrics
        summed_s = sum(epoch_s)
        res.e2e_metrics = e2e(setup, arrived / summed_s, median(epoch_s))
        rss = peak_rss_mb(spark)
        n_unique = sum(x["n_unique"] for x in expected)
        n_admitted = sum(x["n_admitted"] for x in expected)
        res.report.update({
            "setup_s": round(setup.setup_s, 4),
            "epoch_s": round(median(epoch_s), 4),
            "epochs": n_epochs,
            "stream_docs_per_s": round(arrived / summed_s, 2),
            "peak_rss_mb": round(rss, 1),
            "failed_ops": round(failed_epochs / max(1, n_epochs), 6),
            "inputs": {**self.slices.props,
                       "planted_dup_share": round(1 - n_admitted / max(1, n_unique), 4)},
        })
        if self.trace:
            res.layer_metrics = generic_layers(tracer, setup, "streaming.epoch", rss)
            spans = [s for s in tracer.children(MEASURE) if s.name == "streaming.epoch"]
            rep = spark_layer("stream", spans)
            res.report.update({
                **rep,
                "stream.jobs_per_epoch": round(rep.get("stream.jobs", 0) / n_epochs, 2),
                "stream.stages_per_epoch": round(rep.get("stream.stages", 0) / n_epochs, 2),
                "stream.admit_ratio": round(n_admitted / max(1, n_unique), 4),
                "stream.persisted_rdds_after": spark.sparkContext._jsc.getPersistentRDDs().size(),
            })
            check_coverage(res, tracer)
        return res


def _expected(epochs: list) -> list[dict]:
    store: set = set()
    out = []
    for e, docs in enumerate(epochs):
        last: dict = {}
        for d in docs:
            cur = last.get(d["doc_id"])
            if cur is None or d["ts"] > cur["ts"]:
                last[d["doc_id"]] = d
        seen: set = set()
        admitted = []
        for doc_id in sorted(last):
            d = last[doc_id]
            if d["source"] not in store and d["source"] not in seen:
                admitted.append(d)
            seen.add(d["source"])
        store.update(d["source"] for d in admitted)
        out.append({
            "epoch": e,
            "n_seen": len(docs),
            "n_unique": len(last),
            "n_admitted": len(admitted),
            "n_rejected": len(last) - len(admitted),
            "admitted_chars": sum(len(d["source"]) for d in admitted),
            "bulk": sorted((d["doc_id"], d["index_id"], d["source"]) for d in admitted),
        })
    return out


def _compare(expected: list, mon: dict, bulk: dict) -> list[str]:
    problems = []
    if sorted(mon) != [x["epoch"] for x in expected]:
        problems.append(f"monitor epochs {sorted(mon)} != {len(expected)} epochs run")
    for x in expected:
        e = x["epoch"]
        row = mon.get(e, {})
        for k in ("n_seen", "n_unique", "n_admitted", "n_rejected", "admitted_chars"):
            if row.get(k) != x[k]:
                problems.append(f"epoch {e}: monitor {k}={row.get(k)} expected {x[k]}")
        if bulk.get(e) != x["bulk"]:
            problems.append(f"epoch {e}: bulk payload has {len(bulk.get(e, []))} docs, "
                            f"expected {len(x['bulk'])} (or contents differ)")
    return problems
