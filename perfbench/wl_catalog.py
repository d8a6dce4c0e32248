"""Workload ``catalog``: the 28 headline catalog queries, read-only.

Fixture-shaped tables are generated from the seed (``gen.write_tables``
at ``SF``); each query from ``__spark_entry__.queries()`` is built and
then collected once (``toPandas``), after the set-up's warm-up.  Every
result is compared with the query's DuckDB oracle
(``__spark_entry__.oracle_sql()``) over the same files, normalised with
``scripts/check_oracle.normalize``.

The streaming admission layer (``streaming/pipeline.py``: the
``admit_batch`` rounds the stream runs per epoch) is probed here too,
through its catalog twin ``streaming_admission_replay``; it is timed
and oracle-checked apart from the panel, so the panel numbers cover the
28 queries only.
"""

from __future__ import annotations

import importlib.util
import math
import numbers
import os
import time

import gen
from common import (MEASURE, Result, Setup, check_coverage, e2e,
                    generic_layers, median, spark_layer)
from layers import peak_rss_mb

SF = 0.01
MIN_PASSES = 2

#: bench.HEADLINE, copied (not imported) so the panel stays fixed when
#: bench.py changes
PANEL = (
    "copy_incremental", "latest_event_per_user",
    "pricing_summary", "top_revenue_orders", "local_supplier_volume",
    "returned_item_losses", "large_quantity_orders", "top_order_per_customer",
    "revenue_rollup", "ship_within_30d", "purchases_after_click",
    "events_by_day", "salted_agg", "session_windows", "asof_join",
    "training_data_pipeline", "text_stats", "quality_scores", "fingerprints",
    "dedup_content", "minhash_near_dup", "simhash_buckets",
    "cosine_topk", "knn_join", "lsh_topk", "embedding_dim_stats",
    "media_stats", "media_features",
)
#: catalog twin of the streaming admission loop (streaming/pipeline.py)
STREAM_PROBE = "streaming_admission_replay"
#: one join + aggregate + window through Engine.sql, so the panel's
#: first queries do not pay for compiling the common operators
WARMUP_SQL = (
    "SELECT o_orderpriority, count(*) AS n, sum(l_extendedprice) AS rev,"
    " rank() OVER (ORDER BY count(*) DESC) AS r"
    " FROM lineitem JOIN orders ON l_orderkey = o_orderkey"
    " GROUP BY o_orderpriority"
)


def _oracle_module(root: str):
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(root, "scripts", "check_oracle.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class Workload:
    def __init__(self, run_dir: str, seed: int, seconds: float, trace: bool):
        self.run_dir, self.seed, self.seconds, self.trace = run_dir, seed, seconds, trace

    def generate(self) -> None:
        self.sf = os.path.join(self.run_dir, "sf")
        self.table_props = gen.write_tables(self.sf, self.seed, SF)

    def close(self) -> None:
        pass

    def _query(self, spark, tracer, name: str, res: Result, out: dict,
               layer: str = "catalog") -> None:
        import __spark_entry__ as entry

        t0 = time.perf_counter()
        try:
            with tracer.call(f"{layer}.build.{name}"):
                df = entry.queries()[name](spark, self.sf)
            with tracer.call(f"{layer}.action.{name}"):
                pdf = df.toPandas()
        except Exception as exc:  # a query that raises is a failed op
            res.failed += 1
            res.problems.append(f"{name} raised: {exc!r}"[:300])
            return
        out[name] = {"total_s": time.perf_counter() - t0, "pdf": pdf}

    def run(self, spark, tracer, session_s: float) -> Result:
        from flink_elasticsearch_ingestion_spark.api import Engine

        res = Result()
        setup = Setup(tracer, session_s)
        holder = {}

        def register():
            holder["engine"] = Engine(self.sf, spark)

        def warmup():
            holder["engine"].sql(WARMUP_SQL).collect()

        setup.run(register, warmup)

        # passes over the panel until --seconds have passed, and at least
        # MIN_PASSES: one pass already takes longer than run_seconds on
        # a 4-core host, and single-pass query latencies spread too far
        panels: list[dict] = []
        probe: dict = {}
        t_end = time.perf_counter() + self.seconds
        with tracer.call(MEASURE, spark_counters=False):
            while len(panels) < MIN_PASSES or time.perf_counter() < t_end:
                panel: dict = {}
                for name in PANEL:
                    self._query(spark, tracer, name, res, panel)
                    res.attempted += 1
                panels.append(panel)
            self._query(spark, tracer, STREAM_PROBE, res, probe, layer="stream_admission")
            res.attempted += 1

        # ---------------------------------------------------- checks
        import duckdb
        import __spark_entry__ as entry

        oracle = _oracle_module(os.getcwd())
        con = duckdb.connect()
        for t in gen.TABLE_NAMES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf}/{t}.parquet'")
        sqls = entry.oracle_sql()
        results = {**panel, **probe}
        rounding: dict = {}
        for name, r in results.items():
            duck = con.execute(sqls[name]).fetchdf()
            cells: list = []
            problems = _diff(oracle, r["pdf"], duck, cells)
            res.check(not problems, f"{name}: " + "; ".join(problems))
            if cells:
                rounding[name] = [f"{c}: spark {x} duck {y}" for c, x, y in cells]
        # self-test: one changed result row must fail the same comparison
        altered = ((n, _altered(results[n]["pdf"])) for n in PANEL
                   if n in results and len(results[n]["pdf"]))
        name, bad = next(((n, b) for n, b in altered if b is not None), (None, None))
        if name is None:
            res.problems.append("self-test: no query result row to alter")
        else:
            res.check(bool(_diff(oracle, bad, con.execute(sqls[name]).fetchdf())),
                      f"self-test: changed row of {name} was not caught")
        con.close()

        # ---------------------------------------------------- metrics
        # each query's latency is its median over the passes
        per_query = {n: median([p[n]["total_s"] for p in panels if n in p]) for n in panel}
        lat = list(per_query.values())
        catalog_s = median([sum(r["total_s"] for r in p.values()) for p in panels])
        res.e2e_metrics = e2e(setup, len(PANEL) / catalog_s, median(lat))
        rss = peak_rss_mb(spark)
        res.report.update({
            "setup_s": round(setup.setup_s, 4),
            "catalog_s": round(catalog_s, 4),
            "panels": len(panels),
            "query_samples": len(lat),
            "query_p50_s": round(median(lat), 4),
            "peak_rss_mb": round(rss, 1),
            "failed_ops": round(res.failed / max(1, res.attempted), 6),
            "stream_admission.replay_s": round(probe.get(STREAM_PROBE, {}).get("total_s", 0.0), 4),
            "inputs": self.table_props,
            "oracle.last_digit_diffs": rounding,
        })
        if self.trace:
            res.layer_metrics = generic_layers(tracer, setup, "catalog.", rss)
            inside = tracer.children(MEASURE)
            panel_spans = [s for s in inside if s.name.startswith("catalog.")]
            build = spark_layer("catalog.build", [s for s in panel_spans if ".build." in s.name])
            action = spark_layer("catalog.action", [s for s in panel_spans if ".action." in s.name])
            allq = spark_layer("catalog", panel_spans)
            res.report.update({
                "tables.register_s": round(setup.layers()["setup.register_s"][0], 4),
                "tables.schema_jobs": setup.layers()["setup.register_jobs"][0],
                "catalog.build_s": build.get("catalog.build.wall_s"),
                "catalog.build_jobs": build.get("catalog.build.jobs"),
                "catalog.action_s": action.get("catalog.action.wall_s"),
                "catalog.action_jobs": action.get("catalog.action.jobs"),
                "catalog.executor_run_s": allq.get("catalog.executor_run_s"),
                "catalog.gc_s": allq.get("catalog.gc_s"),
                "catalog.shuffle_write_bytes": allq.get("catalog.shuffle_write_bytes"),
                "catalog.leaked_rdds": allq.get("catalog.persisted_delta"),
                **{f"catalog.{n}_s": round(t, 4) for n, t in per_query.items()},
                **spark_layer("stream_admission",
                              [s for s in inside if s.name.startswith("stream_admission.")]),
            })
            check_coverage(res, tracer)
        return res


def _diff(oracle, spark_pd, duck_pd, rounding: list | None = None) -> list[str]:
    """The DuckDB-oracle comparison of scripts/check_oracle.py, except
    that two floats may differ by one unit in the 9th significant digit
    (the precision ``normalize`` prints).  Spark and DuckDB sum doubles
    in different orders, so ``round(sum(x), 2)`` can land on either side
    of a half-cent; each such cell is appended to ``rounding``."""
    problems = []
    mismatch = oracle._dtype_class_mismatch(spark_pd, duck_pd)
    if mismatch:
        problems.append(f"dtype class mismatch {mismatch}")
    if len(spark_pd) != len(duck_pd):
        problems.append(f"rowcount spark={len(spark_pd)} duck={len(duck_pd)}")
    if sorted(spark_pd.columns) != sorted(duck_pd.columns):
        problems.append(f"cols spark={sorted(spark_pd.columns)} duck={sorted(duck_pd.columns)}")
    if not problems:
        a, b = oracle.normalize(spark_pd), oracle.normalize(duck_pd)
        bad = 0
        for col in a.columns:
            for x, y in zip(a[col], b[col]):
                if x == y:
                    continue
                if _last_digit_apart(x, y):
                    if rounding is not None:
                        rounding.append((col, x, y))
                else:
                    bad += 1
        if bad:
            problems.append(f"{bad} values differ")
    return problems


def _last_digit_apart(x: str, y: str) -> bool:
    if not (x.startswith("f:") and y.startswith("f:")):
        return False
    a, b = float(x[2:]), float(y[2:])
    mag = max(abs(a), abs(b))
    return mag > 0 and abs(a - b) <= 1.01 * 10 ** (math.floor(math.log10(mag)) - 8)


def _altered(pdf):
    """A copy of ``pdf`` with one string or number cell of its first row
    changed (None when there is no such cell)."""
    for col in pdf.columns:
        v = pdf.at[pdf.index[0], col]
        if isinstance(v, (str, numbers.Number)) and not isinstance(v, (bool, complex)):
            bad = pdf.copy()
            bad.at[bad.index[0], col] = v + "~" if isinstance(v, str) else v + 1
            return bad
    return None
