"""analytics_batch: repeated full passes over a fixed query set.

Set-up writes the seeded catalog tables (``gen.write_tables``) and runs each
query once with ``collect()``, comparing its rows with the query's DuckDB
oracle under ``tools/check_oracle.py``'s normalization; the same run records
each query's row count and an order-insensitive hash of its normalized rows.
A timed pass then builds every plan fresh (``spec.fn``, as ``POST /query``
does) and materializes every output column through the ``noop`` sink; the
count and hash, observed during that write, must reproduce the set-up's.
"""

from __future__ import annotations

import math
import os
import statistics
import sys
import time

from perfbench import common, gen
from perfbench.trace import Tracer, set_job_group

# Root bench.py's HEADLINE list cut to one query per registry module the
# benchmark names (tpch, analytics, join_ops, streaming_ops, etl_parity,
# llm_ops), covering the dedup and text kernels (corpus_prep_pipeline), the
# similarity kernel (cosine_topk_bruteforce) and the Arrow UDF boundary
# (patients_ingest_valid), so that a run fits its share of the benchmark's
# time budget: a warm pass takes 4-7 s on 4 cores.
QUERIES = (
    "q1_pricing_summary",
    "sessionize_events",
    "asof_join_purchase_click",
    "stream_tumbling_counts",
    "patients_ingest_valid",
    "corpus_prep_pipeline",
    "cosine_topk_bruteforce",
)
SCALE = 0.01  # TPC-H scale factor of the generated tables (60k lineitem rows)
PYTHON_NODES = ("ArrowEvalPython", "BatchEvalPython", "InPandas", "PythonUDF",
                "MapInArrow", "PythonEvalUDTF")


def observed(df):
    """(df with metrics attached, Observation of row count + row hash)."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    parts = []
    for name, dtype in df.dtypes:
        c = F.col(f"`{name}`")
        if dtype in ("double", "float"):
            c = F.round(c, 6).cast("string")
        elif dtype.startswith(("array", "map", "struct")):
            c = F.to_json(c)
        elif dtype == "binary":
            c = F.hex(c)
        else:
            c = c.cast("string")
        parts.append(F.coalesce(c, F.lit("∅")))
    row_hash = F.xxhash64(F.concat_ws("|", *parts))
    obs = Observation()
    return df.observe(
        obs,
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.pmod(row_hash, F.lit(2147483647))).alias("hash"),
    ), obs


def failure(e: Exception) -> str:
    """One line naming a query's exception, the first line of its message
    included."""
    try:
        lines = str(e).strip().splitlines()
    except Exception:  # some py4j-wrapped exceptions cannot render
        lines = []
    return f"{type(e).__name__}: {lines[0][:200] if lines else ''}"


class AnalyticsWorkload:
    """Set-up with oracle check, timed passes and layer figures of
    ``analytics_batch``."""

    def __init__(self, spark, work: str, seed: int, *, queries=QUERIES, scale=SCALE):
        from healthcare_etl_pipeline_spark.queries import all_queries

        self.spark = spark
        self.data = os.path.join(work, "data")
        t0 = time.perf_counter()
        gen.write_tables(self.data, seed, scale)
        self.untimed_s = time.perf_counter() - t0  # benchmark work, not set-up
        specs = all_queries()
        self.specs = {q: specs[q] for q in queries}
        self.expected: dict[str, tuple[int, int] | None] = {}
        self.passes = 0

    def warm_up(self, out: common.Outcome) -> None:
        """The oracle check: runs outside every timed window. Only its Spark
        side counts as set-up time."""
        import duckdb

        from healthcare_etl_pipeline_spark.catalog import TABLES, table_path

        sys.path.insert(0, os.path.join(common.REPO, "tools"))
        from check_oracle import row_set

        t0 = time.perf_counter()
        con = duckdb.connect()
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(self.data, t)}')"
            )
        self.untimed_s += time.perf_counter() - t0
        for name, spec in self.specs.items():
            out.attempted += 1
            try:
                df, obs = observed(spec.fn(self.spark, self.data))
                srows = df.collect()
                stats = obs.get
            except Exception as e:  # a failed query is a failed operation
                self.expected[name] = None  # every timed pass fails it too
                out.fail(f"{name}: oracle pass: {failure(e)}")
                continue
            self.expected[name] = (stats["rows"], stats["hash"])
            t0 = time.perf_counter()
            res = con.execute(spec.oracle)
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
            scols = df.columns
            if sorted(scols) != sorted(ocols) or row_set(
                scols, [[r[c] for c in scols] for r in srows]
            ) != row_set(ocols, orows):
                out.fail(f"{name}: Spark rows differ from the DuckDB oracle")
            elif stats["rows"] != len(srows):
                out.fail(f"{name}: observed {stats['rows']} rows, collected {len(srows)}")
            self.untimed_s += time.perf_counter() - t0
        con.close()

    def _pass(self, out: common.Outcome, tracer: Tracer, timings: dict) -> float:
        t_pass = time.perf_counter()
        with tracer.span("queries.pass", f"pass-{self.passes}") as span:
            for name, spec in self.specs.items():
                if span is not None:
                    set_job_group(self.spark, f"{span.request}-{name}")
                out.attempted += 1
                t0 = t1 = time.perf_counter()
                try:
                    with tracer.span("queries.plan"):
                        df, obs = observed(spec.fn(self.spark, self.data))
                    t1 = time.perf_counter()
                    with tracer.span("queries.exec"):
                        df.write.format("noop").mode("overwrite").save()
                    stats = obs.get
                    got = (stats["rows"], stats["hash"])
                except Exception as e:  # a failed query is a failed operation
                    got = failure(e)
                t2 = time.perf_counter()
                if got != self.expected[name]:
                    out.fail(
                        f"{name}: pass {self.passes} rows/hash {got} "
                        f"!= {self.expected[name]}"
                    )
                timings.setdefault(name, []).append((t1 - t0, t2 - t1))
        self.passes += 1
        return time.perf_counter() - t_pass

    def measure(self, seconds: float, out: common.Outcome, tracer: Tracer) -> common.Window:
        """Whole passes until ``seconds`` are up. ``secondary`` holds each
        pass's geometric mean query latency: every query weighs the same in
        it, while the pass time is dominated by the slowest queries."""
        win, timings = common.Window(), {}
        t0 = time.perf_counter()
        while time.perf_counter() - t0 < seconds:
            win.primary.append(self._pass(out, tracer, timings))
        win.elapsed = time.perf_counter() - t0
        win.secondary = [
            math.exp(statistics.fmean(math.log(sum(ts[i])) for ts in timings.values()))
            for i in range(len(win.primary))
        ]
        win.units = len(win.primary) * len(self.specs)
        if tracer.enabled:
            self._timings = timings
        return win

    def final_check(self, out: common.Outcome) -> None:
        """Every query was checked against its oracle during set-up."""

    def close(self) -> None:
        pass

    # -- tracing --------------------------------------------------------------

    def instrument(self, tracer: Tracer) -> None:
        """Plan and execution spans are recorded by ``_pass`` itself."""

    def layer_metrics(self, tracer: Tracer, phase: common.Window, groups: dict) -> dict:
        m = {}
        modules: dict[str, float] = {}
        py_s = jvm_s = plan_total = exec_total = 0.0
        for name, ts in self._timings.items():
            plan_s = common.median([p for p, _ in ts])
            exec_s = common.median([e for _, e in ts])
            m[f"queries.{name}.plan_s"] = plan_s
            m[f"queries.{name}.exec_s"] = exec_s
            module = self.specs[name].fn.__module__.rsplit(".", 1)[-1]
            modules[module] = modules.get(module, 0.0) + exec_s
            plan_text = (
                self.specs[name].fn(self.spark, self.data)
                ._jdf.queryExecution().executedPlan().toString()
            )
            if any(node in plan_text for node in PYTHON_NODES):
                py_s += exec_s
            else:
                jvm_s += exec_s
            plan_total += plan_s
            exec_total += exec_s
        for module, s in modules.items():
            m[f"queries.{module}.exec_s"] = s
        m["queries.plan_share"] = plan_total / max(1e-9, plan_total + exec_total)
        m["queries.python_stage_exec_s"] = py_s
        m["queries.jvm_only_exec_s"] = jvm_s
        return m
