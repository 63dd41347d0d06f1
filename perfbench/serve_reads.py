"""serve_reads: two closed-loop clients read from a preloaded warehouse.

Set-up commits ``ReadPlan.runs`` transactions of patients and consent rows
through ``TransactionalWarehouse.begin/stage/commit`` (no ingest DAG, no
encryption), then serves ``EngineAPI`` over HTTP. Each client sends its next
request when the previous reply is in: single-patient lookups (200/403/404)
and keyset cursor walks over ``GET /patients``. Every 200 lookup appends one
audit commit, so the commit log grows while the clients read.
"""

from __future__ import annotations

import datetime as dt
import os
import threading
import time

from perfbench import common, gen
from perfbench.ingest_api import warehouse_layers, wrap_warehouse
from perfbench.trace import Tracer, set_job_group

# Read latency keeps falling for about a minute of traffic after the
# preload: JIT compilation of the read path. Request rate of two clients in
# successive blocks of two cycles each, five seeds: 3.1-3.7, 4.5-5.7,
# 5.5-6.1, 5.9-6.9, 6.1-7.5 requests/s. A window of the second block sat on
# the steepest part of that curve and its list median and request rate
# spread by 0.25 of their median over ten runs; from the third block on, the
# same five seeds vary by 0.04-0.05 (coefficient of variation) instead of
# 0.10. Warm-up is a fixed number of cycles rather than a fixed duration, so
# it does the same work on a slow or a fast machine; the window then starts
# at the same point of that curve. Warm-up runs outside both set-up time and
# the timed window.
WARMUP_CYCLES = 4  # per client
# The window holds whole cycles, so every run times the same request mix:
# lookups are bimodal (403/404 replies take a fifth of a 200 reply), and a
# window cut at an arbitrary request shifts the lookup median and the
# request rate. Clients run cycles until the window's seconds are up, and
# at least MIN_CYCLES each.
MIN_CYCLES = 2


class ReadsWorkload:
    """Set-up, timed reads, checks and layer figures of ``serve_reads``."""

    def __init__(self, spark, work: str, seed: int, *, plan: gen.ReadPlan | None = None):
        from healthcare_etl_pipeline_spark.api import EngineAPI, serve_background
        from healthcare_etl_pipeline_spark.sources.warehouse import (
            TransactionalWarehouse,
        )

        self.spark = spark
        self.plan = plan or gen.ReadPlan(seed)
        self.root = os.path.join(work, "warehouse")
        self.wh = TransactionalWarehouse(spark, self.root)
        self.wh.create_all()
        self._preload()
        self.api = EngineAPI(spark, self.wh, "")
        self.server, port = serve_background(self.api)
        self.base = f"http://127.0.0.1:{port}/api/v1"
        self.streams = [self.plan.client_cycles(c) for c in range(gen.CLIENTS)]
        self.warmup_cycles = WARMUP_CYCLES
        self.untimed_s = 0.0  # warm-up traffic, left out of set-up time
        self.audited = 0  # 200 lookups served, each owes one audit row
        self.rows_returned = 0
        self._lock = threading.Lock()

    def _preload(self) -> None:
        from healthcare_etl_pipeline_spark.sources.warehouse import (
            CONSENT_RECORDS_SCHEMA,
            PATIENTS_SCHEMA,
        )

        now = dt.datetime(2024, 1, 1)
        for i, run in enumerate(self.plan.runs):
            patients = [
                (p.id, f"enc-name-{p.mrn}", f"enc-dob-{p.mrn}", None, p.mrn,
                 p.gender, now, None)
                for p in run
            ]
            consents = [
                (f"c-{p.id}", p.id, "data_sharing", p.consent == "granted",
                 now if p.consent == "granted" else None, None, None)
                for p in run
                if p.consent != "none"
            ]
            txn = self.wh.begin(f"preload-{i}")
            txn.stage(self.spark.createDataFrame(patients, PATIENTS_SCHEMA), "patients")
            txn.stage(
                self.spark.createDataFrame(consents, CONSENT_RECORDS_SCHEMA),
                "consent_records",
            )
            if not txn.commit():
                raise RuntimeError(f"preload commit {i} was not published")

    # -- driving ------------------------------------------------------------

    def _request(self, req: gen.ReadRequest, out: common.Outcome):
        status, body, secs = common.http(self.base, "GET", req.path)
        problem = None
        if status != req.expect_status:
            problem = f"{req.path}: HTTP {status}, expected {req.expect_status}"
        elif req.kind == "lookup" and status == 200:
            if body.get("mrn") != req.expect_mrns[0]:
                problem = f"{req.path}: mrn {body.get('mrn')} != {req.expect_mrns[0]}"
        elif req.kind == "list":
            keys = [(p["mrn"], p["id"]) for p in body]
            if keys != sorted(set(keys)) or [k[0] for k in keys] != req.expect_mrns:
                problem = f"{req.path}: page {[k[0] for k in keys][:3]}... wrong"
        with self._lock:
            out.attempted += 1
            if problem:
                out.fail(problem)
            if req.kind == "lookup" and status == 200:
                self.audited += 1
            self.rows_returned += len(body) if req.kind == "list" else int(status == 200)
        return req.kind, secs

    def _clients(self, out: common.Outcome, *, cycles: int,
                 seconds: float = 0.0) -> common.Window:
        """Closed loops of ``gen.CLIENTS`` threads, each running whole cycles
        until ``seconds`` are up, and at least ``cycles`` of them."""
        win = common.Window()
        done = [0] * gen.CLIENTS  # requests per client
        busy = [0.0] * gen.CLIENTS  # seconds per client
        t0 = time.perf_counter()

        def loop(c: int) -> None:
            n = 0
            while n < cycles or time.perf_counter() - t0 < seconds:
                for req in next(self.streams[c]):
                    kind, secs = self._request(req, out)
                    (win.primary if kind == "lookup" else win.secondary).append(secs)
                    done[c] += 1
                n += 1
            busy[c] = time.perf_counter() - t0

        threads = [threading.Thread(target=loop, args=(c,)) for c in range(gen.CLIENTS)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        win.units = len(win.primary) + len(win.secondary)
        # the rate a client sees, summed over clients: a client that ends
        # its last cycle first does not count the other's tail as idle time
        win.elapsed = win.units / sum(n / b for n, b in zip(done, busy))
        return win

    def warm_up(self, out: common.Outcome) -> None:
        t0 = time.perf_counter()
        self._clients(out, cycles=self.warmup_cycles)
        self.untimed_s += time.perf_counter() - t0

    def measure(self, seconds: float, out: common.Outcome, tracer: Tracer) -> common.Window:
        win = self._clients(out, cycles=MIN_CYCLES, seconds=seconds)
        if tracer.enabled:
            self._rows_traced = self.rows_returned - self._rows_before
        return win

    # -- checking -----------------------------------------------------------

    def final_check(self, out: common.Outcome) -> None:
        """audit_log holds exactly one row per 200 lookup; the preloaded
        tables are intact."""
        out.attempted += 2
        got = self.wh.read("audit_log").count()
        if got != self.audited:
            out.fail(f"audit_log: {got} rows after {self.audited} audited lookups")
        n = sum(len(r) for r in self.plan.runs)
        got = self.wh.read("patients").count()
        if got != n:
            out.fail(f"patients: {got} rows, preloaded {n}")

    def close(self) -> None:
        self.server.shutdown()
        self.server.server_close()

    # -- tracing --------------------------------------------------------------

    def instrument(self, tracer: Tracer) -> None:
        from healthcare_etl_pipeline_spark import api
        from healthcare_etl_pipeline_spark.operators import reads
        from healthcare_etl_pipeline_spark.sources import warehouse as wh

        counter = iter(range(1, 1 << 30))
        spark = self.spark
        for attr, name in (("get_patient", "api.lookup_handler"),
                           ("list_patients", "api.list_handler")):
            tracer.wrap(
                api.EngineAPI, attr, name,
                request_of=lambda a, k, name=name: f"{name}-{next(counter)}",
                on_enter=lambda span, a, k: set_job_group(spark, span.request),
            )
        tracer.wrap(reads, "point_lookup", "reads.point_lookup", keep_result=True)
        tracer.wrap(reads, "audited_read", "reads.audited_read")
        tracer.wrap(reads, "consented_listing", "reads.consented_listing")
        wrap_warehouse(tracer, wh)
        self._rows_before = self.rows_returned

    def layer_metrics(self, tracer: Tracer, phase: common.Window, groups: dict) -> dict:
        lookups = tracer.of("api.lookup_handler")
        lists = tracer.of("api.list_handler")
        reqs = {s.request for s in lookups + lists}
        n = max(1, len(reqs))
        per = lambda name: tracer.total(name, reqs) / n  # noqa: E731
        files = [
            len(s.result.inputFiles())
            for s in tracer.of("reads.point_lookup")
            if s.request in reqs and s.result is not None
        ]
        stats = [groups[r] for r in reqs if r in groups]
        handler_s = [s.end - s.start for s in lookups + lists]
        m = warehouse_layers(tracer, reqs, self.wh)
        m.update({
            "api.lookup_handler_s": common.median([s.end - s.start for s in lookups]),
            "api.list_handler_s": common.median([s.end - s.start for s in lists]),
            "api.http_overhead_s": common.median(phase.primary + phase.secondary)
            - common.median(handler_s),
            "reads.audited_read_s": per("reads.audited_read"),
            "reads.consented_listing_s": per("reads.consented_listing"),
            "reads.files_scanned_per_lookup": sum(files) / max(1, len(files)),
            "reads.rows_examined_per_row_returned": sum(g.records_read for g in stats)
            / max(1, self._rows_traced),
            "spark.jobs_per_request": sum(g.jobs for g in stats) / n,
            "spark.tasks_per_request": sum(g.tasks for g in stats) / n,
        })
        return m
