"""ingest_api: two closed-loop clients POST patient batches to /ingest.

Each round, one client posts a full batch (1000 records) and the other a
small batch (40-60 records); the next round starts when both replies are in.
Full- and small-batch latencies are kept apart, so the fixed cost per batch
and the cost per record can be read separately. Set-up boots the session,
bootstraps a fresh ``TransactionalWarehouse`` and posts one warm-up round.
It is a racing round (``gen.IngestPlan``): its two batches share MRNs, one
of them loses the OCC race and re-runs, so every run checks the retry path.
Timed rounds do not race: a retried batch takes twice as long, and with one
round per window the medians would depend on whether a race fell inside it.
A traced window opens with a racing round, so the per-layer OCC figures
show a retry; its tracing overhead is read on full batches, which win every
race once the session is warm.
"""

from __future__ import annotations

import base64
import json
import os
import random
import time
from concurrent.futures import ThreadPoolExecutor

from perfbench import common, gen
from perfbench.trace import Tracer, dir_files, set_job_group

# A round takes longer than the benchmark's window. Two rounds instead of one
# halved the run-to-run spread of both batch medians over five seeds (0.07
# against 0.12), at about 10 s more per run.
MIN_ROUNDS = 2


class IngestWorkload:
    """Set-up, timed rounds, checks and layer figures of ``ingest_api``."""

    untimed_s = 0.0  # every set-up step runs the program

    def __init__(self, spark, work: str, seed: int, *, plan: gen.IngestPlan | None = None):
        from healthcare_etl_pipeline_spark.api import EngineAPI, serve_background
        from healthcare_etl_pipeline_spark.sources.warehouse import (
            TransactionalWarehouse,
        )

        self.spark = spark
        self.plan = plan or gen.IngestPlan(seed)
        self.root = os.path.join(work, "warehouse")
        self.wh = TransactionalWarehouse(spark, self.root)
        self.wh.create_all()
        self.api = EngineAPI(spark, self.wh, "")
        self.server, port = serve_background(self.api)
        self.base = f"http://127.0.0.1:{port}/api/v1"
        self.pool = ThreadPoolExecutor(gen.CLIENTS)
        self.names: dict[str, str] = {}  # mrn -> name of the loaded record
        self.input_bytes = 0

    # -- driving ------------------------------------------------------------

    def _post(self, batch: gen.Batch):
        time.sleep(batch.delay_s)
        return common.http(self.base, "POST", "/ingest", {"records": batch.records})

    def _post_round(self, batches: list[gen.Batch], out: common.Outcome):
        futures = [self.pool.submit(self._post, b) for b in batches]
        replies = [f.result() for f in futures]
        out.attempted += len(batches)
        for problem in gen.check_round(batches, [(s, p) for s, p, _ in replies]):
            out.fail(problem)
        for b in batches:
            for r in b.records:
                if r["mrn"] in b.consent_rows:
                    self.names.setdefault(r["mrn"], r["name"])
            self.input_bytes += len(json.dumps({"records": b.records}))
        return [secs for _, _, secs in replies]

    def warm_up(self, out: common.Outcome) -> None:
        # One racing round: the session's first batches pay for JIT, codegen
        # and file-listing caches, and the race checks the OCC retry path.
        # Its retried batch is one more warm-up run of the DAG: after a
        # plain round instead, the timed round's latency spread twice as
        # wide over five seeds (9.1-12.2 s against 9.3-10.4 s).
        self._post_round(self.plan.next_round(race=True), out)

    def measure(self, seconds: float, out: common.Outcome, tracer: Tracer) -> common.Window:
        """Rounds until ``seconds`` are up, and at least MIN_ROUNDS."""
        win = common.Window()
        t0 = time.perf_counter()
        race = tracer.enabled  # a traced window opens with a racing round
        while time.perf_counter() - t0 < seconds or len(win.primary) < MIN_ROUNDS:
            batches = self.plan.next_round(race=race)
            race = False
            for b, secs in zip(batches, self._post_round(batches, out)):
                full = len(b.records) == self.plan.full_size
                (win.primary if full else win.secondary).append(secs)
                win.units += len(b.records)
        win.elapsed = time.perf_counter() - t0
        if tracer.enabled:
            self._files_after = dir_files(self.root)
            self._bytes_after = self.input_bytes
        return win

    # -- checking -----------------------------------------------------------

    def final_check(self, out: common.Outcome) -> None:
        """Committed row counts match the plan's totals; stored names decrypt
        to the posted ones."""
        from pyspark.sql import functions as F

        t = self.plan.totals
        expect = {
            "patients": t.patients,
            "clinical_records": t.patients,
            "consent_records": t.consent_records,
            "audit_log": t.patients,
            "pipeline_runs": t.batches,
        }
        for table, n in expect.items():
            out.attempted += 1
            got = self.wh.read(table).count()
            if got != n:
                out.fail(f"{table}: {got} committed rows, expected {n}")
        out.attempted += 1
        patients = self.wh.read("patients")
        dup = patients.groupBy("mrn").count().filter("count > 1").count()
        if dup:
            out.fail(f"patients: {dup} MRNs stored more than once")
        sample = random.Random(0).sample(sorted(self.names), min(20, len(self.names)))
        rows = patients.filter(F.col("mrn").isin(sample)).select(
            "mrn", "encrypted_name"
        ).collect()
        from cryptography.fernet import Fernet

        fernet = Fernet(os.environ["PHI_ENCRYPTION_KEY"].encode())
        out.attempted += 1
        bad = [
            r.mrn
            for r in rows
            if fernet.decrypt(r.encrypted_name.encode()).decode() != self.names[r.mrn]
        ]
        if len(rows) != len(sample) or bad:
            out.fail(f"patients: {len(rows)}/{len(sample)} sampled, bad names {bad[:3]}")

    def close(self) -> None:
        self.server.shutdown()
        self.server.server_close()
        self.pool.shutdown(wait=True)

    # -- tracing --------------------------------------------------------------

    def instrument(self, tracer: Tracer) -> None:
        from healthcare_etl_pipeline_spark import api
        from healthcare_etl_pipeline_spark.plans import dag, pipeline
        from healthcare_etl_pipeline_spark.sources import warehouse as wh

        counter = iter(range(1, 1 << 30))
        spark = self.spark
        tracer.wrap(
            api.EngineAPI, "ingest", "api.ingest_handler",
            request_of=lambda a, k: f"ingest-{next(counter)}",
            on_enter=lambda span, a, k: set_job_group(spark, span.request),
        )
        tracer.wrap(pipeline, "ingest_batch_atomic", "pipeline.ingest_batch_atomic",
                    keep_result=True)
        tracer.wrap(pipeline, "records_to_df", "pipeline.records_to_df")
        tracer.wrap(pipeline, "write_run_record", "pipeline.write_run_record")
        tracer.wrap(pipeline, "validate_split", "validation.validate_split")
        tracer.wrap(pipeline, "consent_gate", "consent.consent_gate")
        tracer.wrap(pipeline, "transform_patients", "transform.transform_patients")
        tracer.wrap(pipeline, "load_patients", "ingest.load_patients")
        tracer.wrap(dag.DAG, "run", "dag.run")
        wrap_warehouse(tracer, wh)
        self._files_before = dir_files(self.root)
        self._bytes_before = self.input_bytes

    def layer_metrics(self, tracer: Tracer, phase: common.Window, groups: dict) -> dict:
        """Per-batch layer figures over the traced phase."""
        handler = tracer.of("api.ingest_handler")
        n = max(1, len(handler))
        reqs = {s.request for s in handler}
        per = lambda name: tracer.total(name, reqs) / n  # noqa: E731
        begins = [s for s in tracer.of("warehouse.begin") if s.request in reqs]
        commits = [s for s in tracer.of("warehouse.commit") if s.request in reqs]
        new_files = {
            p: b for p, b in self._files_after.items() if p not in self._files_before
        }
        stats = [groups[r] for r in reqs if r in groups]
        m = warehouse_layers(tracer, reqs, self.wh)
        m.update({
            "pipeline.records_to_df_s": per("pipeline.records_to_df"),
            "pipeline.write_run_record_s": per("pipeline.write_run_record"),
            "pipeline.occ_attempts_per_batch": len(begins) / n,
            "pipeline.commit_success_ratio": (
                sum(1 for s in commits if s.result is True) / max(1, len(begins))
            ),
            "warehouse.files_written_per_batch": len(new_files) / n,
            "warehouse.bytes_written_per_input_byte": sum(new_files.values())
            / max(1, self._bytes_after - self._bytes_before),
            "api.ingest_handler_s": per("api.ingest_handler"),
            "api.http_overhead_s": common.median(phase.primary + phase.secondary)
            - common.median([s.end - s.start for s in handler]),
            "spark.jobs_per_batch": sum(g.jobs for g in stats) / n,
            "spark.stages_per_batch": sum(g.stages for g in stats) / n,
            "spark.tasks_per_batch": sum(g.tasks for g in stats) / n,
        })
        for task in ("extract", "validate", "check_consent", "transform", "load"):
            runs = [
                s.result["tasks"][task]["duration_ms"] / 1e3
                for s in tracer.of("pipeline.ingest_batch_atomic")
                if s.request in reqs and isinstance(s.result, dict)
            ]
            m[f"dag.{task}_s"] = sum(runs) / n
        return m


def warehouse_layers(tracer: Tracer, reqs: set[str], wh) -> dict:
    """Warehouse time per request over the traced requests ``reqs``, and the
    commit log's length at the end of the window."""
    n = max(1, len(reqs))
    m = {
        f"warehouse.{op}_s": tracer.total(f"warehouse.{op}", reqs) / n
        for op in ("begin", "stage", "commit", "read", "committed_runs_for", "append")
    }
    commits = os.path.join(wh.txn_root(), "commits")
    m["warehouse.commit_log_len_end"] = float(len(os.listdir(commits)))
    return m


def wrap_warehouse(tracer: Tracer, wh) -> None:
    """Spans around the warehouse's public read and commit protocol."""
    tw, txn = wh.TransactionalWarehouse, wh.Transaction
    tracer.wrap(tw, "begin", "warehouse.begin")
    tracer.wrap(tw, "read", "warehouse.read")
    tracer.wrap(tw, "committed_runs_for", "warehouse.committed_runs_for")
    tracer.wrap(tw, "append", "warehouse.append")
    tracer.wrap(txn, "stage", "warehouse.stage")
    tracer.wrap(txn, "commit", "warehouse.commit", keep_result=True)
    tracer.wrap(txn, "abort", "warehouse.abort")


def encryption_key(seed: int) -> str:
    """A Fernet key derived from the seed, so ciphertext is checkable."""
    return base64.urlsafe_b64encode(random.Random(seed).randbytes(32)).decode()
