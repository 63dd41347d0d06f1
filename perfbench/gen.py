"""Seeded input generators for the three workloads.

Every generator is a pure function of its seed: the same seed yields the
same patient batches, read mix and analytics tables. Each generated
operation carries its expected outcome, which the program under test never
sees (it receives only the request bodies / table files).
"""

from __future__ import annotations

import datetime as dt
import os
import random
import uuid
from dataclasses import dataclass, field

GENDERS = ("male", "female", "other", "unknown")
RECORD_COUNT_KEYS = (
    "extract_count",
    "valid_count",
    "invalid_count",
    "consented_count",
    "blocked_count",
    "transform_count",
    "load_count",
)

# Share of each fault in every ingest batch (per record, seeded draw).
# These shares are an assumption, not a measurement: no traffic of the
# reference system is published, and the repository's own mixed fixture
# (tests/test_pipeline.py::test_mixed_batch, 1 valid : 1 blocked : 1 invalid
# in 3 records) is a coverage case, not a traffic sample. Most records are
# valid and consented, so the load stage sees the bulk of a batch as in a
# healthy feed; every fault kind still has about one record in a small
# batch, so each routed branch runs in nearly every batch.
FAULT_MIX = (
    ("ok", 0.70),
    ("bad_gender", 0.03),
    ("bad_birthdate", 0.03),
    ("missing_name", 0.02),
    ("bad_ssn", 0.02),
    ("sharing_false", 0.06),
    ("sharing_missing", 0.04),
    ("no_consent", 0.04),
    ("resent_mrn", 0.06),
)
INVALID_KINDS = ("bad_gender", "bad_birthdate", "missing_name", "bad_ssn")
BLOCKED_KINDS = ("sharing_false", "sharing_missing", "no_consent")
SMALL_BATCH = (40, 60)  # inclusive size range of a "small" batch
FULL_BATCH = 1000  # the API's cap per batch
CLIENTS = 2  # concurrent client threads of the ingest and read workloads
OVERLAP_MRNS = 5  # MRNs a racing round's small batch shares with its full one
# In a racing round the small batch is sent this long after the full one, so
# the full batch commits first and the small batch deterministically loses
# the OCC race.
SMALL_BATCH_DELAY_S = 1.5


# --------------------------------------------------------------------------
# ingest_api
# --------------------------------------------------------------------------


@dataclass
class Batch:
    """One POST /ingest body plus its predicted response."""

    client: int
    records: list[dict]
    delay_s: float  # wait after the round starts before sending
    expected: dict[str, int]  # record_counts when this batch wins any race
    overlap: int = 0  # MRNs it shares with the concurrent batch of its round
    # consent rows each newly loaded MRN adds (overlap MRNs included)
    consent_rows: dict[str, int] = field(default_factory=dict)


@dataclass
class IngestTotals:
    batches: int = 0
    patients: int = 0
    consent_records: int = 0


class IngestPlan:
    """Rounds of two concurrent batches: one full (1000) and one small.

    Which client sends the full batch is seeded per round. In a racing
    round the two batches share ``OVERLAP_MRNS`` valid, consented MRNs and
    the small batch is sent ``SMALL_BATCH_DELAY_S`` later: it commits
    second, loses the OCC race, re-runs and loads those MRNs as conflicts.
    ``resent_mrn`` records repeat an MRN loaded by an earlier round and are
    routed to conflicts in every round.
    """

    def __init__(self, seed: int, *, full_size: int = FULL_BATCH,
                 small_size: tuple[int, int] = SMALL_BATCH):
        self.rng = random.Random(seed)
        self.seed = seed
        self.full_size = full_size
        self.small_size = small_size
        self.loaded: list[str] = []  # MRNs committed so far, in load order
        self._loaded_set: set[str] = set()
        self._next_mrn = 0
        self.totals = IngestTotals()

    def _mrn(self) -> str:
        self._next_mrn += 1
        return f"MRN-{self.seed:05d}-{self._next_mrn:08d}"

    def _record(self, mrn: str, kind: str) -> dict:
        rng = self.rng
        rec = {
            "resourceType": "Patient",
            "mrn": mrn,
            "name": f"Patient {rng.randrange(10**6)}",
            "birthDate": f"{rng.randint(1930, 2020)}-{rng.randint(1, 12):02d}-"
            f"{rng.randint(1, 28):02d}",
            "gender": rng.choice(GENDERS),
            "ssn": f"{rng.randint(100, 999)}-{rng.randint(10, 99)}-"
            f"{rng.randint(1000, 9999)}",
            "consent": {"data_sharing": True},
        }
        if rng.random() < 0.5:
            rec["consent"]["research"] = rng.random() < 0.5
        if kind == "bad_gender":
            rec["gender"] = "robot"
        elif kind == "bad_birthdate":
            rec["birthDate"] = "12/04/1980"
        elif kind == "missing_name":
            del rec["name"]
        elif kind == "bad_ssn":
            rec["ssn"] = "123456789"
        elif kind == "sharing_false":
            rec["consent"]["data_sharing"] = False
        elif kind == "sharing_missing":
            rec["consent"] = {"research": True}
        elif kind == "no_consent":
            del rec["consent"]
        return rec

    def _batch(self, client: int, size: int, shared: list[dict],
               delay_s: float = 0.0) -> Batch:
        kinds, weights = zip(*FAULT_MIX)
        records = list(shared)
        consent_rows = {rec["mrn"]: len(rec["consent"]) for rec in shared}
        invalid = blocked = resent = 0
        while len(records) < size:
            kind = self.rng.choices(kinds, weights)[0]
            if kind == "resent_mrn":
                if not self.loaded:
                    continue
                rec = self._record(self.rng.choice(self.loaded), "ok")
                resent += 1
            else:
                rec = self._record(self._mrn(), kind)
                if kind == "ok":
                    consent_rows[rec["mrn"]] = len(rec["consent"])
            records.append(rec)
            invalid += kind in INVALID_KINDS
            blocked += kind in BLOCKED_KINDS
        self.rng.shuffle(records)
        n = len(records)
        consented = n - invalid - blocked
        counts = {
            "extract_count": n,
            "valid_count": n - invalid,
            "invalid_count": invalid,
            "consented_count": consented,
            "blocked_count": blocked,
            "transform_count": consented,
            "load_count": consented - resent,
        }
        return Batch(client, records, delay_s, counts, len(shared), consent_rows)

    def next_round(self, *, race: bool) -> list[Batch]:
        """The next round: one batch per client, generated in order."""
        full_client = self.rng.randrange(CLIENTS)
        shared = (
            [self._record(self._mrn(), "ok") for _ in range(OVERLAP_MRNS)]
            if race
            else []
        )
        delay = SMALL_BATCH_DELAY_S if race else 0.0
        batches = []
        for c in range(CLIENTS):
            if c == full_client:
                batches.append(self._batch(c, self.full_size, shared))
            else:
                size = self.rng.randint(*self.small_size)
                batches.append(self._batch(c, size, shared, delay))
        return self._settle(batches)

    def _settle(self, batches: list[Batch]) -> list[Batch]:
        for b in batches:
            for m, rows in b.consent_rows.items():
                if m not in self._loaded_set:
                    self._loaded_set.add(m)
                    self.loaded.append(m)
                    self.totals.patients += 1
                    self.totals.consent_records += rows
            self.totals.batches += 1
        return batches


def check_round(batches: list[Batch], responses: list[tuple[int, dict]]) -> list[str]:
    """Compare one round's responses with the plan; returns problems."""
    problems = []
    losers = 0
    for b, (status, body) in zip(batches, responses):
        if status != 200 or body.get("status") != "success":
            problems.append(f"client {b.client}: HTTP {status} {str(body)[:200]}")
            continue
        got = {k: body["record_counts"].get(k) for k in RECORD_COUNT_KEYS}
        if got == b.expected:
            continue
        lost = dict(b.expected, load_count=b.expected["load_count"] - b.overlap)
        if b.overlap and got == lost:
            losers += 1
            continue
        problems.append(f"client {b.client}: record_counts {got} != {b.expected}")
    if batches and batches[0].overlap and not problems and losers != 1:
        problems.append(f"overlap round: {losers} OCC losers, expected exactly 1")
    return problems


# --------------------------------------------------------------------------
# serve_reads
# --------------------------------------------------------------------------


@dataclass
class Patient:
    id: str
    mrn: str
    gender: str
    consent: str  # granted | denied | none


@dataclass
class ReadRequest:
    kind: str  # lookup | list
    path: str
    expect_status: int
    expect_mrns: list[str]  # lookup: [mrn] on 200; list: the page's MRNs


class ReadPlan:
    """A preloaded warehouse and the per-client read mix over it.

    ``runs`` committed runs of ``per_run`` patients each; 60% have granted
    data_sharing consent, 20% a denied consent row and 20% no consent row.
    Each client repeats ``CYCLE``: four lookups of consented patients
    (200), one of an unconsented patient (403), one of an unknown id (404)
    and two cursor walks of ``WALK_PAGES`` keyset pages of ``page_size``
    rows, in the same proportions on every seed. The seed picks the
    patients and the walk start points.

    The cycle and the consent shares are assumptions, not measurements: no
    read traffic of the reference system is published. The cycle makes
    lookups and list pages half the requests each, so both latency medians
    get the same number of samples; 403 and 404 replies are one lookup in
    six each, enough to run their fast paths in every window without
    letting them dominate the lookup median.
    """

    CYCLE = ("200", "walk", "200", "403", "walk", "200", "404", "200")
    WALK_PAGES = 3

    def __init__(self, seed: int, *, runs: int = 3, per_run: int = 600,
                 page_size: int = 50):
        self.rng = random.Random(seed)
        self.page_size = page_size
        self.runs: list[list[Patient]] = []
        order = list(range(runs * per_run))
        self.rng.shuffle(order)  # MRN order independent of run order
        for r in range(runs):
            run = []
            for i in range(per_run):
                u = self.rng.random()
                consent = "granted" if u < 0.6 else ("denied" if u < 0.8 else "none")
                run.append(
                    Patient(
                        id=str(uuid.UUID(int=self.rng.getrandbits(128), version=4)),
                        mrn=f"SR-{order[r * per_run + i]:07d}",
                        gender=self.rng.choice(GENDERS),
                        consent=consent,
                    )
                )
            self.runs.append(run)
        everyone = [p for run in self.runs for p in run]
        self.consented = sorted(
            (p for p in everyone if p.consent == "granted"),
            key=lambda p: (p.mrn, p.id),
        )
        self.unconsented = [p for p in everyone if p.consent != "granted"]
        self.client_seeds = [self.rng.getrandbits(64) for _ in range(CLIENTS)]

    def client_cycles(self, client: int):
        """Endless, seeded sequence of whole cycles (lists of requests) for
        one client; every cycle holds each kind of ``CYCLE`` once."""
        from urllib.parse import quote

        rng = random.Random(self.client_seeds[client])
        # clients enter the cycle half a cycle apart on every seed, so which
        # request kinds overlap does not depend on the seed
        start = client * len(self.CYCLE) // 2
        order = self.CYCLE[start:] + self.CYCLE[:start]
        while True:
            cycle = []
            for kind in order:
                if kind == "200":
                    p = rng.choice(self.consented)
                    cycle.append(ReadRequest("lookup", f"/patients/{p.id}", 200, [p.mrn]))
                elif kind == "403":
                    p = rng.choice(self.unconsented)
                    cycle.append(ReadRequest("lookup", f"/patients/{p.id}", 403, []))
                elif kind == "404":
                    pid = str(uuid.UUID(int=rng.getrandbits(128), version=4))
                    cycle.append(ReadRequest("lookup", f"/patients/{pid}", 404, []))
                else:
                    pos = rng.randrange(len(self.consented))
                    for _ in range(self.WALK_PAGES):
                        after = self.consented[pos]
                        page = self.consented[pos + 1 : pos + 1 + self.page_size]
                        path = (
                            f"/patients?limit={self.page_size}"
                            f"&after_mrn={quote(after.mrn)}&after_id={quote(after.id)}"
                        )
                        cycle.append(ReadRequest("list", path, 200, [p.mrn for p in page]))
                        if len(page) < self.page_size:
                            break
                        pos += self.page_size
            yield cycle


# --------------------------------------------------------------------------
# analytics_batch
# --------------------------------------------------------------------------

_WORDS = (
    "a the data table row column key value part hash join merge sort scan "
    "query filter group agg order line customer batch stream window spark "
    "fast slow big small index page file log commit read write cache plan"
).split()
_COLORS = ("small", "blue", "cold", "old", "new", "hot", "red", "large")
_NOUNS = ("widget", "rod", "ring", "anvil", "plate", "bolt", "gear", "gizmo")


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the ten catalog tables at scale ``sf`` (TPC-H row ratios;
    documents and embeddings floor at 500 rows) as one parquet file each,
    with the column types of ``healthcare_etl_pipeline_spark.catalog``.
    Returns the row count per table."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_orders = max(1_500, int(1_500_000 * sf))
    n_line = max(6_000, int(6_000_000 * sf))
    n_events = max(1_000, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_vecs = max(500, int(50_000 * sf))

    def days(start: dt.date, end: dt.date, n: int) -> np.ndarray:
        span = (end - start).days
        base = np.datetime64(start, "us")
        return base + rng.integers(0, span + 1, n).astype("timedelta64[D]")

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")
    tables = {
        "region": pa.table(
            {
                "r_regionkey": pa.array(range(5), i32),
                "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), i32),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(n_cust), i64),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
                "c_acctbal": pa.array(money(-999.99, 9999.99, n_cust), f64),
                "c_mktsegment": rng.choice(
                    ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
                    n_cust,
                ),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_supp), i64),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
                "s_acctbal": pa.array(money(-999.99, 9999.99, n_supp), f64),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(np.arange(n_part), i64),
                "p_name": [
                    f"{_COLORS[a]} {_NOUNS[b]}"
                    for a, b in zip(
                        rng.integers(0, 8, n_part), rng.integers(0, 8, n_part)
                    )
                ],
                "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
                "p_type": rng.choice(
                    ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"],
                    n_part,
                ),
                "p_size": pa.array(rng.integers(1, 51, n_part), i32),
                "p_retailprice": pa.array(
                    np.round(900 + (np.arange(n_part) % 1000) / 10, 2), f64
                ),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(np.arange(n_orders), i64),
                "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), i64),
                "o_orderstatus": rng.choice(["F", "O", "P"], n_orders),
                "o_totalprice": pa.array(money(1000, 500_000, n_orders), f64),
                "o_orderdate": pa.array(
                    days(dt.date(1995, 1, 1), dt.date(2001, 8, 1), n_orders), ts
                ),
                "o_orderpriority": rng.choice(
                    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
                    n_orders,
                ),
            }
        ),
    }
    qty = rng.integers(1, 51, n_line).astype(float)
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_orders, n_line), i64),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
            "l_quantity": pa.array(qty, f64),
            "l_extendedprice": pa.array(
                np.round(qty * rng.uniform(900, 2100, n_line), 2), f64
            ),
            "l_discount": pa.array(rng.integers(0, 11, n_line) / 100, f64),
            "l_tax": pa.array(rng.integers(0, 9, n_line) / 100, f64),
            "l_returnflag": rng.choice(["A", "N", "R"], n_line),
            "l_linestatus": rng.choice(["F", "O"], n_line),
            "l_shipdate": pa.array(
                days(dt.date(1995, 1, 2), dt.date(2001, 11, 4), n_line), ts
            ),
        }
    )
    month_us = 30 * 86_400 * 1_000_000
    ev_ts = np.sort(rng.integers(0, month_us, n_events))
    tables["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_events), i64),
            "ts": pa.array(np.datetime64("2024-01-01", "us") + ev_ts, ts),
            "user_id": pa.array(rng.integers(0, n_users, n_events), i64),
            "event_type": rng.choice(
                ["click", "error", "purchase", "signup", "view"], n_events
            ),
            "value": pa.array(
                np.round(np.maximum(rng.exponential(50, n_events), 0.01), 2), f64
            ),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
        }
    )
    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.15:
            # near-duplicate of an earlier document: a few words replaced
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), 2):
                words[j] = _WORDS[int(rng.integers(0, len(_WORDS)))]
        else:
            words = [
                _WORDS[w] for w in rng.integers(0, len(_WORDS), rng.integers(10, 90))
            ]
        texts.append(" ".join(words) + f" d{i}")
    tables["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), i64),
            "text": texts,
            "lang": rng.choice(["en", "de", "es", "fr", "zh"], n_docs),
            "source": [f"src{k}" for k in rng.integers(0, 20, n_docs)],
            "n_chars": pa.array([len(t) for t in texts], i64),
        }
    )
    vecs = rng.normal(0, 0.13, (n_vecs, 64)).astype(np.float32)
    tables["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs), i64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_vecs), i32),
        }
    )
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
