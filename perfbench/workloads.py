"""The benchmark's workloads: what one op is, how a run warms up, and how
each op's output is checked.

Both workloads are closed loops with one client: the next op starts
when the previous one returns. Ops run in rounds whose composition is
fixed (two campuses, one per layout; or one pass over the query mix),
and the seed permutes only the order inside each round, so a run's
numbers do not depend on which layouts or queries fell into its window.
The warm-up is fixed too: one tall campus, or one pass over the mix.
"""

from __future__ import annotations

import json
import os
import random
from dataclasses import dataclass, field

from clearcare_data_pipeline_spark.etl import run_etl
from clearcare_data_pipeline_spark.queries import extractors
from clearcare_data_pipeline_spark.schema import REGISTRY_SCHEMA

# ETL ops read raw MRF files derived from sf0.01 (11,612 / 2,864
# canonical rows for tall / JSON).
SF_ETL = "sf0.01"
SF_QUERY = "sf0.01"

# One op per query: build it, then reduce its result to a row count and
# an order-insensitive value hash, which is checked against the DuckDB
# oracle's (pins.json). Each query stands for a layer of the query side:
QUERY_MIX = [
    "q5_regional_revenue",  # six-way join: exchanges and broadcasts
    "doc_minhash_lsh",  # text operators, banded self-join exchange
    "emb_kmeans_clusters",  # hierarchical assign: build-time round-trips
]

# Raw layout -> registry structure. The wide CSV layout is left out: at
# about 8 s a campus it does not fit the run-time budget beside these
# two, and its fixed cost is the same devlog and registry work.
LAYOUTS = {"tall": "tall csv", "json": "json"}

# Devlog fields that legitimately change between runs.
_DEVLOG_VOLATILE = ("processed_on", "processed_by")


@dataclass
class Op:
    name: str  # campus id or query name
    kind: str  # layout or "query"
    source: str = ""  # raw file an ETL op read
    rows: int = 0
    stored_bytes: int = 0
    input_bytes: int = 0
    problems: list[str] = field(default_factory=list)


def rounds(rng: random.Random, members: list[str]):
    """Endless rounds; each is ``members`` in a fresh seeded order."""
    while True:
        order = list(members)
        rng.shuffle(order)
        yield order


def _dir_bytes(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


def devlog_entry(entry: dict) -> dict:
    """A devlog entry without its run-dependent fields, round-tripped
    through JSON so it compares equal to a pinned copy."""
    kept = {k: v for k, v in entry.items() if k not in _DEVLOG_VOLATILE}
    return json.loads(json.dumps(kept, default=str, sort_keys=True))


class EtlCampuses:
    """Each op onboards a campus the registry has never processed: a new
    registry row goes from unprocessed to processed, a new devlog file
    and new sink directories are written. Layouts rotate tall/JSON over
    raw MRF files derived from one scale factor's lineitem. The warm-up
    round is a single tall campus, which pays the fresh JVM's cold
    cost."""

    name = "etl_campuses"
    warmup_rounds = 1
    timed_rounds = 1
    max_rounds = 40

    def __init__(self, spark, data_root: str, work_dir: str, seed: int, pins: dict) -> None:
        self.spark = spark
        self.data_root = data_root
        self.out = os.path.join(work_dir, "etl")
        self.registry = os.path.join(work_dir, "registry.parquet")
        self.pins = pins["etl"]
        self.rng = random.Random(seed)
        self.raw: dict[str, str] = {}
        self.schedule: list[list[tuple[str, str]]] = []
        self.campuses_run = 0

    @property
    def checkpoint_dir(self) -> str:
        return os.path.join(self.out, "extracted")

    def build_fixtures(self) -> None:
        sf_dir = os.path.join(self.data_root, SF_ETL)
        self.raw["tall"] = extractors._build_csv(sf_dir, "tall")
        self.raw["json"] = extractors._build_json(sf_dir)

    def setup(self) -> None:
        self.build_fixtures()
        order = rounds(self.rng, list(LAYOUTS))
        self.schedule.append([("campus_000_tall", "tall")])
        n = 1
        for _ in range(self.max_rounds):
            rnd = []
            for layout in next(order):
                rnd.append((f"campus_{n:03d}_{layout}", layout))
                n += 1
            self.schedule.append(rnd)
        # Seeded with pyarrow rather than Spark, so set-up runs no Spark
        # job of its own: the first one is the warm-up campus's.
        import pyarrow as pa
        import pyarrow.parquet as pq

        members = [m for rnd in self.schedule for m in rnd]
        known = {
            "campus_id": [cid for cid, _ in members],
            "hospital_name": [f"Hospital {cid}" for cid, _ in members],
            "zip_code": ["73301"] * len(members),
            "structure": [LAYOUTS[layout] for _, layout in members],
        }
        table = pa.table({
            c: pa.array(known.get(c, [None] * len(members)), pa.string())
            for c in REGISTRY_SCHEMA.fieldNames()
        })
        os.makedirs(self.registry)
        pq.write_table(table, os.path.join(self.registry, "part-0.parquet"))

    def round_ops(self):
        yield from self.schedule

    def run(self, member, span) -> Op:
        cid, layout = member
        res = run_etl(
            self.spark,
            campus_id=cid,
            raw_path=self.raw[layout],
            registry_path=self.registry,
            output_dir=self.out,
        )
        self.campuses_run += 1
        return Op(
            cid, layout, self.raw[layout], res.clean_rows + res.quarantined_rows,
            problems=self._check(cid, self.pins[SF_ETL][layout], res),
        )

    def account(self, op: Op) -> None:
        """Bytes stored for one campus against raw bytes read (outside
        the timer)."""
        op.input_bytes = os.path.getsize(op.source)
        op.stored_bytes = sum(
            _dir_bytes(os.path.join(self.out, sub, op.name))
            for sub in ("extracted", "cleaned", "quarantine")
        ) + _dir_bytes(os.path.join(self.out, "devlogs", f"{op.name}.json"))

    @staticmethod
    def _check(cid: str, pin: dict, res) -> list[str]:
        problems = []
        got = {
            "clean_rows": res.clean_rows,
            "quarantined_rows": res.quarantined_rows,
            "transparency_score": res.score,
        }
        for key, value in got.items():
            if value != pin[key]:
                problems.append(f"{cid}: {key} {value!r} != pinned {pin[key]!r}")
        with open(res.devlog_path) as f:
            entries = json.load(f)
        if len(entries) != 1:
            problems.append(f"{cid}: devlog has {len(entries)} entries, expected 1")
        expected = dict(pin["devlog"], campus_id=cid)
        if entries and devlog_entry(entries[-1]) != expected:
            problems.append(f"{cid}: devlog entry differs from pinned")
        return problems

    def final_check(self) -> list[tuple[str | None, str]]:
        """Every campus run is marked processed in the registry. Returns
        (op name or None for the whole run, problem) pairs."""
        from clearcare_data_pipeline_spark.sources.registry import load_registry

        done = {
            r["campus_id"]
            for r in load_registry(self.spark, self.registry)
            .where("etl_status = 'processed'")
            .select("campus_id")
            .collect()
        }
        run = [m[0] for rnd in self.schedule for m in rnd][: self.campuses_run]
        missing = [cid for cid in run if cid not in done]
        return [(cid, f"{cid}: not marked processed in the registry") for cid in missing]


class QueryMix:
    """Each op builds one query and reduces its result to a row count
    and a value hash (``verify_local.spark_hash_agg``), so build-time
    driver round-trips and execution are both in the op, and every op's
    output is checked against the DuckDB oracle's pinned pair. A round
    is one pass over ``QUERY_MIX``."""

    name = "query_mix"
    warmup_rounds = 1
    timed_rounds = 2

    def __init__(self, spark, data_root: str, work_dir: str, seed: int, pins: dict) -> None:
        import __spark_entry__

        self.spark = spark
        self.sf_dir = os.path.join(data_root, SF_QUERY)
        self.pins = pins["queries"][SF_QUERY]
        self.rng = random.Random(seed)
        self.queries = __spark_entry__.queries()
        self.checkpoint_dir = ""

    def setup(self) -> None:
        pass

    def round_ops(self):
        for order in rounds(self.rng, QUERY_MIX):
            yield [(name, "query") for name in order]

    def run(self, member, span) -> Op:
        from verify_local import spark_hash_agg

        name, _ = member
        with span("build", "queries.build"):
            df = self.queries[name](self.spark, self.sf_dir)
        with span("materialize", "queries.materialize"):
            n, digest = spark_hash_agg(df)
        pin = self.pins[name]
        problems = []
        if (n, str(digest)) != (pin["rows"], pin["digest"]):
            problems.append(f"{name}: rows={n} digest={digest} != pinned {pin}")
        return Op(name, "query", rows=n, problems=problems)

    def account(self, op: Op) -> None:
        pass

    def final_check(self) -> list[tuple[str | None, str]]:
        """Every op checked its own output."""
        return []


WORKLOADS = {w.name: w for w in (EtlCampuses, QueryMix)}
