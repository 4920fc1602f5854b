"""The benchmark's three workloads: their inputs, their operations and
the checks on their outputs.

* ``curation_batch`` -- curation queries at the sf0.1 fixtures.  Most of
  their wall time is driver-side plan building, barriers, snapshot
  commits and Arrow kernels: the layers an optimisation of the driver
  floor moves.  One of them scans a snapshot table through the Python
  data source of ``sources.pyds``.
* ``retail_sql`` -- TPC-H join and scan, window and event queries over a
  10x copy of sf0.1.  Read-only: no snapshots, no Python workers, almost no
  barriers.  It is the bypass case, where scan, shuffle and codegen
  changes show and driver-floor changes should not.
* ``stream_ingest`` -- the reference's event path as a closed loop: a
  drop of product rows lands, then hop3 (JSON -> clean zone) and the two
  incremental dedup gates run with ``availableNow``; the next drop lands
  only after both gate commits for the previous one are visible.

The seed sets the query order and the split of the product rows into
drops.  The fixtures are read-only; every derived input is built inside
the benchmark's own data directory.
"""

from __future__ import annotations

import glob
import json
import os
import random
import shutil
import time
from dataclasses import dataclass

from checks import Checker
from tracing import NullTracer, tree_bytes

CURATION_QUERIES = (
    "dedup_incremental_simhash",
    "sim_ivf_incremental_add",
    "src_python_datasource_scan",
)

RETAIL_QUERIES = (
    "tpch_q3_shipping_priority",
    "tpch_q6_forecast_revenue",
    "win_topk_cheapest_parts",
    "ev_tumbling_hourly",
)

#: tables the retail queries read; the rest of the 10x copy is not built
RETAIL_TABLES = ("lineitem", "orders", "customer", "part", "events")


@dataclass(frozen=True)
class Sizes:
    """Input sizes.  ``FULL`` is the benchmark; ``SMOKE`` is the self-test."""

    fixture: str  # fixture directory name, e.g. "sf0.1"
    scale: int  # replication factor of the retail_sql copy
    drops_total: int  # the seed splits the product rows into this many drops
    drops_run: int  # drops landed per run, in drop order
    buckets_per_drop: int = 5  # staged buckets per drop (see stage.py)

    @property
    def buckets(self) -> int:
        return self.drops_total * self.buckets_per_drop


FULL = Sizes(fixture="sf0.1", scale=10, drops_total=20, drops_run=4)
SMOKE = Sizes(fixture="sf0.001", scale=2, drops_total=2, drops_run=2)


@dataclass
class Op:
    """One timed operation and what the checks need to know about it."""

    name: str
    pass_: str  # ops of one pass run back to back
    query: str = ""
    seconds: float = 0.0
    ok: bool = False
    error: str = ""


def fixture_root() -> str:
    """Directory that holds the read-only ``sf*`` fixtures: the parent of
    the engine's default fixture directory."""
    from specialsid_spark.catalog import DEFAULT_SF_DIR

    return os.path.dirname(os.path.abspath(DEFAULT_SF_DIR.rstrip("/")))


def scaled_copy(data_dir: str, src_dir: str, factor: int) -> str:
    """Replicate ``src_dir`` ``factor`` times with shifted keys, in
    multi-row-group files -- the same construction as
    tools/make_scaled_data.py -- into ``data_dir``; built once and reused.
    The copy is published by renaming a finished temporary directory, so
    an interrupted build never leaves a partial copy behind."""
    import duckdb

    from tools.make_scaled_data import COPY, SPECS

    name = f"{os.path.basename(src_dir.rstrip('/'))}_x{factor}"
    out = os.path.join(data_dir, name)
    if os.path.isdir(out):
        return out
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 4")
        for t in RETAIL_TABLES:
            src = os.path.join(src_dir, f"{t}.parquet")
            base = con.execute(f"SELECT count(*) FROM '{src}'").fetchone()[0]
            keys = SPECS[t]
            cols = [r[0] for r in con.execute(f"DESCRIBE SELECT * FROM '{src}'").fetchall()]
            select = ", ".join(
                f"{c} + r.i * {base} AS {c}" if c in keys else c for c in cols
            )
            con.execute(
                f"COPY (SELECT {select} FROM '{src}', range({factor}) r(i)) "
                f"TO '{tmp}/{t}.parquet' (FORMAT parquet, ROW_GROUP_SIZE 131072)"
            )
        for t in COPY:
            con.execute(
                f"COPY (SELECT * FROM '{src_dir}/{t}.parquet') "
                f"TO '{tmp}/{t}.parquet' (FORMAT parquet)"
            )
    finally:
        con.close()
    os.rename(tmp, out)
    return out


class BatchWorkload:
    """A fixed set of registered queries, run twice: a cold pass in seed
    order, then a warm pass in declaration order.  Each query is timed
    from its call to its ``toPandas`` result.  The warm pass keeps one
    order because the query that opens it pays for JIT tiering still in
    progress; a fixed order keeps that cost on the same query whatever
    the seed, so warm times compare across seeds."""

    def __init__(self, queries: tuple[str, ...], sf_dir: str, input_tag: str):
        self.queries = queries
        self.sf_dir = sf_dir
        self.input_tag = input_tag
        self.results: dict[str, tuple] = {}

    def run(self, spark, seed: int, tracer, deadline: float) -> list[Op]:
        from specialsid_spark.queries import all_queries

        registry = all_queries()
        cold = list(self.queries)
        random.Random(seed).shuffle(cold)
        ops = []
        for pass_, order in (("cold", cold), ("warm", self.queries)):
            for query in order:
                op = Op(f"{query}#{pass_}", pass_, query=query)
                ops.append(op)
                if time.time() > deadline:
                    op.error = "not started before the deadline"
                    continue
                tracer.job_group(spark, op.name)
                t0 = time.time()
                try:
                    with tracer.span(f"queries.build:{op.name}"):
                        df = registry[query](spark, self.sf_dir)
                    with tracer.span(f"queries.materialize:{op.name}"):
                        pdf = df.toPandas()
                except Exception as exc:  # noqa: BLE001 -- a failed query is a counted failure
                    op.error = f"{type(exc).__name__}: {exc}"[:300]
                else:
                    self.results[op.name] = (df.schema, pdf)
                op.seconds = time.time() - t0
        tracer.job_group(spark, None)
        return ops

    def check(self, spark, ops: list[Op], checker: Checker) -> bool:
        """Check every result; returns whether a planted wrong result (the
        first non-empty result minus one row) was caught."""
        from specialsid_spark.queries import all_oracles

        oracles = all_oracles()
        planted = None
        for op in ops:
            if op.error:
                continue
            schema, pdf = self.results[op.name]
            args = (self.input_tag, self.sf_dir, op.query, oracles[op.query], schema)
            op.ok, op.error = checker.compare_query(*args, pdf)
            if planted is None and len(pdf.index):
                planted = checker.planted_failure_caught(*args, pdf)
        return bool(planted)  # False also when no result could carry the plant


class StreamWorkload:
    """Closed-loop daily drops through hop3 and both incremental gates."""

    def __init__(self, source: str, sizes: Sizes, work: str):
        self.sizes = sizes
        #: names the inputs a record of admitted docs holds for; the core
        #: count sets how the staged rows are split into files
        self.record_key = (
            f"{source}-{sizes.buckets}b-{sizes.drops_run}of{sizes.drops_total}"
            f"-cpus{len(os.sched_getaffinity(0))}"
        )
        self.landing = os.path.join(work, "landing")
        self.clean = os.path.join(work, "clean")
        self.lsh_index = os.path.join(work, "lsh_index")
        self.simhash_index = os.path.join(work, "simhash_index")
        self.ckpt = {k: os.path.join(work, f"ckpt_{k}") for k in ("hop3", "lsh", "simhash")}
        self.rows_in = 0
        self.drop_rows: list[int] = []
        self.drop_files: list[list[str]] = []
        self.admitted_docs: list[int] = []

    def prepare(self, seed: int, stage: str) -> None:
        """Group the staged buckets (see stage.py) into drops: the seed
        shuffles the bucket ids and each drop takes the next
        ``buckets_per_drop`` of them."""
        sz = self.sizes
        with open(os.path.join(stage, "rows.json")) as fh:
            counts = json.load(fh)
        order = list(range(len(counts)))
        random.Random(seed).shuffle(order)
        k = sz.buckets_per_drop
        for d in range(sz.drops_run):
            buckets = sorted(order[d * k:(d + 1) * k])
            self.drop_rows.append(sum(counts[b] for b in buckets))
            self.drop_files.append(sorted(
                f for b in buckets for f in glob.glob(os.path.join(stage, "json", f"bucket={b}", "*.json"))
            ))
        os.makedirs(self.landing)

    def _land(self, d: int) -> None:
        """Write a drop under a hidden name, which the file source skips,
        then rename it into view."""
        tmp = os.path.join(self.landing, f".drop_{d:03d}.json")
        with open(tmp, "wb") as out:
            for f in self.drop_files[d]:
                with open(f, "rb") as src:
                    shutil.copyfileobj(src, out)
        os.rename(tmp, os.path.join(self.landing, f"drop_{d:03d}.json"))

    def _hops(self, spark, tracer) -> None:
        from specialsid_spark.streaming.pipeline import (
            hop3_json_to_clean,
            hop4_incremental_lsh_gate,
            hop4_incremental_simhash_gate,
        )

        with tracer.span("stream.hop3"):
            q = hop3_json_to_clean(spark, self.landing, self.clean, self.ckpt["hop3"])
            q.awaitTermination()
        tracer.progress(q)
        with tracer.span("stream.lsh_gate"):
            q = hop4_incremental_lsh_gate(spark, self.clean, self.lsh_index, self.ckpt["lsh"])
            q.awaitTermination()
        tracer.progress(q)
        with tracer.span("stream.simhash_gate"):
            q = hop4_incremental_simhash_gate(
                spark, self.clean, self.simhash_index, self.ckpt["simhash"]
            )
            q.awaitTermination()
        tracer.progress(q)

    def run(self, spark, seed: int, tracer, deadline: float) -> list[Op]:
        from specialsid_spark.operators.snapshot import snapshot_versions

        ops = []
        for d in range(self.sizes.drops_run):
            op = Op(f"drop_{d:03d}", "drops")
            ops.append(op)
            if time.time() > deadline:
                op.error = "not landed before the deadline"
                continue
            t0 = time.time()
            self._land(d)
            try:
                self._hops(spark, tracer)
            except Exception as exc:  # noqa: BLE001 -- a failed drop is a counted failure
                op.error = f"{type(exc).__name__}: {exc}"[:300]
                continue
            visible = [len(snapshot_versions(t)) for t in (self.lsh_index, self.simhash_index)]
            op.seconds = time.time() - t0
            if visible != [d + 1, d + 1]:
                op.error = f"after drop {d} the gate tables hold {visible} versions"
            else:
                self.rows_in += self.drop_rows[d]
        return ops

    def check(self, spark, ops: list[Op], checker: Checker, expected_admitted=None) -> bool:
        """Clean zone equals the batch cleaner over every landed drop; each
        gate holds one version per drop; replaying the last micro-batch of
        each gate and re-running hop3 add nothing; the docs each gate
        admitted equal ``expected_admitted`` when the seed has a record.
        Returns whether a planted wrong reference (the cleaner without the
        last drop) was caught; with fewer than two drops landed there is
        no such reference, and the plant counts as not caught."""
        from specialsid_spark.operators.clean import clean_products
        from specialsid_spark.operators.extraction import PRODUCT_JSON_SCHEMA
        from specialsid_spark.operators.snapshot import snapshot_versions
        from tools.streaming_scale_bench import checksum

        landed = sum(1 for op in ops if not op.error)
        if landed == 0:
            return False
        drops = sorted(os.path.join(self.landing, f) for f in os.listdir(self.landing))
        read = spark.read.schema(PRODUCT_JSON_SCHEMA).json
        batch = clean_products(read(drops))
        want = checksum(batch)
        got = checksum(spark.read.schema(batch.schema).parquet(self.clean))
        problems = checker.compare_digest("clean zone", want, got)
        planted = len(drops) >= 2 and bool(
            checker.compare_digest("planted", checksum(clean_products(read(drops[:-1]))), got)
        )
        versions = [len(snapshot_versions(t)) for t in (self.lsh_index, self.simhash_index)]
        if versions != [landed, landed]:
            problems.append(f"gate versions {versions}, expected {landed} each")
        for k in ("lsh", "simhash"):
            # forget the last commit so the gate re-runs that micro-batch
            commits = os.path.join(self.ckpt[k], "commits")
            last = max(int(f) for f in os.listdir(commits) if f.isdigit())
            for f in (str(last), f".{last}.crc"):
                os.remove(os.path.join(commits, f))
        try:
            self._hops(spark, NullTracer())
        except Exception as exc:  # noqa: BLE001 -- a failed replay is a failed check
            problems.append(f"replay failed: {type(exc).__name__}: {exc}"[:300])
        again = [len(snapshot_versions(t)) for t in (self.lsh_index, self.simhash_index)]
        if again != versions:
            problems.append(f"replay changed gate versions {versions} -> {again}")
        got_again = checksum(spark.read.schema(batch.schema).parquet(self.clean))
        problems += checker.compare_digest("clean zone after replay", want, got_again)
        self.admitted_docs = self.admitted(spark)
        if expected_admitted is not None:
            problems += checker.compare_digest("admitted docs", list(expected_admitted), self.admitted_docs)
        for op in ops:
            if not op.error:
                op.ok = not problems
                op.error = "; ".join(problems)
        return planted

    def admitted(self, spark) -> list[int]:
        """Docs admitted by the LSH and by the SimHash gate."""
        from specialsid_spark.operators.snapshot import snapshot_read, snapshot_versions

        out = []
        for t in (self.lsh_index, self.simhash_index):
            if not snapshot_versions(t):
                out.append(0)
                continue
            out.append(snapshot_read(spark, t).filter("kind = 'doc'").count())
        return out

    def stored_bytes(self) -> int:
        return sum(tree_bytes(p) for p in (self.clean, self.lsh_index, self.simhash_index))

