"""The benchmark's two workloads and their operations.

Every workload is a closed loop with one client: the next operation
starts only after the previous one returned and was checked. An
operation is one call into the program's public surface followed by
the action that pulls its result. Its kind names the end-to-end metric
that reports its CPU time:

- ``query``: a ``queries.QUERIES`` builder, then ``collect()``;
- ``load``: one SIRENE pipeline import into PostgreSQL;
- ``readback``: one ``read_pg_parallel`` read-back plus ``collect()``;
- ``curate``: one ``curate_corpus`` run.

The workloads differ in their queries. ``relational`` runs relational
and streaming-replay queries: Catalyst and JVM work with no Python UDF
operators. ``llm_ops`` runs the document operator queries: pandas/Arrow
UDF kernels. Each is the other's control. Both run the same reference
lifecycle beside their queries (the SIRENE import into PostgreSQL, its
read-back, curation), so every run reports every kind.

``prepare`` makes the inputs from the seed, computes every expected
result and runs one checked warm pass before timing starts; ``check``
compares an operation's result outside the timed interval and returns
the problems found.
"""

from __future__ import annotations

import math
import random
import time
from dataclasses import dataclass, field
from datetime import date, datetime
from decimal import Decimal
from pathlib import Path
from typing import Callable

import gen

# Fixed per workload: a later change to the registry must not silently
# change what is measured, and a missing name fails the run loudly.
RELATIONAL = (
    "q3_shipping_priority",  # TPC-H join + aggregate
    "events_stream_trending",  # micro-batch replay through ``streaming``
)
LLM_OPS = (
    "near_dup_clusters",  # operators.similarity (blocked cosine) + operators.dedup
    "doc_bm25_topk",  # operators.retrieval
)
WARMUP_QUERY = "q6_forecast_revenue"
# the table the SIRENE import loads and ``read_pg_parallel`` reads back
TABLE = "stock_unite_legale"


@dataclass
class Op:
    name: str
    kind: str
    run: Callable[[], object]
    check: Callable[[object], list[str]]


@dataclass
class Context:
    spark: object
    tracer: object
    work: Path
    seed: int
    tiny: bool
    cpus: int
    info: dict = field(default_factory=dict)


# --- result canonicalisation -------------------------------------------------


def _canon(v):
    """One comparable form for a value from ``collect()`` or from
    ``toPandas()``: NaN and NULL coincide, integral floats equal ints,
    sequences and structs become tuples."""
    if v is None:
        return None
    if hasattr(v, "item") and not hasattr(v, "__len__"):  # numpy scalar
        v = v.item()
    if isinstance(v, bool):
        return int(v)
    if isinstance(v, float):
        if math.isnan(v):
            return None
        return int(v) if v.is_integer() else repr(v)
    if isinstance(v, Decimal):
        return str(v.normalize()) if v.is_finite() else str(v)
    if isinstance(v, datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, date):
        return v.isoformat()
    if hasattr(v, "to_pydatetime"):  # pandas Timestamp
        return None if v != v else v.to_pydatetime().isoformat()
    if isinstance(v, dict):
        return tuple(sorted((k, _canon(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple)) or hasattr(v, "tolist"):
        return tuple(_canon(x) for x in (v.tolist() if hasattr(v, "tolist") else v))
    try:
        if v != v:  # pandas NA / NaT
            return None
    except (TypeError, ValueError):
        pass
    return v


def multiset(rows) -> list:
    """Order-independent canonical form of a row collection."""
    return sorted((tuple(_canon(x) for x in r) for r in rows), key=repr)


# --- parts --------------------------------------------------------------------
#
# A workload is made of parts. Each part generates its inputs from the seed
# (``prepare_data``, untimed), then runs every one of its operations once,
# untimed, and checks the results (``prepare``); it returns its operations
# and the problems that warm pass found.


class Queries:
    """``queries.QUERIES`` builders plus ``collect()`` over seeded parquet
    tables, checked against their DuckDB ``ORACLE`` results."""

    def __init__(self, names: tuple[str, ...], sf: float, tiny_sf: float):
        self.names, self.sf, self.tiny_sf = names, sf, tiny_sf
        self.data: Path | None = None

    def prepare_data(self, ctx: Context) -> None:
        from datagouv_tools_spark.queries import ORACLE, QUERIES

        missing = [q for q in (*self.names, WARMUP_QUERY) if q not in QUERIES or q not in ORACLE]
        if missing:
            raise SystemExit(f"unknown query or no oracle: {missing}")
        self.data = ctx.work / "data"
        sf = self.tiny_sf if ctx.tiny else self.sf
        ctx.info["rows"] = {**ctx.info.get("rows", {}), **gen.make_tables(self.data, sf, ctx.seed)}
        ctx.info["sf"] = sf

    def prepare(self, ctx: Context) -> tuple[list[Op], dict[str, list[str]]]:
        """The oracles, then one warm run of each query whose result is
        checked against its oracle and kept as the expected result."""
        import duckdb

        from datagouv_tools_spark.queries import ORACLE, QUERIES
        from datagouv_tools_spark.sources.catalog import TESTDATA_TABLES, table_path
        from tools.paritycheck import compare

        con = duckdb.connect()
        for t in TESTDATA_TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(str(self.data), t)}')"
            )
        ops, problems = [], {}
        for q in self.names:
            oracle = con.execute(ORACLE[q]).df()
            got = QUERIES[q](ctx.spark, str(self.data)).toPandas()
            found = compare(got, oracle)
            if found:
                problems[q] = found
            ops.append(self._op(ctx, q, multiset(got.itertuples(index=False, name=None))))
        con.close()
        return ops, problems

    def _op(self, ctx: Context, q: str, expected: list) -> Op:
        from datagouv_tools_spark.queries import QUERIES

        fn, data, spark, tracer = QUERIES[q], str(self.data), ctx.spark, ctx.tracer

        def run():
            with tracer.span("queries.build"):
                df = fn(spark, data)
            with tracer.span("queries.collect"):
                return df.collect()

        def check(rows) -> list[str]:
            if multiset(rows) != expected:
                return [f"{q}: collected rows differ from the oracle-checked warm run"]
            return []

        return Op(q, "query", run, check)


def _warm(ops: list[Op]) -> dict[str, list[str]]:
    problems = {}
    for op in ops:
        found = op.check(op.run())
        if found:
            problems[op.name] = found
    return problems


class Imports:
    """The reference lifecycle: the SIRENE zipped-CSV import through the
    pipeline's ``dsn=`` COPY path into a throwaway PostgreSQL, and the
    ``read_pg_parallel`` read-back of the loaded table. The import is
    checked by the table's PostgreSQL row count, the read-back by an
    order-independent comparison with the pipeline's own DataFrame."""

    ROWS, TINY = 10_000, 300
    # Imports per pass: the median of three steadies ``load_cpu_s``, whose
    # single samples spread by a third while the JIT still compiles the
    # import's code paths.
    REPEAT = 3

    def __init__(self) -> None:
        self.pg = None
        self.dsn: str | None = None

    def prepare_data(self, ctx: Context) -> None:
        from pgserver import PgServer

        self.sirene = ctx.work / "fixtures" / "sirene"
        self.rows = gen.make_sirene(self.sirene, self.TINY if ctx.tiny else self.ROWS, ctx.seed)
        self.input_bytes = sum(p.stat().st_size for p in self.sirene.iterdir())
        ctx.info["rows"] = {**ctx.info.get("rows", {}), TABLE: self.rows}
        self.pg = PgServer()
        self.dsn = self.pg.start()

    def close(self) -> None:
        if self.pg is not None:
            self.pg.stop()

    def prepare(self, ctx: Context) -> tuple[list[Op], dict[str, list[str]]]:
        from datagouv_tools_spark.pipelines.sirene import import_sirene, sirene_table
        from datagouv_tools_spark.schema.types import PatchedSireneTypeConverter
        from datagouv_tools_spark.sources.pg_read import read_pg_parallel
        from datagouv_tools_spark.sources.zipped_csv import discover_sirene_sources

        spark, tracer, dsn = ctx.spark, ctx.tracer, self.dsn
        stage = ctx.work / "staging"
        source = next(iter(discover_sirene_sources(self.sirene)))
        frame = sirene_table(spark, source, str(stage / "expected"), PatchedSireneTypeConverter())
        self.expected = multiset(frame.collect())
        if len(self.expected) != self.rows:
            raise RuntimeError(f"{TABLE}: the pipeline parses a different row count than the fixture")

        def load():
            with tracer.span("pipelines.import_sirene"):
                return import_sirene(
                    spark, self.sirene, rdbms="pg", dsn=dsn, bulk_copy=True,
                    staging_dir=str(stage / "import"),
                )

        def check_load(_result) -> list[str]:
            n = int(self.pg.query(f'SELECT count(*) FROM "{TABLE}"')[0][0])
            if n != self.rows:
                return [f"{TABLE}: {n} rows in PostgreSQL, expected {self.rows}"]
            return []

        def readback():
            with tracer.span("sources.read_pg_parallel"):
                df = read_pg_parallel(spark, dsn, TABLE, num_partitions=ctx.cpus)
            with tracer.span("sources.pg_collect"):
                return df.collect()

        def check_readback(rows) -> list[str]:
            if multiset(rows) != self.expected:
                return [f"{TABLE}: read-back rows differ from the pipeline's DataFrame"]
            return []

        ops = [
            Op("import_sirene", "load", load, check_load),
            Op(f"readback_{TABLE}", "readback", readback, check_readback),
        ]
        return ops[:1] * self.REPEAT + ops[1:], _warm(ops)


class Curation:
    """``curate_corpus`` over a seeded salted copy of generated documents,
    checked by its funnel stage counts."""

    SIZE, TINY = 150, 100

    def prepare_data(self, ctx: Context) -> None:
        self.docs = ctx.work / "fixtures" / "documents.parquet"
        self.corpus = gen.make_curation_corpus(self.docs, self.TINY if ctx.tiny else self.SIZE, ctx.seed)
        ctx.info["rows"] = {**ctx.info.get("rows", {}), "curation_docs": self.corpus["n_input"]}

    def prepare(self, ctx: Context) -> tuple[list[Op], dict[str, list[str]]]:
        from datagouv_tools_spark.pipelines.curate import curate_corpus

        spark, tracer, out = ctx.spark, ctx.tracer, str(ctx.work / "curated")
        reference = []

        def run():
            with tracer.span("pipelines.curate_corpus"):
                return curate_corpus(spark.read.parquet(str(self.docs)), out)

        def check(report) -> list[str]:
            problems = []
            if report.n_input != self.corpus["n_input"]:
                problems.append(f"curation input {report.n_input} != {self.corpus['n_input']}")
            if report.n_after_exact_dedup != self.corpus["n_distinct"]:
                problems.append(
                    f"exact dedup kept {report.n_after_exact_dedup}, expected {self.corpus['n_distinct']}"
                )
            if not (
                report.n_input >= report.n_after_exact_dedup >= report.n_after_scrub
                >= report.n_after_quality == sum(report.split_counts.values()) > 0
            ):
                problems.append(f"curation funnel not monotone: {report.as_rows()}")
            if not reference:
                reference.append(report)
            elif report != reference[0]:
                problems.append(f"curation funnel changed between runs: {report.as_rows()}")
            return problems

        ops = [Op("curate_corpus", "curate", run, check)]
        return ops, _warm(ops)


# --- workloads -----------------------------------------------------------------


def _warm_workers(spark, cpus: int) -> None:
    """Keep one Python worker busy per core at once, so that each is forked
    and has imported the package before timing starts: otherwise which
    timed operation pays for a worker's start-up and first imports
    depends on which worker the scheduler hands its tasks to."""

    def load(rows):
        import datagouv_tools_spark.queries  # noqa: F401

        time.sleep(0.5)
        return rows

    spark.sparkContext.parallelize(range(cpus), cpus).mapPartitions(load).count()


class Workload:
    """A workload's queries plus the reference lifecycle, run in one
    closed loop. Each timed pass runs every operation of every part
    once, in an order drawn from the seed."""

    def __init__(self, queries: Queries) -> None:
        self.queries = queries
        self.imports = Imports()
        self.curation = Curation()
        self.parts = (queries, self.imports, self.curation)

    def prepare_data(self, ctx: Context) -> None:
        for part in self.parts:
            t = time.perf_counter()
            part.prepare_data(ctx)
            ctx.info.setdefault("prepare_data_s", {})[type(part).__name__] = time.perf_counter() - t

    def warmup(self, spark) -> None:
        from datagouv_tools_spark.queries import QUERIES

        QUERIES[WARMUP_QUERY](spark, str(self.queries.data)).collect()

    def prepare(self, ctx: Context) -> list[Op]:
        ops: list[Op] = []
        problems: dict[str, list[str]] = {}
        _warm_workers(ctx.spark, ctx.cpus)
        for part in self.parts:
            t = time.perf_counter()
            part_ops, part_problems = part.prepare(ctx)
            ctx.info.setdefault("prepare_s", {})[type(part).__name__] = time.perf_counter() - t
            ops += part_ops
            problems.update(part_problems)
        ctx.info["warm_pass_problems"] = problems
        random.Random(ctx.seed).shuffle(ops)
        return ops

    def close(self) -> None:
        self.imports.close()


WORKLOADS = {
    "relational": lambda: Workload(Queries(RELATIONAL, sf=0.01, tiny_sf=0.001)),
    "llm_ops": lambda: Workload(Queries(LLM_OPS, sf=0.01, tiny_sf=0.001)),
}
