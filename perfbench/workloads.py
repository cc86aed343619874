"""The benchmark workloads.  Each is one client in a closed loop calling
the package's public functions; spans wrap every call into a layer (see
spans.py).  Both workloads are batch jobs, measured from the first call
of the Spark application: a scheduled batch job starts a fresh
application every time, so class loading, JIT and code generation are
part of what its user waits for.

A workload provides:

- ``make_inputs(seed)``: write the seeded inputs into a fresh directory;
- ``layouts()``: one-time storage layouts the measured calls rely on;
- ``op(i)``: one measured unit operation; returns the source rows (or
  sheet cells) it consumed;
- ``verify_op()`` / ``verify_run()``: correctness against an independent
  expectation, after each operation and once per run, always outside
  the timed region; each returns a list of failure messages;
- ``counts()``: per-layer counts and their own check failures, for the
  traced run.
"""

from __future__ import annotations

import os
import shutil
from decimal import Decimal

from perfbench.corpus import CorpusSpec, write_corpus
from perfbench.tables import write_tables

ETL_COUNTS = (
    "sources.ods.long_rows",
    "plans.etl.records",
    "plans.etl.fact_rows",
    "plans.etl.reingest_new_rows",
    "plans.etl.records_per_cell",
)


class Workload:
    name = ""
    # every span this workload records; the traced output lists the
    # spans of all workloads, so bypassed layers read 0
    spans: tuple[str, ...] = ()

    def __init__(self, bench, tracer, work: str, scale: str, corrupt: bool):
        self.bench = bench  # owns the live Spark session
        self.tracer = tracer
        self.work = work
        self.scale = scale
        self.corrupt = corrupt

    @property
    def spark(self):
        return self.bench.spark

    def layouts(self) -> None:
        pass

    def verify_op(self) -> list[str]:
        return []

    def verify_run(self) -> list[str]:
        return []

    def counts(self) -> tuple[dict[str, float], list[str]]:
        return {}, []


class EtlIngest(Workload):
    """The reference's product: ODS sheets → star schema, then an
    idempotent re-ingest of the corpus plus a one-month delta against
    the fact table read back from disk."""

    name = "etl_ingest"
    spans = (
        "sources.ods.read",
        "plans.etl.ingest",
        "plans.etl.write_star",
        "plans.etl.reingest",
    )

    def make_inputs(self, seed: int) -> None:
        spec = CorpusSpec() if self.scale == "full" else CorpusSpec(years=1, rows=30, delta_rows=20)
        root = os.path.join(self.work, "ods")
        shutil.rmtree(root, ignore_errors=True)
        self.expected = write_corpus(root, seed, spec)
        if self.corrupt:
            self.expected.fact_rows += 1
        self.base_glob = os.path.join(root, "base", "*.ods")
        self.all_glob = os.path.join(root, "*", "*.ods")

    def op(self, i: int) -> int:
        from ida_dataengineerproject_spark.plans.etl import ingest, write_star
        from ida_dataengineerproject_spark.sources.ods import long_to_wide, read_ods_long

        spark = self.spark
        self.star_dir = os.path.join(self.work, "star", f"cycle{i}")
        with self.tracer.span("sources.ods.read", i):
            wide = long_to_wide(read_ods_long(spark, self.base_glob))
        with self.tracer.span("plans.etl.ingest", i):
            star = ingest(spark, wide, materialize_records=True)
        with self.tracer.span("plans.etl.write_star", i):
            write_star(star, self.star_dir)
        with self.tracer.span("plans.etl.reingest", i):
            existing = spark.read.parquet(os.path.join(self.star_dir, "fact_ida"))
            wide2 = long_to_wide(read_ods_long(spark, self.all_glob))
            star2 = ingest(spark, wide2, existing_fact=existing, materialize_records=True)
            write_star(star2, self.star_dir + "_delta")
        return self.expected.source_cells

    def verify_op(self) -> list[str]:
        """Read the cycle's star back and compare it with the model; then
        delete it, so disk use stays flat."""
        from pyspark.sql import functions as F

        spark, exp, star = self.spark, self.expected, self.star_dir
        delta = star + "_delta"
        fails = []

        def read(d: str, t: str):
            return spark.read.parquet(os.path.join(d, t))

        for dim, n in exp.dims.items():
            got = read(star, dim).count()
            if got != n:
                fails.append(f"{dim}: {got} rows, expected {n}")
        fact = read(star, "fact_ida")
        self.fact_rows = fact.count()
        if self.fact_rows != exp.fact_rows:
            fails.append(f"fact_ida: {self.fact_rows} rows, expected {exp.fact_rows}")
        sums = (
            fact.join(read(star, "dim_servico"), "servico_key")
            .join(read(star, "dim_tempo"), "tempo_key")
            .groupBy("servico_codigo", F.date_format("ano_mes", "yyyy-MM").alias("mes"))
            .agg(F.sum("valor").alias("s"))
            .collect()
        )
        got_sums = {(r.servico_codigo, r.mes): Decimal(r.s) for r in sums}
        if got_sums != exp.sums:
            bad = sorted(k for k in exp.sums.keys() | got_sums.keys() if exp.sums.get(k) != got_sums.get(k))
            fails.append(f"fact sums differ for {len(bad)} service-months, e.g. {bad[:3]}")
        self.new_rows = read(delta, "fact_ida").count()
        if self.new_rows != exp.delta_new_rows:
            fails.append(f"re-ingest added {self.new_rows} rows, expected {exp.delta_new_rows}")
        months = read(delta, "dim_tempo").count()
        if months != exp.dims["dim_tempo"] + 1:
            fails.append(f"re-ingest dim_tempo: {months} rows, expected {exp.dims['dim_tempo'] + 1}")
        shutil.rmtree(star, ignore_errors=True)
        shutil.rmtree(delta, ignore_errors=True)
        return fails

    def counts(self) -> tuple[dict[str, float], list[str]]:
        from ida_dataengineerproject_spark.plans.etl import transform_wide
        from ida_dataengineerproject_spark.sources.ods import long_to_wide, read_ods_long

        spark, exp = self.spark, self.expected
        long_rows = read_ods_long(spark, self.base_glob).count()
        records = transform_wide(long_to_wide(read_ods_long(spark, self.base_glob))).count()
        fails = []
        if long_rows != exp.long_rows:
            fails.append(f"long rows: {long_rows}, expected {exp.long_rows}")
        if records != exp.records:
            fails.append(f"records: {records}, expected {exp.records}")
        return {
            "sources.ods.long_rows": long_rows,
            "plans.etl.records": records,
            "plans.etl.fact_rows": self.fact_rows,
            "plans.etl.reingest_new_rows": self.new_rows,
            "plans.etl.records_per_cell": records / exp.source_cells,
        }, fails


# the six registered queries that dominate the sf0.1 wall time, and the
# input table each reads (for rows consumed per second)
MIX = {
    "x31_ppjoin_pairs": "documents",
    "x24_triangle_count": "lineitem",
    "xs16_merge_on_read_state": "orders",
    "xs10_vacuum_latest_state": "orders",
    "x26_heavyhitter_bigrams": "documents",
    "pipeline_prepare_documents": "documents",
}
FLAGSHIP = "flagship_taxa_variacao"


def _zero_sign(pdf):
    """-0.0 → 0.0 in float columns (adding +0.0 does exactly that).

    tools/parity.py compares the string forms of values, and '-0.0' !=
    '0.0'.  ROUND of a small negative change gives -0.0 in DuckDB and
    0.0 in Spark (and in the reference's PostgreSQL numeric), so the
    flagship and its oracle disagree on some seeded inputs although the
    values are equal."""
    floats = pdf.select_dtypes("float").columns
    return pdf.assign(**{c: pdf[c] + 0.0 for c in floats})


class OperatorMix(Workload):
    """One pass over ``vw_taxa_variacao`` (production arm over bucketed
    facts, then the plain arm) and the six registered queries that
    dominate the sf0.1 wall time: set-similarity join, triangle count,
    two lake commits (which write), heavy hitters, document pipeline.
    Every result is collected into this Python process, as a batch
    consumer reads it; the pass's outputs are checked against the
    registry's DuckDB oracles."""

    name = "operator_mix"
    sf = {"full": 0.005, "tiny": 0.001}
    spans = (
        "sources.bucketed.ensure",
        "plans.taxa_variacao.build",
        "plans.taxa_variacao.bucketed",
        "plans.taxa_variacao.plain",
        *(f"mix.{q}" for q in MIX),
    )

    def make_inputs(self, seed: int) -> None:
        self.data = os.path.join(self.work, "data")
        shutil.rmtree(self.data, ignore_errors=True)
        self.rows = write_tables(self.data, seed, self.sf[self.scale])
        self.outputs: dict = {}

    def layouts(self) -> None:
        from ida_dataengineerproject_spark.sources.bucketed import bucketed_fact

        with self.tracer.span("sources.bucketed.ensure", 0):
            for t in ("lineitem", "orders"):
                bucketed_fact(self.spark, self.data, t)

    def op(self, i: int) -> int:
        from ida_dataengineerproject_spark.plans.taxa_variacao import (
            taxa_variacao,
            taxa_variacao_bucketed,
        )
        from ida_dataengineerproject_spark.registry import QUERIES

        spark, out = self.spark, {}
        with self.tracer.span("plans.taxa_variacao.build", i):
            df = taxa_variacao_bucketed(spark, self.data)
        with self.tracer.span("plans.taxa_variacao.bucketed", i):
            out["taxa_variacao.bucketed"] = (FLAGSHIP, df.toPandas())
        with self.tracer.span("plans.taxa_variacao.plain", i):
            out["taxa_variacao.plain"] = (FLAGSHIP, taxa_variacao(spark, self.data).toPandas())
        for q in MIX:
            with self.tracer.span(f"mix.{q}", i):
                out[q] = (q, QUERIES[q](spark, self.data).toPandas())
        self.outputs = self.outputs or out  # the first pass is the one checked
        fact_rows = self.rows["lineitem"] + self.rows["orders"]
        return 2 * fact_rows + sum(self.rows[t] for t in MIX.values())

    def verify_run(self) -> list[str]:
        """The registry's DuckDB oracles through tools/parity.py's
        duck_con/compare, with IEEE signed zeros equal."""
        from ida_dataengineerproject_spark.registry import ORACLES
        from parity import compare, duck_con

        duck = duck_con(self.data)
        duck.execute("SET enable_progress_bar = false")
        fails = []
        try:
            for label, (query, pdf) in self.outputs.items():
                expected = duck.execute(ORACLES[query]).fetchdf()
                if self.corrupt:
                    expected = expected.iloc[1:]  # self-test: a wrong expectation must fail
                if not compare(label, _zero_sign(pdf), _zero_sign(expected), verbose=False):
                    fails.append(f"{label}: output differs from its oracle")
        finally:
            duck.close()
        return fails


WORKLOADS = {w.name: w for w in (EtlIngest, OperatorMix)}
ALL_SPANS = tuple(s for w in WORKLOADS.values() for s in w.spans)
