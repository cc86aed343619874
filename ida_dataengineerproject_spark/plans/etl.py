"""End-to-end ETL ingest pipeline — the reference's ETLPipeline.run()
(/root/reference/etl/etl_ida.py:732-834) as one lazy DataFrame plan.

Reference stages → Spark stages:
- ODSExtractor.extract (op04/05/09/10/15, etl_ida.py:215-274):  here the
  input is already a wide DataFrame with an explicit ``linha_origem`` row
  index (the file-order the pandas ffill silently depends on — SURVEY.md
  §7.4.1) — conversion from ODS happens driver-side, out of the engine.
- DataTransformer.transform (op11/12/16/18-22/25, etl_ida.py:277-429):
  ffill → blank-row filter → unpivot → invalid-cell filter → locale parse →
  recode → hash.  All built-in expressions; one Expand node, no shuffle.
- ensure dims (op36/38, etl_ida.py:556-620): distinct natural keys +
  anti-join upsert; surrogate keys are xxhash64 of the natural key
  (deterministic & distributed — identity sequences are not).
- PostgreSQLLoader.load (op30/37/06, etl_ida.py:461-554): hash dedup,
  dim-key resolution by hash — each fact key is ``_skey`` of the record's
  natural key, the same expression the dim row is keyed with, so the fact
  reads no dim; records with a null natural key drop, as the reference's
  inner joins drop them (etl_ida.py:550-551) — partitioned fact write.

Scale notes: the only shuffles are the dim distincts (tiny) and the fact
dedup (hash-partitioned); the fact plan joins no dim.  The ffill window
partitions by sheet (source file, service).  Fact writes partition by
(ano) so time-range queries prune files.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.calendar import calendar_columns
from ..functions.hashing import record_hash
from ..functions.numparse import parse_locale_number
from ..operators.cleaning import (
    GROUP_MAPPING,
    VARIABLE_MAPPING,
    clean_text,
    drop_blank_rows,
    drop_invalid_values,
    recode,
)
from ..operators.reshape import forward_fill, unpivot_months
from ..operators.upsert import dedup_against


def transform_wide(wide: DataFrame) -> DataFrame:
    """Wide sheet → normalized fact records (the reference's DataRecord
    stream, etl_ida.py:103-122).  Expects columns GRUPO_ECONOMICO, VARIAVEL,
    SERVICO, ARQUIVO_ORIGEM, linha_origem + YYYY-MM month columns."""
    # op15: merged-cell group names repeat down the sheet.  One file
    # holds up to three service sheets and linha_origem restarts in each,
    # so the window is the sheet, as in the reference's per-sheet ffill
    df = forward_fill(
        wide, "GRUPO_ECONOMICO", order_col="linha_origem",
        partition_cols=["ARQUIVO_ORIGEM", "SERVICO"],
    )
    df = drop_blank_rows(df, "GRUPO_ECONOMICO", "VARIAVEL")  # op11
    long = unpivot_months(
        df,
        id_cols=["GRUPO_ECONOMICO", "VARIAVEL", "SERVICO", "ARQUIVO_ORIGEM", "linha_origem"],
    )  # op16 + op22
    long = drop_invalid_values(long, "valor_raw")  # op12
    rec = long.select(
        F.col("ano_mes"),
        recode("GRUPO_ECONOMICO", GROUP_MAPPING).alias("grupo_economico"),  # op19
        clean_text("SERVICO").alias("servico"),  # op18
        recode("VARIAVEL", VARIABLE_MAPPING).alias("variavel"),  # op20
        parse_locale_number("valor_raw").alias("valor"),  # op21
        F.col("ARQUIVO_ORIGEM").alias("arquivo_origem"),
        F.col("linha_origem").cast("int"),
    ).filter(F.col("valor").isNotNull())  # parse failure == skip (op12)
    return rec.withColumn(
        "hash_registro",
        record_hash(  # op25, etl_ida.py:124-131
            F.date_format("ano_mes", "yyyy-MM-dd"),
            "grupo_economico",
            "servico",
            "variavel",
            F.col("valor").cast("string"),
        ),
    )


def _skey(*cols) -> F.Column:
    """Deterministic surrogate key: xxhash64 of the natural key."""
    return F.xxhash64(*cols)


def build_dims(records: DataFrame) -> dict[str, DataFrame]:
    """Dimension ensure (op36/op38, etl_ida.py:556-620): distinct natural
    keys → dim rows with hash surrogate keys + calendar attributes."""
    tempo = (
        records.select("ano_mes").distinct()
        .transform(lambda d: calendar_columns(d, "ano_mes"))
        .select(
            _skey("ano_mes").alias("tempo_key"),
            "ano_mes", "ano", "mes", "mes_nome", "trimestre", "semestre",
        )
    )
    grupo = records.select(
        F.col("grupo_economico").alias("grupo_codigo")
    ).distinct().select(
        _skey("grupo_codigo").alias("grupo_key"),
        "grupo_codigo",
        F.col("grupo_codigo").alias("grupo_nome"),
        F.lower("grupo_codigo").alias("grupo_normalizado"),
        F.lit(True).alias("ativo"),
    )
    servico = records.select(F.col("servico").alias("servico_codigo")).distinct().select(
        _skey("servico_codigo").alias("servico_key"),
        "servico_codigo",
        F.col("servico_codigo").alias("servico_nome"),
        F.lit(None).cast("string").alias("servico_descricao"),
        F.lit(True).alias("ativo"),
    )
    variavel = records.select(F.col("variavel").alias("variavel_codigo")).distinct().select(
        _skey("variavel_codigo").alias("variavel_key"),
        "variavel_codigo",
        F.col("variavel_codigo").alias("variavel_nome"),
        F.lit(None).cast("string").alias("variavel_descricao"),
        F.lit(None).cast("string").alias("unidade_medida"),
        F.lit(None).cast("int").alias("peso_ida"),
        F.lit(None).cast("decimal(10,3)").alias("meta_anatel"),
        (F.col("variavel_codigo") == "TAXA_RESP_5DIAS").alias("is_principal"),
        F.lit(True).alias("ativo"),
    )
    return {
        "dim_tempo": tempo,
        "dim_grupo_economico": grupo,
        "dim_servico": servico,
        "dim_variavel": variavel,
    }


# fact key column → (dim table, records column the dim key hashes)
_DIM_KEYS = {
    "tempo_key": ("dim_tempo", "ano_mes"),
    "grupo_key": ("dim_grupo_economico", "grupo_economico"),
    "servico_key": ("dim_servico", "servico"),
    "variavel_key": ("dim_variavel", "variavel"),
}


def project_fact(
    records: DataFrame, existing_fact: DataFrame | None = None
) -> DataFrame:
    """Dedup + dim-key resolution (op30/op37, etl_ida.py:502-554) for
    records whose dims are built from the same records.

    Hash dedup reproduces ON CONFLICT DO NOTHING, anti-joined against the
    existing fact for idempotent re-runs.  Each dim key is ``_skey`` of
    the record's natural key — the very expression ``build_dims`` keys
    the dim row with — so no dim is read: a record with a non-null
    natural key always has its dim row.  A null natural key has none (an
    inner join never matches null), so those records are filtered out,
    exactly the rows the reference's inner joins drop
    (etl_ida.py:550-551).  The filter runs before the dedup, so a record
    that cannot be loaded never wins the dedup over one that can; it also
    leaves the anti join directly above the dedup aggregate, where the
    optimizer pushes it below, so a re-ingest dedups only the new
    records."""
    natural = [col for _, col in _DIM_KEYS.values()]
    deduped = dedup_against(
        records.dropna(subset=natural), existing_fact, ["hash_registro"]
    )
    return deduped.select(
        F.xxhash64("hash_registro").alias("fato_key"),
        *[_skey(col).alias(key) for key, (_, col) in _DIM_KEYS.items()],
        F.col("valor").cast("decimal(15,6)").alias("valor"),
        "arquivo_origem",
        "linha_origem",
        F.current_timestamp().alias("data_processamento"),
        "hash_registro",
    )


def load_fact(
    records: DataFrame,
    dims: dict[str, DataFrame],
    existing_fact: DataFrame | None = None,
) -> DataFrame:
    """``project_fact`` for dims that need not come from ``records``
    (e.g. a pre-existing, narrower dim set): a fact row is kept only if
    every dim holds its key — a left-semi membership filter per dim,
    the reference's silent drop of records with no dim row
    (etl_ida.py:550-551)."""
    fact = project_fact(records, existing_fact)
    for key, (dim, _) in _DIM_KEYS.items():
        fact = fact.join(dims[dim].select(key), key, "left_semi")
    return fact


def ingest(
    spark: SparkSession,
    wide: DataFrame,
    existing_fact: DataFrame | None = None,
    materialize_records: bool = False,
) -> dict[str, DataFrame]:
    """Full pipeline: wide sheet(s) → {dims..., fact_ida} lazy DataFrames.
    Mirrors ETLPipeline.run (etl_ida.py:732-834) minus the HTTP fetch.

    The dims and the fact come from the same records, so the fact's dim
    keys are hashed from its own natural keys (``project_fact``): the
    fact plan reads no dim, and no dim is built twice.

    ``materialize_records=True`` (opt-in so the default contract stays
    fully lazy) eagerly checkpoints the normalized record stream before
    fanning out: the records subtree (ffill window + unpivot Expand +
    parse/recode) feeds FIVE independent consumers — four dim distincts
    and the fact dedup — and with ``write_star`` each of the five write
    jobs would re-derive it from the source.  Records are O(sheet
    cells), so the checkpoint is bounded at any corpus scale.  Callers
    that consume only one output keep the lazy default."""
    records = transform_wide(wide)
    if materialize_records:
        records = records.localCheckpoint(eager=True)
    dims = build_dims(records)
    fact = project_fact(records, existing_fact)
    return {**dims, "fact_ida": fact}


def write_star(star: dict[str, DataFrame], base_dir: str) -> None:
    """Persist the star schema: dims plain, fact partitioned by year via the
    tempo dim (partition pruning for time-range queries — the Spark
    equivalent of the reference's fact indexes, schema_star.sql:96-101).

    The five table writes are independent jobs (the fact plan reuses the
    LAZY dim frames, never the dim files), so they run from a small
    thread pool (guide §2.6 — overlap independent jobs): wall is the
    slowest write, not the sum of five job round-trips.  On a cluster
    the later jobs back-fill executors freed by the earlier jobs' tails.

    Concurrency caveats (ADVICE r12): pool.map raises the FIRST failure
    only after every in-flight write finishes — a failed fact write can
    leave sibling tables already (re)written; callers treating the star
    dir as transactional should stage+rename (sources/wap.py).  And
    because SQLConf is session-scoped, a concurrent ``scoped_conf``
    mutation on this session from another thread (e.g. graph.py's AQE
    scope) would leak into these writes — don't run write_star
    concurrently with scoped-conf operators on the same session."""
    from concurrent.futures import ThreadPoolExecutor

    def write_one(item: tuple[str, DataFrame]) -> None:
        name, df = item
        if name == "fact_ida":
            with_ano = df.join(
                F.broadcast(star["dim_tempo"].select("tempo_key", "ano")), "tempo_key"
            )
            with_ano.write.mode("overwrite").partitionBy("ano").parquet(
                f"{base_dir}/{name}"
            )
        else:
            # dims are small by construction (distinct natural keys):
            # one output file each instead of shuffle.partitions files
            df.coalesce(1).write.mode("overwrite").parquet(f"{base_dir}/{name}")

    with ThreadPoolExecutor(max_workers=3) as pool:
        # consume the iterator so the first exception propagates
        list(pool.map(write_one, star.items()))
