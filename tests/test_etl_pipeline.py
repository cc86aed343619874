"""ETL transform-semantics tests against the FIXTURES.md §2 dirty fixture —
ffill, unpivot, dirty-value parsing, recode pass-through, dedup idempotency,
silent-drop key resolution.  Golden values hand-computed from the reference
semantics (/root/reference/etl/etl_ida.py:277-429)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def wide(spark):
    cols = (
        "linha_origem int, GRUPO_ECONOMICO string, VARIAVEL string, "
        "`2017-01` string, `2017-02` string, SERVICO string, ARQUIVO_ORIGEM string"
    )
    rows = [
        # ffill: rows 2-3 inherit CLARO S.A.; recode → CLARO
        (1, "CLARO S.A.", "Taxa de Respondidas em 5 dias Úteis", "12,34", "56,7%", "SMP", "SMP_2017.ods"),
        (2, None, "Índice de Reclamações", "89.5", "-", "SMP", "SMP_2017.ods"),
        (3, None, "Metrica Desconhecida", "100", "abc", "SMP", "SMP_2017.ods"),
        # recode to VIVO; doubled internal spaces collapse
        (4, "TELEFÔNICA  BRASIL  S.A.", "Taxa de Respondidas em 5 dias Úteis", "", "nan", "SMP", "SMP_2017.ods"),
        # unknown group passes through
        (5, "ACME TELECOM", "Taxa de Respondidas em 5 dias Úteis", "50", "60", "SMP", "SMP_2017.ods"),
        # blank grupo+variavel row dropped entirely (after ffill fills grupo,
        # variavel stays blank → dropped)
        (6, None, "   ", None, None, "SMP", "SMP_2017.ods"),
        # second file: independent ffill partition
        (1, "OI S.A.", "Taxa de Respondidas em 5 dias Úteis", "1,5", "2,5", "STFC", "STFC_2017.ods"),
    ]
    return spark.createDataFrame(rows, cols)


def _records(spark, wide):
    from ida_dataengineerproject_spark.plans.etl import transform_wide

    return transform_wide(wide)


def test_transform_golden(spark, wide):
    rec = _records(spark, wide)
    got = {
        (r.grupo_economico, r.variavel, str(r.ano_mes), r.valor)
        for r in rec.collect()
    }
    expected = {
        # row 1: CLARO recode; comma decimal + percent strip
        ("CLARO", "TAXA_RESP_5DIAS", "2017-01-01", 12.34),
        ("CLARO", "TAXA_RESP_5DIAS", "2017-02-01", 56.7),
        # row 2: ffill CLARO; '-' skipped
        ("CLARO", "INDICE_RECL", "2017-01-01", 89.5),
        # row 3: ffill CLARO; unknown variable passes through; 'abc' skipped
        ("CLARO", "Metrica Desconhecida", "2017-01-01", 100.0),
        # row 4: VIVO after whitespace collapse + recode; both cells invalid
        # row 5: unknown group pass-through
        ("ACME TELECOM", "TAXA_RESP_5DIAS", "2017-01-01", 50.0),
        ("ACME TELECOM", "TAXA_RESP_5DIAS", "2017-02-01", 60.0),
        # second file: own ffill chain
        ("OI", "TAXA_RESP_5DIAS", "2017-01-01", 1.5),
        ("OI", "TAXA_RESP_5DIAS", "2017-02-01", 2.5),
    }
    assert got == expected


def test_hash_unique_and_stable(spark, wide):
    rec = _records(spark, wide)
    n = rec.count()
    assert rec.select("hash_registro").distinct().count() == n
    # deterministic across runs
    h1 = sorted(r.hash_registro for r in rec.collect())
    h2 = sorted(r.hash_registro for r in _records(spark, wide).collect())
    assert h1 == h2


def test_ingest_idempotent(spark, wide):
    """Running ingest twice must not grow the fact (ON CONFLICT DO NOTHING,
    etl_ida.py:534)."""
    from ida_dataengineerproject_spark.plans.etl import ingest

    star1 = ingest(spark, wide)
    fact1 = star1["fact_ida"].cache()
    n1 = fact1.count()

    star2 = ingest(spark, wide, existing_fact=fact1)
    assert star2["fact_ida"].count() == 0  # everything already present
    assert fact1.count() == n1


def test_dims_and_key_resolution(spark, wide):
    from ida_dataengineerproject_spark.plans.etl import build_dims, ingest

    star = ingest(spark, wide)
    rec_n = _records(spark, wide).count()
    # every record resolved (all dims built from the same records → no drops)
    assert star["fact_ida"].count() == rec_n
    dims = build_dims(_records(spark, wide))
    assert dims["dim_servico"].count() == 2  # SMP, STFC
    grupos = {r.grupo_codigo for r in dims["dim_grupo_economico"].collect()}
    assert grupos == {"CLARO", "ACME TELECOM", "OI"}
    # surrogate keys unique
    assert (
        dims["dim_grupo_economico"].select("grupo_key").distinct().count()
        == dims["dim_grupo_economico"].count()
    )


def test_ingest_fact_keys_join_every_dim(spark, wide):
    """The fact's hashed keys are the dims' keys: every fact row of
    ``ingest`` inner-joins all four dims, so resolving keys by hash
    instead of by join loses no row."""
    from ida_dataengineerproject_spark.plans.etl import ingest

    star = ingest(spark, wide)
    fact = star["fact_ida"]
    n = fact.count()
    assert n == _records(spark, wide).count()
    joined = fact
    for dim, key in [
        ("dim_tempo", "tempo_key"),
        ("dim_grupo_economico", "grupo_key"),
        ("dim_servico", "servico_key"),
        ("dim_variavel", "variavel_key"),
    ]:
        joined = joined.join(star[dim].select(key), key)
    assert joined.count() == n


def test_fact_drops_null_natural_keys(spark, wide):
    """A record with a null natural key has no dim row (an inner join
    never matches null), so ``project_fact`` drops it, as the joins
    did."""
    from ida_dataengineerproject_spark.plans.etl import project_fact

    rec = _records(spark, wide)
    nulled = rec.withColumn(
        "servico",
        F.when(F.col("grupo_economico") == "OI", F.lit(None)).otherwise(
            F.col("servico")
        ),
    )
    assert project_fact(nulled).count() == rec.count() - 2


def test_silent_drop_on_missing_dim(spark, wide):
    """Records whose dim key is absent are silently dropped (inner-join
    semantics, etl_ida.py:550-551)."""
    from ida_dataengineerproject_spark.plans.etl import build_dims, load_fact

    rec = _records(spark, wide)
    dims = build_dims(rec)
    dims["dim_grupo_economico"] = dims["dim_grupo_economico"].filter(
        F.col("grupo_codigo") != "OI"
    )
    fact = load_fact(rec, dims)
    assert fact.count() == rec.count() - 2  # the two OI records dropped


def test_write_star_partitioned(spark, wide, tmp_path):
    from ida_dataengineerproject_spark.plans.etl import ingest, write_star

    star = ingest(spark, wide)
    write_star(star, str(tmp_path))
    fact = spark.read.parquet(str(tmp_path / "fact_ida"))
    assert fact.count() == star["fact_ida"].count()
    assert "ano" in fact.columns  # partition column survived


def test_ingest_rerun_is_idempotent(spark, wide, tmp_path):
    """Run-twice stability: re-ingesting the same sheets against the fact
    read back from parquet must add zero rows (ON CONFLICT DO NOTHING,
    etl_ida.py:534) and leave the written star row-count-stable."""
    from ida_dataengineerproject_spark.plans.etl import ingest, write_star

    star = ingest(spark, wide)
    write_star(star, str(tmp_path))
    fact1 = spark.read.parquet(str(tmp_path / "fact_ida"))
    n1 = fact1.count()

    rerun = ingest(spark, wide, existing_fact=fact1)
    assert rerun["fact_ida"].count() == 0

    # writing the (empty) delta plus existing content keeps counts stable
    assert fact1.unionByName(
        rerun["fact_ida"], allowMissingColumns=True
    ).count() == n1
