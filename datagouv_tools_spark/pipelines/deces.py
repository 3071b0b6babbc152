"""INSEE deaths-file import pipeline (SURVEY §3.3; reference
fichier_personnes_decedees.py).

read.text → fixed-width slices → regex name split (C5) → sex decode
(C7) → lenient dates (C4) → prenoms array flattened to 8 columns (C6)
→ sink. Everything is JVM-side column expressions — no Python row loop.

Deliberate divergences from reference bugs (SURVEY §7.4): month is
month (not day-passed-twice), UNKNOWN sex is distinct from F, dates
parse correctly.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datagouv_tools_spark.functions.casts import lenient_date, lenient_date_struct
from datagouv_tools_spark.operators.flatten import flatten_array_to_columns
from datagouv_tools_spark.schema.ddl import DecesIndexProvider
from datagouv_tools_spark.schema.record_format import DECES_FORMAT
from datagouv_tools_spark.sinks.sink import ParquetSink, write_sql_table
from datagouv_tools_spark.sources.fixed_width import read_fixed_width

__all__ = ["import_deces", "deces_dataframe"]

#: name field regex (C5): 'SURNAME*GIVEN1 GIVEN2/' → (surname, givens)
NAME_PATTERN = r"^([^*]+)\*([^/]*)/?\s*$"
N_PRENOMS = 8


def deces_dataframe(
    spark: SparkSession, deces_path: str | Path, full: bool = False
) -> DataFrame:
    """Parse the deaths file. ``full=False`` keeps the reference's
    loaded projection (nom + prenom1..8); ``full=True`` adds the parsed
    sex/date/place columns the reference parses but drops."""
    raw = read_fixed_width(spark, deces_path, DECES_FORMAT, trim=True)
    name_col = F.col("nom_et_prenoms")
    nom = F.regexp_extract(name_col, NAME_PATTERN, 1)
    givens = F.filter(
        F.split(F.trim(F.regexp_extract(name_col, NAME_PATTERN, 2)), r"\s+"),
        lambda x: x != "",
    )
    df = raw.select(
        nom.alias("nom"),
        givens.alias("prenoms"),
        F.when(F.col("sexe") == "1", "M")
        .when(F.col("sexe") == "2", "F")
        .otherwise("UNKNOWN")
        .alias("sexe"),
        lenient_date_struct("date_de_naissance").alias("naissance"),
        lenient_date("date_de_naissance").alias("date_naissance"),
        F.col("code_du_lieu_de_naissance").alias("code_lieu_naissance"),
        F.col("commune_de_naissance").alias("commune_naissance"),
        F.col("pays_de_naissance").alias("pays_naissance"),
        lenient_date_struct("date_de_deces").alias("deces"),
        lenient_date("date_de_deces").alias("date_deces"),
        F.col("code_du_lieu_de_deces").alias("code_lieu_deces"),
        F.col("numero_dacte_de_deces").alias("numero_acte_deces"),
    )
    df = flatten_array_to_columns(df, "prenoms", N_PRENOMS, "prenom")
    if full:
        return df
    return df.select("nom", *[f"prenom{i}" for i in range(1, N_PRENOMS + 1)])


def import_deces(
    spark: SparkSession,
    deces_path: str | Path,
    rdbms: str = "sqlite",
    connection: object | None = None,
    parquet_out: str | None = None,
    dsn: str | None = None,
    bulk_copy: bool = True,
) -> list[str] | str:
    """Import the deaths table (reference loads only name columns).
    ``dsn`` + ``bulk_copy`` enable the live-PostgreSQL COPY path (see
    sinks/sink.write_sql_table)."""
    df = deces_dataframe(spark, deces_path, full=False)
    if parquet_out:
        return ParquetSink(parquet_out).write(df, "deces")
    statements = write_sql_table(
        df, "deces", rdbms, DecesIndexProvider(), connection, dsn, bulk_copy
    )
    return "ok" if statements is None else statements
