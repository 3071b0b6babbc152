#!/usr/bin/env python
"""ETL pipeline scale curves (VERDICT r10 #3).

SCALECURVES.json answers "does every QUERY survive 100x rows"; this
tool answers the same question for the reference's own import
lifecycle and the corpus-curation funnel — the surfaces that parse
bytes, not parquet. It synthesizes 1x/10x/100x fixture corpora (the
generation cost is NOT timed), drives each pipeline through its real
public entry point end-to-end (parse -> stage -> typed cast -> parquet
write), and records min-of-REPEATS wall time per size, after one
untimed warm-up call, plus time-ratio verdicts. Each pipeline's row is
merged into the record with its own load context, so a subset run
keeps the other pipelines' rows.

Pipelines covered:
- import_sirene   — staged single-archive path (driver unzip -> schema'd
                    splittable CSV scan -> try_cast -> ParquetSink); rows
                    scale 1/10/100x inside one zip.
- sirene_distributed — the many-archive S3 shape: read_zipped_csv_distributed
                    (binaryFile -> executor-side unzip+parse in
                    mapInPandas), archives scale 1/10/100x at fixed
                    rows-per-archive, so parallelism scales WITH the
                    data — the property that makes the path viable at
                    100 TB.
- import_fantoir  — fixed-width classified scan -> per-record-type
                    column slicing -> three parquet tables; record
                    groups scale 1/10/100x.
- import_deces    — fixed-width parse -> name/givens split -> array
                    pivot -> parquet; lines scale 1/10/100x.
- curate_corpus   — the full funnel (exact dedup -> scrub -> quality ->
                    PPS cap) over a salted replication of the sf0.1
                    documents table (salting keeps near-unique text so
                    the dedup stage does real work at every size).

Verdicts compare the x10/x100 TIME ratio to the DATA ratio: an ETL
job whose input rows grow 100x is allowed ~100x the work (LINEAR =
constant throughput); FLAT/SUBLINEAR means fixed overhead still
dominates at the top size; SUPERLINEAR (time ratio > 1.3x the data
ratio) fails loudly — that is the shape that dies at 100 TB.

Usage:
    python tools/etlscale.py            # all pipelines, 1/10/100x
    python tools/etlscale.py sirene fantoir   # subset
Env: SPARK_GRAFT_ETLSCALE (output JSON, default ETLSCALE.json),
     SPARK_GRAFT_ETL_REPEATS (default 2).
"""

from __future__ import annotations

import itertools
import json
import os
import shutil
import sys
import tempfile
import zipfile
from pathlib import Path

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPEATS = int(os.environ.get("SPARK_GRAFT_ETL_REPEATS", "2"))
RATIOS = (1, 10, 100)

DESSIN = """\
Nom,Libellé,Longueur,Type,Ordre
siren,Numéro SIREN,9,Texte,1
denominationUniteLegale,Dénomination,120,Texte,2
dateCreationUniteLegale,Date de création,10,Date,3
anneeEffectifs,Année,4,Date,4
nombrePeriodes,Périodes,2,Numérique,5
trancheEffectifs,Tranche,2,Texte,6
"""

PIPELINES = ("sirene", "sirene_distributed", "fantoir", "deces", "curate")
SF01_DOCS = "/root/testdata/sf0.1/documents.parquet"
SIRENE_BASE_ROWS = 5_000
DECES_BASE_ROWS = 10_000
FANTOIR_BASE_GROUPS = 2_000


def _sirene_csv(n_rows: int, salt: int = 0) -> str:
    out = [
        "siren,denominationUniteLegale,dateCreationUniteLegale,"
        "anneeEffectifs,nombrePeriodes,trancheEffectifs"
    ]
    for i in range(n_rows):
        k = i + salt * n_rows
        out.append(
            f"{100000000 + k},SOC {k % 977} ET FILS,"
            f"20{k % 20:02d}-0{1 + k % 9}-1{k % 9},"
            f"20{k % 25:02d},{k % 90},{k % 12:02d}"
        )
    return "\n".join(out) + "\n"


def _make_sirene_dir(base: Path, ratio: int) -> Path:
    d = base / f"sirene_x{ratio}"
    d.mkdir(parents=True)
    (d / "dessinstockunitelegale.csv").write_text(DESSIN, encoding="utf-8")
    with zipfile.ZipFile(
        d / "StockUniteLegale_utf8.zip", "w", zipfile.ZIP_DEFLATED
    ) as zf:
        zf.writestr("-", _sirene_csv(SIRENE_BASE_ROWS * ratio))
    return d


def _make_sirene_archives(base: Path, ratio: int) -> Path:
    d = base / f"sirene_dist_x{ratio}"
    d.mkdir(parents=True)
    (d / "dessinstockunitelegale.csv").write_text(DESSIN, encoding="utf-8")
    for a in range(ratio):
        with zipfile.ZipFile(
            d / f"part{a:04d}_utf8.zip", "w", zipfile.ZIP_DEFLATED
        ) as zf:
            zf.writestr("-", _sirene_csv(SIRENE_BASE_ROWS, salt=a))
    return d


def _pad(s: str, n: int) -> str:
    return s + " " * (n - len(s))


def _fantoir_place(placements, length=120) -> str:
    line = [" "] * length
    for start, value in placements:
        line[start - 1 : start - 1 + len(value)] = list(value)
    return "".join(line)


def _make_fantoir_file(base: Path, ratio: int) -> Path:
    p = base / f"fantoir_x{ratio}.txt"
    lines = [
        _fantoir_place(
            [(1, "\x00"), (12, "PROD CENTER X"), (37, "20240101"),
             (45, "2024AAA")]
        ),
        _fantoir_place([(1, "01"), (3, "0"), (12, "AIN")]),
    ]
    for g in range(FANTOIR_BASE_GROUPS * ratio):
        dep = f"{1 + g % 95:02d}"
        com = f"{1 + g % 999:03d}"
        lines.append(
            _fantoir_place(
                [
                    (1, dep), (3, "0"), (4, com), (11, "W"),
                    (12, f"COMMUNE {g % 100000}"), (43, "N"), (46, "3"),
                    (53, f"{g % 9999999:07d}"), (60, "0000000"),
                    (67, "0000000"), (75, "0000000"), (82, "1987001"),
                ]
            )
        )
        lines.append(
            _fantoir_place(
                [
                    (1, dep), (3, "0"), (4, com), (7, f"A{g % 999:03d}"),
                    (11, "W"), (12, "RUE"), (16, f"DES CHAMPS {g % 997}"),
                    (43, "N"), (46, "3"), (49, "0"), (60, "0000000"),
                    (67, "0000000"), (75, "0000000"), (82, "2001351"),
                    (104, f"{g % 99999:05d}"), (109, "2"),
                    (113, "CHAMPS"),
                ]
            )
        )
    lines.append("9999999999" + " " * 60)
    p.write_text("\n".join(lines) + "\n", encoding="latin-1")
    return p


def _deces_line(k: int) -> str:
    nom = f"NOM{k % 10007}"
    prenoms = f"PRENOM{k % 89} SECOND{k % 7}"
    name_field = _pad(f"{nom}*{prenoms}/", 80)
    return (
        name_field
        + str(1 + k % 2)
        + f"19{k % 100:02d}0{1 + k % 9}1{k % 3}"
        + _pad(f"{k % 95999:05d}", 5)
        + _pad(f"VILLE {k % 997}", 30)
        + _pad("FRANCE", 30)
        + f"20{k % 25:02d}0{1 + k % 9}15"
        + _pad("75056", 5)
        + _pad(str(k % 999999), 9)
    )


def _make_deces_file(base: Path, ratio: int) -> Path:
    p = base / f"deces_x{ratio}.txt"
    with open(p, "w", encoding="utf-8") as fh:
        for k in range(DECES_BASE_ROWS * ratio):
            fh.write(_deces_line(k) + "\n")
    return p


def _make_docs(spark, base: Path, ratio: int) -> str:
    """Salted replication of the sf0.1 documents table: doc_ids are
    remapped per replica and the text gets a per-replica suffix so the
    dedup/scrub stages keep near-unique inputs (pure replication would
    collapse in stage 1 and measure nothing)."""
    from pyspark.sql import functions as F

    out = str(base / f"docs_x{ratio}.parquet")
    docs = spark.read.parquet(SF01_DOCS)
    n = docs.count()
    reps = spark.range(ratio).withColumnRenamed("id", "rep")
    scaled = (
        docs.crossJoin(reps)
        .select(
            (F.col("doc_id") + F.col("rep") * F.lit(n)).alias("doc_id"),
            F.concat(
                F.col("text"), F.lit(" r"), F.col("rep").cast("string")
            ).alias("text"),
            "lang",
            "source",
            "n_chars",
        )
    )
    scaled.write.mode("overwrite").parquet(out)
    return out


def _verdict(time_ratio: float, data_ratio: int) -> str:
    if time_ratio <= 0.3 * data_ratio:
        return "FLAT/SUBLINEAR"
    if time_ratio <= 1.3 * data_ratio:
        return "LINEAR"
    return "SUPERLINEAR"


def main() -> int:
    from harness import load_context, merge_record, select, timed

    from datagouv_tools_spark.session import get_spark

    names = select(sys.argv[1:], PIPELINES)
    spark = get_spark("etlscale")
    spark.sparkContext.setLogLevel("ERROR")
    work = Path(tempfile.mkdtemp(prefix="etlscale_"))
    report: dict[str, dict] = {}

    def run(name: str, build_fixture, drive, rows_fn):
        if name not in names:
            return
        entry = {"sizes": {}, "repeats": REPEATS}
        for ratio in RATIOS:
            fixture = build_fixture(ratio)
            # every call writes a fresh dir, removed after the samples
            outs = work / f"{name}_x{ratio}"
            reps = itertools.count()
            secs = min(timed(
                lambda: drive(fixture, str(outs / f"rep{next(reps)}")), REPEATS
            ))
            shutil.rmtree(outs, ignore_errors=True)
            rows = rows_fn(ratio)
            entry["sizes"][f"x{ratio}"] = {
                "rows": rows,
                "secs_min": round(secs, 3),
                "rows_per_sec": int(rows / secs) if secs else None,
            }
            print(f"{name} x{ratio}: {rows} rows, {secs:.2f}s")
        t1 = entry["sizes"]["x1"]["secs_min"]
        for ratio in (10, 100):
            tr = entry["sizes"][f"x{ratio}"]["secs_min"] / t1
            entry[f"x{ratio}_time_ratio"] = round(tr, 2)
            entry[f"x{ratio}_verdict"] = _verdict(tr, ratio)
        report[name] = {**entry, "load_context": load_context()}
        print(
            f"{name}: x10 {entry['x10_time_ratio']} "
            f"({entry['x10_verdict']}), x100 {entry['x100_time_ratio']} "
            f"({entry['x100_verdict']})"
        )

    from datagouv_tools_spark.pipelines.deces import import_deces
    from datagouv_tools_spark.pipelines.fantoir import import_fantoir
    from datagouv_tools_spark.pipelines.sirene import import_sirene

    run(
        "sirene",
        lambda ratio: _make_sirene_dir(work, ratio),
        lambda fixture, out: import_sirene(
            spark, fixture, parquet_out=out,
            staging_dir=str(work / "stage_sirene"),
        ),
        lambda ratio: SIRENE_BASE_ROWS * ratio,
    )

    def drive_distributed(fixture, out):
        from datagouv_tools_spark.schema.dessin import SireneSchema
        from datagouv_tools_spark.schema.types import (
            PatchedSireneTypeConverter,
        )
        from datagouv_tools_spark.functions.names import to_snake
        from datagouv_tools_spark.sources.zipped_csv import (
            read_zipped_csv_distributed,
        )

        schema = SireneSchema.from_path(
            "stockunitelegale",
            Path(fixture) / "dessinstockunitelegale.csv",
        ).to_struct(PatchedSireneTypeConverter(), to_snake)
        df = read_zipped_csv_distributed(
            spark, str(Path(fixture) / "*_utf8.zip"), schema
        )
        df.write.mode("overwrite").parquet(out)

    run(
        "sirene_distributed",
        lambda ratio: _make_sirene_archives(work, ratio),
        drive_distributed,
        lambda ratio: SIRENE_BASE_ROWS * ratio,
    )

    run(
        "fantoir",
        lambda ratio: _make_fantoir_file(work, ratio),
        lambda fixture, out: import_fantoir(
            spark, fixture, parquet_out=out,
            staging_dir=str(work / "stage_fantoir"),
        ),
        lambda ratio: 2 * FANTOIR_BASE_GROUPS * ratio,
    )

    run(
        "deces",
        lambda ratio: _make_deces_file(work, ratio),
        lambda fixture, out: import_deces(spark, fixture, parquet_out=out),
        lambda ratio: DECES_BASE_ROWS * ratio,
    )

    def drive_curate(fixture, out):
        from datagouv_tools_spark.pipelines.curate import curate_corpus

        curate_corpus(spark.read.parquet(fixture), out)

    run(
        "curate",
        lambda ratio: _make_docs(spark, work, ratio),
        drive_curate,
        lambda ratio: spark.read.parquet(SF01_DOCS).count() * ratio,
    )

    # rows of pipelines this run did not select keep their last record
    merge_record(os.environ.get("SPARK_GRAFT_ETLSCALE", "ETLSCALE.json"), {
        "metric": "etl_scale_curves",
        "unit": "sec",
        "ratios": list(RATIOS),
        "pipelines": report,
    })
    print(json.dumps({k: {r: v for r, v in e.items() if "verdict" in r or "ratio" in str(r)} for k, e in report.items()}))
    shutil.rmtree(work, ignore_errors=True)
    bad = [
        n
        for n, e in report.items()
        if "SUPERLINEAR" in (e.get("x10_verdict"), e.get("x100_verdict"))
    ]
    if bad:
        print(f"SUPERLINEAR pipelines: {bad}")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
