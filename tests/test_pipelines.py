"""End-to-end pipeline tests on synthesized fixtures (SURVEY §5 pattern:
reduced realistic inputs + golden assertions + dry-run seam)."""

from __future__ import annotations

import zipfile

import pytest
from pyspark.sql import functions as F

from datagouv_tools_spark.functions.casts import strict_boolean
from datagouv_tools_spark.functions.lookup import code_voie, nature_voie
from datagouv_tools_spark.pipelines.deces import deces_dataframe, import_deces
from datagouv_tools_spark.pipelines.fantoir import fantoir_tables, import_fantoir
from datagouv_tools_spark.pipelines.sirene import import_sirene
from datagouv_tools_spark.sources.fixed_width import read_fantoir

# --- synthesized SIRENE fixture -------------------------------------------

DESSIN = """\
Nom,Libellé,Longueur,Type,Ordre
siren,Numéro SIREN,9,Texte,1
dateCreationUniteLegale,Date de création,10,Date,2
anneeEffectifs,Année,4,Date,3
nombrePeriodes,Périodes,2,Numérique,4
"""

DATA_CSV = """\
siren,dateCreationUniteLegale,anneeEffectifs,nombrePeriodes
123456789,2001-05-04,2020,3
987654321,,1999,x
"""


@pytest.fixture()
def sirene_dir(tmp_path):
    d = tmp_path / "sirene"
    d.mkdir()
    (d / "dessinstockunitelegale.csv").write_text(DESSIN, encoding="utf-8")
    with zipfile.ZipFile(d / "StockUniteLegale_utf8.zip", "w") as zf:
        zf.writestr("-", DATA_CSV)
    # a zip with no dessin: must be warned + skipped (F4)
    with zipfile.ZipFile(d / "Orphan_utf8.zip", "w") as zf:
        zf.writestr("-", "a,b\n1,2\n")
    return d


def test_import_sirene_parquet(spark, sirene_dir, tmp_path):
    out = import_sirene(spark, sirene_dir, parquet_out=str(tmp_path / "lake"))
    assert set(out) == {"stock_unite_legale"}  # orphan skipped
    df = spark.read.parquet(out["stock_unite_legale"])
    assert df.columns == [
        "siren",
        "date_creation_unite_legale",
        "annee_effectifs",
        "nombre_periodes",
    ]
    rows = {r["siren"]: r for r in df.collect()}
    assert str(rows["123456789"]["date_creation_unite_legale"]) == "2001-05-04"
    assert rows["123456789"]["annee_effectifs"] == "2020"  # Date(4) patched to text
    assert rows["123456789"]["nombre_periodes"] == 3
    assert rows["987654321"]["date_creation_unite_legale"] is None  # empty → null
    assert rows["987654321"]["nombre_periodes"] is None  # 'x' → try_cast null


def test_import_sirene_dry_run_statements(spark, sirene_dir):
    out = import_sirene(spark, sirene_dir, rdbms="pg")
    stmts = out["stock_unite_legale"]
    assert stmts[0] == 'DROP TABLE IF EXISTS "stock_unite_legale__staging"'
    assert stmts[1].startswith('CREATE TABLE "stock_unite_legale__staging" (')
    assert "-- Numéro SIREN" in stmts[1]
    assert 'TRUNCATE "stock_unite_legale__staging"' in stmts
    assert any(s.startswith('COPY "stock_unite_legale__staging" FROM STDIN') for s in stmts)
    assert 'ANALYZE "stock_unite_legale__staging"' in stmts
    # index created after load, then commit
    create_idx = next(i for i, s in enumerate(stmts) if s.startswith("CREATE INDEX"))
    copy_pos = next(i for i, s in enumerate(stmts) if s.startswith("COPY"))
    assert create_idx > copy_pos
    assert (
        'CREATE INDEX "siren_stock_unite_legale__staging_idx" '
        'ON "stock_unite_legale__staging" USING hash ("siren")'
    ) in stmts
    assert (
        'ALTER INDEX "siren_stock_unite_legale__staging_idx" '
        'RENAME TO "siren_stock_unite_legale_idx"'
    ) in stmts
    assert stmts[-1] == "COMMIT"


# --- synthesized FANTOIR fixture ------------------------------------------


def _pad(s: str, n: int) -> str:
    return s + " " * (n - len(s))


def make_line(placements: list[tuple[int, str]], length: int = 120) -> str:
    """Place values at 1-based start positions on a blank line."""
    line = [" "] * length
    for start, value in placements:
        line[start - 1 : start - 1 + len(value)] = list(value)
    return "".join(line)


def build_fantoir_lines() -> list[str]:
    header = make_line([(1, "\x00"), (12, "PROD CENTER X"), (37, "20240101"), (45, "2024AAA")])
    direction = make_line([(1, "01"), (3, "0"), (12, "AIN")])  # byte 4 blank
    commune = make_line(
        [
            (1, "01"), (3, "0"), (4, "001"), (11, "W"),
            (12, "L'ABERGEMENT-CLEMENCIAT"), (43, "N"), (46, "3"),
            (53, "0000825"), (60, "0000000"), (67, "0000000"),
            (75, "0000000"), (82, "1987001"),
        ]
    )  # byte 4 = '0' (non-blank), byte 8 blank → commune
    voie = make_line(
        [
            (1, "01"), (3, "0"), (4, "001"), (7, "A008"), (11, "W"),
            (12, "LOT"), (16, "BELLEVUE"), (43, "N"), (46, "3"), (49, "0"),
            (60, "0000000"), (67, "0000000"), (75, "0000000"),
            (82, "2001351"), (104, "00059"), (109, "2"), (113, "BELLEVUE"),
        ]
    )
    trailer = "9999999999" + " " * 60
    return [header, direction, commune, voie, trailer]


@pytest.fixture()
def fantoir_file(tmp_path):
    p = tmp_path / "fantoir.txt"
    p.write_text("\n".join(build_fantoir_lines()) + "\n", encoding="latin-1")
    return p


def test_fantoir_classification(spark, fantoir_file):
    classified = read_fantoir(spark, fantoir_file)
    got = {r["record_type"] for r in classified.select("record_type").collect()}
    assert got == {"header", "direction", "commune", "voie"}
    assert classified.count() == 4  # trailer dropped


def test_fantoir_tables(spark, fantoir_file):
    tables = fantoir_tables(spark, fantoir_file)
    d = tables["direction"].collect()[0]
    assert d["code_departement"] == "01"
    assert d["libelle_direction"] == "AIN"
    c = tables["commune"].collect()[0]
    assert c["libelle_commune"] == "L'ABERGEMENT-CLEMENCIAT"
    assert c["population_reelle"] == "0000825"
    v = tables["voie"].collect()[0]
    assert v["code_nature_de_voie"] == "LOT"
    assert v["libelle_voie"] == "BELLEVUE"
    assert v["dernier_mot_entierement_alphabetique_du_libelle_de_la_voie"] == "BELLEVUE"


def test_import_fantoir_dry_run(spark, fantoir_file):
    out = import_fantoir(spark, fantoir_file)
    assert set(out) == {"direction", "commune", "voie"}  # header not loaded
    assert out["voie"][0] == 'DROP TABLE IF EXISTS "voie__staging"'
    assert any("CREATE TABLE" in s for s in out["commune"])


def test_import_fantoir_zipped(spark, fantoir_file, tmp_path):
    zpath = tmp_path / "fantoir.zip"
    with zipfile.ZipFile(zpath, "w") as zf:
        zf.writestr("-", fantoir_file.read_text(encoding="latin-1"))
    out = import_fantoir(spark, zpath, parquet_out=str(tmp_path / "lake"), staging_dir=str(tmp_path / "stage"))
    df = spark.read.parquet(out["voie"])
    assert df.count() == 1


def test_dispatch_by_filtered_and_staged_agree_on_fantoir(spark, fantoir_file, tmp_path):
    """D1/D2: the ``filtered`` views of one scan and the ``staged``
    partitionBy write + pruned reads give the same rows per record
    type, each route holding exactly its own lines."""
    from datagouv_tools_spark.operators.dispatch import dispatch_by
    from datagouv_tools_spark.schema.record_format import FANTOIR_FORMATS

    classified = read_fantoir(spark, fantoir_file)
    routes = list(FANTOIR_FORMATS)
    filtered = dispatch_by(classified, F.col("record_type"), routes)
    staged = dispatch_by(
        classified, F.col("record_type"), routes,
        strategy="staged", staging_path=str(tmp_path / "stage"),
    )
    for route in routes:
        rows = sorted(map(tuple, filtered[route].collect()))
        assert rows == sorted(map(tuple, staged[route].collect())), route
        assert [r[1] for r in rows] == [route]
    assert filtered["voie"].columns == staged["voie"].columns == ["value", "record_type"]


def test_import_fantoir_releases_its_cache(spark, fantoir_file, tmp_path):
    """The classified scan the three table writes share is unpersisted
    once they are written: an import leaves no cached copy of the file
    behind for the rest of the session."""

    def cached():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    before = cached()
    out = import_fantoir(spark, fantoir_file, parquet_out=str(tmp_path / "lake"))
    assert set(out) == {"direction", "commune", "voie"}
    assert cached() == before


def test_zipped_imports_remove_their_unzip_dirs(spark, sirene_dir, fantoir_file, tmp_path, monkeypatch):
    """An import given no ``staging_dir`` unzips into a temp dir of its
    own and removes it once its tables are written (or its dry-run
    statements rendered); a caller's ``staging_dir`` is kept."""
    import tempfile

    temp = tmp_path / "temp"
    temp.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(temp))
    zpath = tmp_path / "fantoir.zip"
    with zipfile.ZipFile(zpath, "w") as zf:
        zf.writestr("-", fantoir_file.read_text(encoding="latin-1"))

    assert "stock_unite_legale" in import_sirene(spark, sirene_dir, rdbms="pg")
    out = import_fantoir(spark, zpath, parquet_out=str(tmp_path / "lake"))
    assert spark.read.parquet(out["voie"]).count() == 1
    assert sorted(p.name for p in temp.glob("*_staging_*")) == []

    kept = tmp_path / "kept"
    import_fantoir(spark, zpath, staging_dir=str(kept))
    assert (kept / "fantoir.txt").exists()


def test_nature_voie_lookup(spark):
    df = spark.createDataFrame([("RUE",), ("ACH",), ("XXX",)], ["code"])
    got = {r["code"]: r["label"] for r in df.select("code", nature_voie("code").alias("label")).collect()}
    assert got["ACH"] == "ANCIEN CHEMIN"
    assert got["XXX"] == "XXX"  # fall-through to input
    inv = spark.createDataFrame([("ANCIEN CHEMIN",)], ["label"])
    assert inv.select(code_voie("label").alias("c")).collect()[0]["c"] == "ACH"


# --- synthesized deces fixture --------------------------------------------


def build_deces_line(
    nom="DUPONT",
    prenoms="JEAN MARIE PIERRE",
    sexe="1",
    naissance="19400000",
    deces="20200115",
) -> str:
    name_field = _pad(f"{nom}*{prenoms}/", 80)
    return (
        name_field
        + sexe
        + naissance
        + _pad("75056", 5)
        + _pad("PARIS", 30)
        + _pad("FRANCE", 30)
        + deces
        + _pad("75056", 5)
        + _pad("123", 9)
    )


@pytest.fixture()
def deces_file(tmp_path):
    lines = [
        build_deces_line(),
        build_deces_line(nom="MARTIN", prenoms="ANNE", sexe="2", naissance="19551231", deces="20210601"),
        build_deces_line(nom="NOPRENOM", prenoms="", sexe="9", naissance="00000000"),
    ]
    p = tmp_path / "deces.txt"
    p.write_text("\n".join(lines) + "\n", encoding="utf-8")
    return p


def test_deces_dataframe_full(spark, deces_file):
    df = deces_dataframe(spark, deces_file, full=True)
    rows = {r["nom"]: r for r in df.collect()}
    jean = rows["DUPONT"]
    assert jean["prenom1"] == "JEAN" and jean["prenom3"] == "PIERRE" and jean["prenom4"] is None
    assert jean["sexe"] == "M"
    # lenient date: partial 19400000 keeps (1940, 0, 0), null DateType view
    assert jean["naissance"]["year"] == 1940 and jean["naissance"]["month"] == 0
    assert jean["date_naissance"] is None
    assert str(jean["date_deces"]) == "2020-01-15"
    anne = rows["MARTIN"]
    assert anne["sexe"] == "F" and str(anne["date_naissance"]) == "1955-12-31"
    unk = rows["NOPRENOM"]
    assert unk["sexe"] == "UNKNOWN" and unk["prenom1"] is None


def test_import_deces_loaded_projection(spark, deces_file):
    stmts = import_deces(spark, deces_file, rdbms="pg")
    create = next(s for s in stmts if s.startswith("CREATE TABLE"))
    # reference loads only nom + prenom1..8 (9 string columns)
    for col in ["nom"] + [f"prenom{i}" for i in range(1, 9)]:
        assert f'"{col}"' in create
    assert 'CREATE INDEX "nom_deces__staging_idx" ON "deces__staging" USING hash ("nom")' in stmts
    assert 'ALTER INDEX "nom_deces__staging_idx" RENAME TO "nom_deces_idx"' in stmts


# --- strict boolean (C2) ---------------------------------------------------


def test_strict_boolean(spark):
    df = spark.createDataFrame(
        [("on",), ("Off",), ("1",), ("no",), ("maybe",), (None,)], ["v"]
    )
    got = [r["b"] for r in df.select(strict_boolean("v").alias("b")).collect()]
    assert got == [True, False, True, False, None, None]


def test_read_zipped_csv_distributed(spark, sirene_dir):
    from datagouv_tools_spark.schema.dessin import SireneSchema
    from datagouv_tools_spark.sources.zipped_csv import read_zipped_csv_distributed
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("siren", T.StringType()),
            T.StructField("dateCreationUniteLegale", T.StringType()),
            T.StructField("anneeEffectifs", T.StringType()),
            T.StructField("nombrePeriodes", T.StringType()),
        ]
    )
    df = read_zipped_csv_distributed(
        spark, str(sirene_dir / "StockUniteLegale_utf8.zip"), schema
    )
    rows = {r["siren"]: r for r in df.collect()}
    assert set(rows) == {"123456789", "987654321"}
    assert rows["123456789"]["dateCreationUniteLegale"] == "2001-05-04"
    # empty CSV field arrives as empty string pre-cast (PERMISSIVE parity)
    assert rows["987654321"]["dateCreationUniteLegale"] == ""


# --- end-to-end sqlite load (K4/K6 executed, not just rendered) -----------


def test_import_sirene_sqlite_end_to_end(spark, sirene_dir, tmp_path):
    """The one reference sink that needs no server (reference
    sql/sqlite.py:58-68 runs its tests live): drop/create/insert/index
    against a real sqlite file, then read the rows back."""
    import sqlite3

    con = sqlite3.connect(tmp_path / "sirene.db")
    try:
        out = import_sirene(spark, sirene_dir, rdbms="sqlite", connection=con)
        assert out == {"stock_unite_legale": "loaded"}
        rows = con.execute(
            "SELECT siren, date_creation_unite_legale, nombre_periodes "
            "FROM stock_unite_legale ORDER BY siren"
        ).fetchall()
        assert rows == [
            ("123456789", "2001-05-04", 3),
            ("987654321", None, None),  # dirty 'x' -> NULL via try_cast
        ]
        # index-after-load actually exists in the catalog
        indices = {
            r[0]
            for r in con.execute(
                "SELECT name FROM sqlite_master WHERE type = 'index'"
            ).fetchall()
        }
        assert any("srn" in ix or "siren" in ix for ix in indices), indices
    finally:
        con.close()


def test_import_fantoir_sqlite_end_to_end(spark, fantoir_file, tmp_path):
    import sqlite3

    con = sqlite3.connect(tmp_path / "fantoir.db")
    try:
        out = import_fantoir(spark, fantoir_file, rdbms="sqlite", connection=con)
        assert set(out.values()) == {"loaded"}
        n_commune = con.execute("SELECT COUNT(*) FROM commune").fetchone()[0]
        n_voie = con.execute("SELECT COUNT(*) FROM voie").fetchone()[0]
        assert (n_commune, n_voie) == (1, 1)
        libelle = con.execute("SELECT libelle_voie FROM voie").fetchone()[0]
        assert libelle == "BELLEVUE"
    finally:
        con.close()


def test_import_deces_sqlite_end_to_end(spark, deces_file, tmp_path):
    import sqlite3

    con = sqlite3.connect(tmp_path / "deces.db")
    try:
        assert import_deces(spark, deces_file, rdbms="sqlite", connection=con) == "ok"
        noms = [r[0] for r in con.execute("SELECT nom FROM deces ORDER BY nom")]
        assert noms == ["DUPONT", "MARTIN", "NOPRENOM"]
    finally:
        con.close()


# --- CLI entry point (reference dg_tools_script.py parity) ----------------


def test_cli_dry_run_prints_statements(spark, sirene_dir, capsys):
    from datagouv_tools_spark.__main__ import main

    rc = main(["-s", "sirene", "-r", "pg", "-p", str(sirene_dir), "--dry-run"])
    out = capsys.readouterr().out
    assert rc == 0
    assert "-- stock_unite_legale" in out
    assert 'CREATE TABLE "stock_unite_legale__staging"' in out
    assert "COPY" in out  # pg bulk path rendered


def test_cli_sqlite_load(spark, sirene_dir, tmp_path, capsys):
    import sqlite3

    from datagouv_tools_spark.__main__ import main

    db = tmp_path / "cli.db"
    rc = main(["-s", "sirene", "-r", "sqlite", "--database", str(db), "-p", str(sirene_dir)])
    assert rc == 0
    assert "stock_unite_legale: loaded" in capsys.readouterr().out
    con = sqlite3.connect(db)
    try:
        assert con.execute("SELECT COUNT(*) FROM stock_unite_legale").fetchone()[0] == 2
    finally:
        con.close()


def test_cli_parquet_out(spark, fantoir_file, tmp_path, capsys):
    from datagouv_tools_spark.__main__ import main

    rc = main(["-s", "fantoir", "-p", str(fantoir_file), "--parquet-out", str(tmp_path / "lake")])
    assert rc == 0
    assert (tmp_path / "lake" / "voie").exists()


def test_cli_requires_database_without_dry_run(spark, sirene_dir, capsys):
    from datagouv_tools_spark.__main__ import main

    rc = main(["-s", "sirene", "-p", str(sirene_dir)])
    assert rc == 2
    assert "--database is required" in capsys.readouterr().err


# --- JSONL corpus source ---------------------------------------------------


def test_read_jsonl_clean_and_quarantine(spark, tmp_path):
    from datagouv_tools_spark.sources.jsonl import read_jsonl, split_corrupt

    p = tmp_path / "corpus.jsonl"
    p.write_text(
        '{"doc_id": 1, "source": "web", "lang": "en", "text": "hello world"}\n'
        '{"doc_id": 2, "source": "web", "lang": "fr", "text": "bonjour"}\n'
        "{this is not json at all\n"
        '{"doc_id": 4, "source": "book", "lang": "en", "text": "fin"}\n',
        encoding="utf-8",
    )
    clean, quarantine = split_corrupt(read_jsonl(spark, str(p)))
    rows = {r["doc_id"]: r for r in clean.collect()}
    assert set(rows) == {1, 2, 4}
    assert rows[2]["lang"] == "fr"
    assert "_corrupt_record" not in clean.columns
    bad = quarantine.collect()
    assert len(bad) == 1 and bad[0]["raw_line"].startswith("{this is not")


def test_read_jsonl_feeds_text_analytics(spark, tmp_path):
    """The JSONL path must compose with the text operators exactly like
    the parquet documents table (same schema, same expressions)."""
    from datagouv_tools_spark.functions.text import fingerprint_md5, token_count
    from datagouv_tools_spark.sources.jsonl import read_jsonl, split_corrupt

    p = tmp_path / "c.jsonl"
    p.write_text(
        '{"doc_id": 1, "source": "s", "lang": "en", "text": "a b  a"}\n'
        '{"doc_id": 2, "source": "s", "lang": "en", "text": " a b a "}\n',
        encoding="utf-8",
    )
    clean, _ = split_corrupt(read_jsonl(spark, str(p)))
    out = {
        r["doc_id"]: (r["n"], r["fp"])
        for r in clean.select(
            "doc_id", token_count("text").alias("n"), fingerprint_md5("text").alias("fp")
        ).collect()
    }
    assert out[1][0] == 3 and out[2][0] == 3
    assert out[1][1] == out[2][1]  # whitespace-normalized fingerprint matches


def test_cli_deces_sqlite(spark, deces_file, tmp_path, capsys):
    import sqlite3

    from datagouv_tools_spark.__main__ import main

    db = tmp_path / "deces_cli.db"
    rc = main(["-s", "deces", "-r", "sqlite", "--database", str(db), "-p", str(deces_file)])
    assert rc == 0
    con = sqlite3.connect(db)
    try:
        assert con.execute("SELECT COUNT(*) FROM deces").fetchone()[0] == 3
    finally:
        con.close()


def test_import_sirene_orc_end_to_end_keeps_pushdown(spark, sirene_dir, tmp_path):
    """SIRENE staged through an ORC-backed lake (ParquetSink fmt="orc")
    must serve queries with the same plan guarantees as parquet: the
    filter reaches the ORC scan as a pushed predicate and the ReadSchema
    is pruned to the selected columns."""
    from pyspark.sql import functions as F

    from datagouv_tools_spark.plans.inspect import pushed_filters, read_schemas
    from datagouv_tools_spark.sources.formats import read_table

    out = import_sirene(
        spark, sirene_dir, parquet_out=str(tmp_path / "lake"), out_format="orc"
    )
    assert set(out) == {"stock_unite_legale"}
    path = out["stock_unite_legale"]
    import glob

    assert glob.glob(path + "/*.orc"), "expected ORC data files"
    df = read_table(spark, path, fmt="orc")
    q = df.filter(F.col("siren") == "123456789").select("siren", "nombre_periodes")
    rows = q.collect()
    assert len(rows) == 1 and rows[0]["nombre_periodes"] == 3
    assert any("siren" in f for f in pushed_filters(q))
    schemas = read_schemas(q)
    assert len(schemas) == 1
    assert "date_creation_unite_legale" not in schemas[0]  # pruned


def test_import_sirene_live_postgres_bulk_copy(spark, sirene_dir, pg_dsn):
    """The reference's bulk_copy=True path, executed against a real
    PostgreSQL server: DDL phases (drop/create), distributed COPY FROM
    STDIN data load, ANALYZE, and post-load hash index on siren — then
    the loaded rows must match the source exactly (including the
    empty-vs-NULL distinction the COPY CSV framing preserves)."""
    from datagouv_tools_spark.sinks.pg_copy import _connect

    out = import_sirene(spark, sirene_dir, rdbms="pg", dsn=pg_dsn, bulk_copy=True)
    assert out == {"stock_unite_legale": "loaded"}

    conn = _connect(pg_dsn)
    try:
        cur = conn.cursor()
        cur.execute(
            "SELECT siren, date_creation_unite_legale, annee_effectifs, "
            'nombre_periodes FROM "stock_unite_legale" ORDER BY siren'
        )
        got = [tuple(str(v) if v is not None else None for v in r) for r in cur.fetchall()]
        cur.execute(
            "SELECT indexname FROM pg_indexes "
            "WHERE tablename = 'stock_unite_legale'"
        )
        indexes = {r[0] for r in cur.fetchall()}
        cur.execute("SELECT indexname FROM pg_indexes UNION ALL SELECT tablename FROM pg_tables")
        staged = [r[0] for r in cur.fetchall() if "__staging" in r[0]]
        cur.close()
        conn.commit()
    finally:
        conn.close()
    from decimal import Decimal

    # nombre_periodes is a numeric column (dessin type Numérique):
    # compare as Decimal so scale representation doesn't matter
    norm = [
        (r[0], r[1], r[2], Decimal(r[3]) if r[3] is not None else None)
        for r in got
    ]
    assert norm == [
        ("123456789", "2001-05-04", "2020", Decimal(3)),
        ("987654321", None, "1999", None),  # '' date -> NULL, 'x' -> NULL
    ]
    assert indexes == {"siren_stock_unite_legale_idx"}, indexes
    assert staged == []


def test_import_fantoir_live_postgres_bulk_copy(spark, fantoir_file, pg_dsn):
    """FANTOIR's multi-record demux loaded live: all three record-type
    tables land in PostgreSQL through the COPY fast path with their
    DDL, and the row contents survive."""
    from datagouv_tools_spark.sinks.pg_copy import _connect

    out = import_fantoir(spark, fantoir_file, rdbms="pg", dsn=pg_dsn, bulk_copy=True)
    assert out == {"direction": "loaded", "commune": "loaded", "voie": "loaded"}
    conn = _connect(pg_dsn)
    try:
        cur = conn.cursor()
        counts = {}
        for tbl in ("direction", "commune", "voie"):
            cur.execute(f'SELECT COUNT(*) FROM "{tbl}"')
            counts[tbl] = int(cur.fetchall()[0][0])
            cur.execute(f'DROP TABLE "{tbl}"')
        cur.close()
        conn.commit()
    finally:
        conn.close()
    assert counts == {"direction": 1, "commune": 1, "voie": 1}


def test_import_deces_live_postgres_bulk_copy(spark, deces_file, pg_dsn):
    """Deaths pipeline live: fixed-width parse -> name columns -> COPY
    into PostgreSQL with the DecesIndexProvider's post-load hash index."""
    from datagouv_tools_spark.sinks.pg_copy import _connect

    out = import_deces(spark, deces_file, rdbms="pg", dsn=pg_dsn, bulk_copy=True)
    assert out == "ok"
    conn = _connect(pg_dsn)
    try:
        cur = conn.cursor()
        cur.execute('SELECT nom, prenom1 FROM "deces" ORDER BY nom')
        rows = [tuple(r) for r in cur.fetchall()]
        cur.execute(
            "SELECT indexname FROM pg_indexes WHERE tablename = 'deces'"
        )
        indexes = {r[0] for r in cur.fetchall()}
        cur.execute('DROP TABLE "deces"')
        cur.close()
        conn.commit()
    finally:
        conn.close()
    assert ("DUPONT", "JEAN") in rows
    assert indexes == {"nom_deces_idx"}, indexes


def test_cli_dsn_live_postgres(spark, fantoir_file, pg_dsn, capsys):
    """The console entry point's --dsn flag runs the whole import
    against a live server through the COPY fast path."""
    from datagouv_tools_spark.__main__ import main
    from datagouv_tools_spark.sinks.pg_copy import _connect

    rc = main(["-s", "fantoir", "-p", str(fantoir_file), "--dsn", pg_dsn])
    assert rc == 0
    assert "voie: loaded" in capsys.readouterr().out
    conn = _connect(pg_dsn)
    try:
        cur = conn.cursor()
        cur.execute('SELECT COUNT(*) FROM "voie"')
        assert [int(r[0]) for r in cur.fetchall()] == [1]
        for tbl in ("direction", "commune", "voie"):
            cur.execute(f'DROP TABLE "{tbl}"')
        cur.close()
        conn.commit()
    finally:
        conn.close()


def test_cli_pg_database_loads_through_copy_live(
    spark, fantoir_file, pg_dsn, monkeypatch, capsys
):
    """The reference's invocation ``-r pg --database db`` loads through
    the distributed COPY on whatever transport is installed (here the
    psql CLI), with host, port and user from PGHOST/PGPORT/PGUSER."""
    from urllib.parse import urlsplit

    from datagouv_tools_spark.__main__ import main
    from datagouv_tools_spark.sinks import pg_copy

    url = urlsplit(pg_dsn)
    monkeypatch.setenv("PGHOST", url.hostname)
    monkeypatch.setenv("PGPORT", str(url.port))
    monkeypatch.setenv("PGUSER", url.username)
    if url.password:
        monkeypatch.setenv("PGPASSWORD", url.password)
    copied = []
    copy_dataframe = pg_copy.copy_dataframe

    def spy(df, dsn, table, *args):
        copied.append(table)
        return copy_dataframe(df, dsn, table, *args)

    monkeypatch.setattr(pg_copy, "copy_dataframe", spy)
    database = url.path.lstrip("/")
    rc = main(["-s", "fantoir", "-r", "pg", "--database", database, "-p", str(fantoir_file)])
    assert rc == 0
    assert "voie: loaded" in capsys.readouterr().out
    assert sorted(copied) == ["commune__staging", "direction__staging", "voie__staging"]
    conn = pg_copy._connect(pg_dsn)
    try:
        cur = conn.cursor()
        cur.execute('SELECT COUNT(*) FROM "voie"')
        assert [int(r[0]) for r in cur.fetchall()] == [1]
        for tbl in ("direction", "commune", "voie"):
            cur.execute(f'DROP TABLE "{tbl}"')
        cur.close()
        conn.commit()
    finally:
        conn.close()


def test_dsn_without_bulk_copy_keeps_existing_table_live(spark, deces_file, pg_dsn):
    """``bulk_copy=False`` loads by DB-API ``executemany``, which the
    psql CLI transport cannot run. The import must refuse before its
    DROP TABLE: the table already there keeps its rows."""
    from datagouv_tools_spark.sinks.pg_copy import PsqlCliConnection, _connect

    conn = _connect(pg_dsn)
    if not isinstance(conn, PsqlCliConnection):
        conn.close()
        pytest.skip("a DB-API driver is installed: bulk_copy=False can load")
    cur = conn.cursor()
    try:
        cur.execute('DROP TABLE IF EXISTS "deces"')
        cur.execute('CREATE TABLE "deces" (nom text)')
        cur.execute("""INSERT INTO "deces" VALUES ('KEEP')""")
        conn.commit()
        with pytest.raises(ValueError, match="psql CLI transport"):
            import_deces(spark, deces_file, rdbms="pg", dsn=pg_dsn, bulk_copy=False)
        cur.execute('SELECT nom FROM "deces"')
        assert [r[0] for r in cur.fetchall()] == ["KEEP"]
    finally:
        cur.execute('DROP TABLE IF EXISTS "deces"')
        conn.commit()
        conn.close()


def test_pipelines_load_only_through_write_sql_table():
    """The SQL sink step has one owner, ``sinks/sink.write_sql_table``:
    no import pipeline and not the CLI builds a ``SqlSink`` or an
    executor, or opens a PostgreSQL connection of its own."""
    import ast
    import pathlib

    import datagouv_tools_spark

    pkg = pathlib.Path(datagouv_tools_spark.__file__).parent
    owned = {"SqlSink", "DbApiExecutor", "DryRunExecutor"}
    found = []
    for path in [*sorted((pkg / "pipelines").glob("*.py")), pkg / "__main__.py"]:
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Call):
                func = node.func
                name = func.attr if isinstance(func, ast.Attribute) else getattr(func, "id", "")
                if name in owned:
                    found.append(f"{path.name}: calls {name}")
            elif isinstance(node, ast.ImportFrom) and (node.module or "").endswith("pg_copy"):
                found += [f"{path.name}: imports _connect" for a in node.names if a.name == "_connect"]
            elif isinstance(node, ast.Attribute) and node.attr == "_connect":
                found.append(f"{path.name}: uses ._connect")
    assert found == []


class TestCurateCorpus:
    """End-to-end curation pipeline (pipelines/curate.py): funnel
    monotonicity, determinism, and the semantics of each stage on the
    real testdata corpus."""

    @pytest.fixture(scope="class")
    def result(self, spark, sf_dir, tmp_path_factory):
        from datagouv_tools_spark.pipelines.curate import curate_corpus
        from datagouv_tools_spark.sources.catalog import load_table

        out = str(tmp_path_factory.mktemp("curate") / "corpus")
        docs = load_table(spark, sf_dir, "documents")
        report = curate_corpus(docs, out)
        return report, out

    def test_funnel_monotone(self, result):
        r, _ = result
        assert (
            r.n_input
            >= r.n_after_exact_dedup
            >= r.n_after_scrub
            >= r.n_after_quality
            == sum(r.split_counts.values())
        )
        assert r.n_after_quality > 0

    def test_output_partitioned_by_split(self, spark, result):
        _, out = result
        df = spark.read.parquet(out)
        assert set(df.select("split").distinct().toPandas()["split"]) <= {
            "train", "val", "test"
        }
        assert {"doc_id", "text", "source", "lang", "split"} <= set(df.columns)

    def test_rerun_is_deterministic(self, spark, sf_dir, result, tmp_path):
        from datagouv_tools_spark.pipelines.curate import curate_corpus
        from datagouv_tools_spark.sources.catalog import load_table

        r1, out1 = result
        out2 = str(tmp_path / "corpus2")
        r2 = curate_corpus(load_table(spark, sf_dir, "documents"), out2)
        assert r1 == r2
        a = sorted(
            map(tuple, spark.read.parquet(out1).select("doc_id", "text", "split").collect())
        )
        b = sorted(
            map(tuple, spark.read.parquet(out2).select("doc_id", "text", "split").collect())
        )
        assert a == b

    def test_scrub_stage_removed_repeated_segments(self, spark, result):
        """At least one surviving document was actually rewritten (the
        corpus has cross-doc repeated segments at sf0.001)."""
        _, out = result
        from datagouv_tools_spark.sources.catalog import load_table

        cur = spark.read.parquet(out).select("doc_id", F.col("text").alias("t2"))
        orig = load_table(spark, "/root/testdata/sf0.001", "documents").select(
            "doc_id", "text"
        )
        changed = cur.join(orig, "doc_id").filter(F.col("t2") != F.col("text"))
        assert changed.count() > 0


def test_cli_curate(spark, tmp_path, capsys):
    """-s curate runs the curation funnel over a documents parquet and
    writes the split-partitioned corpus to --parquet-out."""
    from datagouv_tools_spark.__main__ import main

    out = str(tmp_path / "curated")
    rc = main(
        [
            "-s", "curate",
            "-p", "/root/testdata/sf0.001/documents.parquet",
            "--parquet-out", out,
        ]
    )
    assert rc == 0
    printed = capsys.readouterr().out
    assert "input: 500" in printed and "quality:" in printed
    assert spark.read.parquet(out).count() > 0


def test_cli_curate_requires_out(capsys):
    from datagouv_tools_spark.__main__ import main

    rc = main(["-s", "curate", "-p", "/root/testdata/sf0.001/documents.parquet"])
    assert rc == 2
    assert "requires --parquet-out" in capsys.readouterr().err


def test_stream_curate_equals_batch_curate(spark, sf_dir, tmp_path):
    """The streaming curation funnel (pipelines/curate.stream_curate:
    scrub gate + post_transform quality/split) must produce EXACTLY the
    batch funnel's corpus when batches arrive in doc_id order — the
    empty-scrub drop subsumes doc-level exact dedup, and every other
    stage is the same shared expression."""
    import os

    from datagouv_tools_spark.pipelines.curate import curate_corpus, stream_curate
    from datagouv_tools_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    batch_out = str(tmp_path / "batch")
    curate_corpus(docs, batch_out)

    src = str(tmp_path / "in")
    docs.filter(F.col("doc_id") < 250).coalesce(1).write.parquet(f"{src}/f1")
    docs.filter(F.col("doc_id") >= 250).coalesce(1).write.parquet(f"{src}/f2")
    t0 = 1_600_000_000
    for sub, ts_ in (("f1", t0), ("f2", t0 + 100)):
        for name in os.listdir(f"{src}/{sub}"):
            os.utime(f"{src}/{sub}/{name}", (ts_, ts_))
    stream = (
        spark.readStream.schema(
            "doc_id bigint, text string, lang string, source string, n_chars bigint"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{src}/*")
    )
    stream_out = str(tmp_path / "stream")
    q = stream_curate(
        stream, str(tmp_path / "store"), stream_out, str(tmp_path / "ckpt")
    )
    q.awaitTermination()

    cols = ["doc_id", "text", "source", "lang", "split"]
    batch_rows = sorted(
        map(tuple, spark.read.parquet(batch_out).select(*cols).collect())
    )
    stream_rows = sorted(
        map(tuple, spark.read.parquet(stream_out).select(*cols).collect())
    )
    assert stream_rows == batch_rows
    assert batch_rows  # non-vacuous


def test_curate_corpus_pps_cap(spark, sf_dir, tmp_path):
    """The optional PPS stage caps each source at ~k docs, favoring
    longer documents, deterministically (two runs, identical output)."""
    from datagouv_tools_spark.pipelines.curate import curate_corpus
    from datagouv_tools_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    out = str(tmp_path / "cur")
    rep = curate_corpus(docs, out, sample_per_source=2)
    assert rep.n_after_sample is not None
    assert rep.n_after_sample <= rep.n_after_quality
    got = spark.read.parquet(out)
    per_source = {
        r["source"]: r["n"]
        for r in got.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert per_source and all(n <= 2 for n in per_source.values())

    out2 = str(tmp_path / "cur2")
    rep2 = curate_corpus(docs, out2, sample_per_source=2)
    a = sorted(tuple(r) for r in spark.read.parquet(out).collect())
    b = sorted(tuple(r) for r in spark.read.parquet(out2).collect())
    assert a == b and rep2.n_after_sample == rep.n_after_sample


def test_stream_curate_mixing_equals_batch_mixing(spark, sf_dir, tmp_path):
    """Domain mixing in the funnels: a FROZEN per-source rate table
    (source_mixing_rates over the profiling corpus) applied by both
    the batch and streaming funnels yields the identical corpus —
    acceptance is a pure per-doc hash function of (id, rate), so batch
    boundaries cannot shift it. Also pins that mixing actually drops
    rows (non-vacuous) and that an unlisted source keeps everything."""
    import os

    from datagouv_tools_spark.functions.curation import source_mixing_rates
    from datagouv_tools_spark.pipelines.curate import (
        curate_corpus,
        stream_curate,
    )
    from datagouv_tools_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    rates = source_mixing_rates(
        docs, {"src0": 0.10, "src1": 0.10}, default_share=0.03
    )
    assert rates and all(0.0 < r <= 1.0 for r in rates.values())
    # drop one source from the frozen table: it must keep everything
    dropped_source = sorted(rates)[-1]
    rates.pop(dropped_source)

    batch_out = str(tmp_path / "batch")
    curate_corpus(docs, batch_out, mix_rates=rates)

    nomix_out = str(tmp_path / "nomix")
    curate_corpus(docs, nomix_out, mix_rates=None)

    batch_df = spark.read.parquet(batch_out)
    nomix_df = spark.read.parquet(nomix_out)
    assert batch_df.count() < nomix_df.count(), "mixing must drop rows"
    assert (
        batch_df.filter(F.col("source") == dropped_source).count()
        == nomix_df.filter(F.col("source") == dropped_source).count()
    ), "a source absent from the rate table keeps everything"

    src = str(tmp_path / "in")
    docs.filter(F.col("doc_id") < 250).coalesce(1).write.parquet(f"{src}/f1")
    docs.filter(F.col("doc_id") >= 250).coalesce(1).write.parquet(f"{src}/f2")
    t0 = 1_600_000_000
    for sub, ts_ in (("f1", t0), ("f2", t0 + 100)):
        for name in os.listdir(f"{src}/{sub}"):
            os.utime(f"{src}/{sub}/{name}", (ts_, ts_))
    stream = (
        spark.readStream.schema(
            "doc_id bigint, text string, lang string, source string, n_chars bigint"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{src}/*")
    )
    stream_out = str(tmp_path / "stream")
    q = stream_curate(
        stream, str(tmp_path / "store"), stream_out, str(tmp_path / "ckpt"),
        mix_rates=rates,
    )
    q.awaitTermination()

    cols = ["doc_id", "text", "source", "lang", "split"]
    batch_rows = sorted(
        map(tuple, batch_df.select(*cols).collect())
    )
    stream_rows = sorted(
        map(tuple, spark.read.parquet(stream_out).select(*cols).collect())
    )
    assert stream_rows == batch_rows
    assert batch_rows


def test_curate_rejects_side_channel_partitions_every_drop(
    spark, sf_dir, tmp_path
):
    """rejects_dir must account for EVERY document: input = written
    output ∪ rejects, disjointly, with each reject tagged by the stage
    that dropped it — the "where did my document go" audit."""
    from datagouv_tools_spark.functions.curation import source_mixing_rates
    from datagouv_tools_spark.pipelines.curate import curate_corpus
    from datagouv_tools_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    # shares small enough that rates stay below the 1.0 clamp at this
    # scale factor (rate = share · total / n_source)
    rates = source_mixing_rates(docs, {"src0": 0.02}, default_share=0.01)
    assert any(r < 1.0 for r in rates.values()), rates
    out = str(tmp_path / "out")
    rej = str(tmp_path / "rejects")
    curate_corpus(
        docs, out, sample_per_source=3, mix_rates=rates, rejects_dir=rej
    )

    out_ids = {r["doc_id"] for r in spark.read.parquet(out).select("doc_id").collect()}
    rej_df = spark.read.parquet(rej)
    rej_rows = rej_df.select("doc_id", "reject_stage").collect()
    rej_ids = {r["doc_id"] for r in rej_rows}
    all_ids = {r["doc_id"] for r in docs.select("doc_id").collect()}

    assert out_ids | rej_ids == all_ids, "every doc lands somewhere"
    assert not (out_ids & rej_ids), "no doc is both kept and rejected"
    assert len(rej_rows) == len(rej_ids), "exactly one stage per reject"
    stages = {r["reject_stage"] for r in rej_rows}
    assert stages <= {
        "exact_dup", "scrubbed_empty", "quality", "mixing", "pps_cap"
    }
    # the knobs exercised here must actually attribute drops
    assert {"quality", "mixing", "pps_cap"} <= stages, stages


def _counted_curation_report(docs, sample_per_source=None, mix_rates=None):
    """The funnel report computed the slow, obvious way: the same
    library stages as curate_corpus, each counted with its own action."""
    from datagouv_tools_spark.functions.curation import (
        mixing_accept,
        mixing_rate_expr,
        quality_logit,
        reassembled_kept_text,
        split_assignment,
    )
    from datagouv_tools_spark.functions.text import token_count
    from datagouv_tools_spark.operators.dedup import (
        dedup_fingerprint,
        segment_dedup_marks,
    )
    from datagouv_tools_spark.operators.sampling import pps_systematic
    from datagouv_tools_spark.pipelines.curate import CurationReport

    keep_cols = ("source", "lang")
    deduped = dedup_fingerprint(docs, "text", "doc_id")
    scrubbed = (
        segment_dedup_marks(
            deduped, "doc_id", "text", keep_cols=keep_cols, keep_seg_text=True
        )
        .groupBy("doc_id", *keep_cols)
        .agg(reassembled_kept_text().alias("text"))
        .filter(F.col("text") != "")
    )
    kept = scrubbed.filter(quality_logit("text") >= 0.0)
    if mix_rates is not None:
        kept = kept.filter(mixing_accept(mixing_rate_expr(mix_rates), "doc_id"))
    n_quality = kept.count()
    if sample_per_source is not None:
        kept = pps_systematic(
            kept, "source", "doc_id", token_count("text") + F.lit(1),
            k=sample_per_source,
        )
    split_counts = {
        r["split"]: r["count"]
        for r in kept.groupBy(split_assignment("doc_id").alias("split"))
        .count()
        .collect()
    }
    n_out = sum(split_counts.values())
    return CurationReport(
        docs.count(), deduped.count(), scrubbed.count(),
        n_quality, split_counts,
        n_after_sample=None if sample_per_source is None else n_out,
    )


@pytest.mark.parametrize(
    "sample_per_source, mix, rejects",
    [(None, False, False), (2, False, False), (None, True, False),
     (None, False, True), (2, True, True)],
    ids=["default", "sample", "mix", "rejects", "all"],
)
def test_curate_observed_report_equals_counted_report(
    spark, sf_dir, tmp_path, sample_per_source, mix, rejects
):
    """The stage counts curate_corpus observes during its one write are
    the counts that explicit count()s over the same stages return, and
    the split counts are what landed on disk."""
    from datagouv_tools_spark.functions.curation import source_mixing_rates
    from datagouv_tools_spark.pipelines.curate import curate_corpus
    from datagouv_tools_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    rates = (
        source_mixing_rates(docs, {"src0": 0.02}, default_share=0.01)
        if mix else None
    )
    out = str(tmp_path / "out")
    got = curate_corpus(
        docs, out, sample_per_source=sample_per_source, mix_rates=rates,
        rejects_dir=str(tmp_path / "rejects") if rejects else None,
    )
    assert got == _counted_curation_report(docs, sample_per_source, rates)
    written = {
        r["split"]: r["count"]
        for r in spark.read.parquet(out).groupBy("split").count().collect()
    }
    assert written == got.split_counts and written


@pytest.mark.parametrize(
    "rejects, sample_per_source",
    [(False, None), (True, None), (True, 2)],
    ids=["plain", "rejects", "rejects_sample"],
)
@pytest.mark.parametrize(
    "empty",
    [lambda d: d.limit(0), lambda d: d.filter(F.col("doc_id") < 0)],
    ids=["limit0", "runtime_filter"],
)
def test_curate_corpus_with_no_document_left(
    spark, sf_dir, tmp_path, empty, rejects, sample_per_source
):
    """An input that is empty when planned (limit 0) or only when run (a
    filter no row passes) yields an all-zero report and a written, empty
    out_dir; the pps_cap rejects read back that empty out_dir. Spark
    drops observed nodes it proves empty, so some of these counts come
    from the explicit fallback, not from a zero assumed."""
    from datagouv_tools_spark.pipelines.curate import CurationReport, curate_corpus
    from datagouv_tools_spark.sources.catalog import load_table

    out, rej = tmp_path / "out", tmp_path / "rejects"
    report = curate_corpus(
        empty(load_table(spark, sf_dir, "documents")), str(out),
        sample_per_source=sample_per_source,
        rejects_dir=str(rej) if rejects else None,
    )
    assert report == CurationReport(
        0, 0, 0, 0, {}, n_after_sample=None if sample_per_source is None else 0
    )
    assert (out / "_SUCCESS").exists()
    assert (rej / "_SUCCESS").exists() == rejects


def test_curate_corpus_default_path_runs_only_its_write(spark, sf_dir, tmp_path):
    """With default options the partitioned write is curate_corpus's
    only action: no count, collect, persist or read-back adds a job.
    Nine jobs is that one write (one per AQE query stage) on this
    fixture; any extra action pushes the count above it."""
    from datagouv_tools_spark.pipelines.curate import curate_corpus
    from datagouv_tools_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    sc, group = spark.sparkContext, "curate_corpus_jobs"
    sc.setJobGroup(group, group)
    try:
        report = curate_corpus(docs, str(tmp_path / "out"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert report.n_after_quality > 0
    assert len(jobs) <= 9, len(jobs)
