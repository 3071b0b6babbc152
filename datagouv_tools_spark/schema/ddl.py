"""DDL generation: CREATE/DROP/TRUNCATE/INDEX/ANALYZE with column
comments, per-dialect (SURVEY §2.2 K1-K9, §2.5 C9/C10, §2.7 U2/U6).

The reference's strongest design idea — golden-tested SQL text
generation decoupled from execution — kept here. Spark carries the
schema as a StructType whose metadata (comment/length/sql_type, set by
schema/dessin.py) feeds the DDL renderer used by the SQL sink.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Iterable

from pyspark.sql import types as T

__all__ = [
    "SqlIndex",
    "index_name",
    "shorten_identifier",
    "c_escape",
    "SqlDialect",
    "PostgresDialect",
    "MariaDbDialect",
    "SqliteDialect",
    "DIALECTS",
    "get_dialect",
    "IndexProvider",
    "EmptyIndexProvider",
    "SireneIndexProvider",
    "DecesIndexProvider",
]

_VOWELS = set("aeiouyAEIOUY")
MAX_IDENTIFIER_LENGTH = 64


def shorten_identifier(parts: Iterable[str], max_len: int = MAX_IDENTIFIER_LENGTH) -> str:
    """Join identifier parts with '_'; if too long, strip vowels from
    each part (first letter kept) until it fits (C9; reference
    sql/generic.py:94-107).

    >>> shorten_identifier(["siren", "stock_unite_legale", "idx"])
    'siren_stock_unite_legale_idx'
    >>> shorten_identifier(["a" * 40, "b" * 40, "idx"]) == "a" * 40 + "_" + "b" * 40 + "_idx"
    False
    """
    joined = "_".join(parts)
    if len(joined) <= max_len:
        return joined

    def strip_vowels(word: str) -> str:
        if not word:
            return word
        return word[0] + "".join(ch for ch in word[1:] if ch not in _VOWELS)

    return "_".join(
        "_".join(strip_vowels(w) for w in part.split("_")) for part in parts
    )


@dataclass(frozen=True)
class SqlIndex:
    """Secondary-index metadata (Spark has none; the SQL sink emits
    these post-load, K8)."""

    table_name: str
    field_name: str
    kind: str = "hash"  # hash | btree | gist | spgist | gin

    @property
    def name(self) -> str:
        return index_name(self.field_name, self.table_name)


def index_name(field_name: str, table_name: str) -> str:
    return shorten_identifier([field_name, table_name, "idx"])


def c_escape(text: str) -> str:
    r"""Escape a string as a PostgreSQL E'…' literal (C10; backslashes,
    quotes and control chars).

    >>> c_escape("a'b")
    "E'a\\'b'"
    >>> c_escape("\t")
    "E'\\t'"
    """
    out = []
    for ch in text:
        if ch == "\\":
            out.append("\\\\")
        elif ch == "'":
            out.append("\\'")
        elif ch == "\t":
            out.append("\\t")
        elif ch == "\n":
            out.append("\\n")
        elif ch == "\r":
            out.append("\\r")
        elif ord(ch) < 32:
            out.append(f"\\x{ord(ch):02x}")
        else:
            out.append(ch)
    return "E'" + "".join(out) + "'"


def _spark_type_to_sql(field: T.StructField) -> str:
    """DDL type for a StructField: prefer the dessin-declared sql_type
    metadata, fall back on a Spark-type mapping."""
    meta = field.metadata or {}
    if "sql_type" in meta:
        sql_type = meta["sql_type"]
        length = meta.get("length")
        if sql_type in ("varchar", "character varying", "character", "char") and length:
            return f"{sql_type}({length})"
        return sql_type
    dt = field.dataType
    if isinstance(dt, T.StringType):
        return "text"
    if isinstance(dt, T.ShortType):
        return "smallint"
    if isinstance(dt, T.IntegerType):
        return "integer"
    if isinstance(dt, T.LongType):
        return "bigint"
    if isinstance(dt, T.FloatType):
        return "real"
    if isinstance(dt, T.DoubleType):
        return "double precision"
    if isinstance(dt, T.DecimalType):
        return f"decimal({dt.precision}, {dt.scale})"
    if isinstance(dt, T.BooleanType):
        return "boolean"
    if isinstance(dt, T.DateType):
        return "date"
    if isinstance(dt, (T.TimestampType,)):
        return "timestamp with time zone"
    if isinstance(dt, (T.TimestampNTZType,)):
        return "timestamp"
    if isinstance(dt, T.BinaryType):
        return "bytea"
    return "text"


class SqlDialect:
    """SQL text provider for one RDBMS (U6 provider half; the executor
    half lives in sinks/sink.py)."""

    name = "generic"
    #: DB-API paramstyle placeholder for row inserts (K6):
    #: qmark (sqlite3) by default, format ("%s") for pg/mariadb drivers.
    placeholder = "?"
    #: transactional DDL: load ``<table>__staging``, then ``swap_in``
    staged_load = False

    def quote(self, identifier: str) -> str:
        return '"' + identifier.replace('"', '""') + '"'

    def insert_statement(self, table: str, schema: T.StructType) -> str:
        """Parameterized row INSERT (K6 fallback; reference
        generic.py insert_all/executemany path)."""
        cols = ", ".join(self.quote(f.name) for f in schema.fields)
        params = ", ".join(self.placeholder for _ in schema.fields)
        return f"INSERT INTO {self.quote(table)} ({cols}) VALUES ({params})"

    def drop_table(self, table: str) -> str:
        return f"DROP TABLE IF EXISTS {self.quote(table)}"

    def create_table(self, table: str, schema: T.StructType) -> str:
        """Aligned CREATE TABLE with per-column comments (K2)."""
        rendered = [(f.name, _spark_type_to_sql(f), (f.metadata or {}).get("comment", "")) for f in schema.fields]
        name_w = max((len(self.quote(n)) for n, _, _ in rendered), default=0)
        type_w = max((len(t) for _, t, _ in rendered), default=0)
        lines = []
        for i, (n, typ, comment) in enumerate(rendered):
            sep = "," if i < len(rendered) - 1 else ""
            line = f"    {self.quote(n):<{name_w}} {typ:<{type_w}}{sep}"
            if comment:
                line = f"{line} -- {comment}"
            lines.append(line.rstrip() if not comment else line)
        body = "\n".join(lines)
        return f"CREATE TABLE {self.quote(table)} (\n{body}\n)"

    def truncate(self, table: str) -> str | None:
        return None  # generic: no-op (reference sql/generic.py:167-171)

    def drop_index(self, index: SqlIndex) -> str:
        return f"DROP INDEX IF EXISTS {self.quote(index.name)}"

    def create_index(self, index: SqlIndex) -> str:
        return (
            f"CREATE INDEX {self.quote(index.name)} "
            f"ON {self.quote(index.table_name)} ({self.quote(index.field_name)})"
        )

    def analyze(self, table: str) -> str | None:
        return None

    def copy_from_csv(self, table: str, encoding: str = "UTF_8", **dialect_opts) -> str | None:
        """Bulk-load statement, when the RDBMS has one (K4/K5)."""
        return None


class PostgresDialect(SqlDialect):
    name = "postgresql"
    placeholder = "%s"
    staged_load = True

    def swap_in(self, staging: str, table: str, renames: Iterable[tuple[SqlIndex, SqlIndex]]):
        """Statements replacing ``table`` by ``staging`` (SURVEY §7.4):
        DROP it, then RENAME ``staging`` and each (staged, final) index."""
        q = self.quote
        return [
            self.drop_table(table),
            f"ALTER TABLE {q(staging)} RENAME TO {q(table)}",
            *(f"ALTER INDEX {q(s.name)} RENAME TO {q(f.name)}" for s, f in renames),
        ]

    def truncate(self, table: str) -> str:
        return f"TRUNCATE {self.quote(table)}"

    def create_index(self, index: SqlIndex) -> str:
        return (
            f"CREATE INDEX {self.quote(index.name)} "
            f"ON {self.quote(index.table_name)} USING {index.kind} "
            f"({self.quote(index.field_name)})"
        )

    def analyze(self, table: str) -> str:
        return f"ANALYZE {self.quote(table)}"

    def copy_from_csv(
        self,
        table: str,
        encoding: str = "UTF_8",
        delimiter: str | None = None,
        quote_char: str | None = None,
        escape_char: str | None = None,
        header: bool = True,
    ) -> str:
        opts = ["FORMAT CSV"]
        if header:
            opts.append("HEADER TRUE")
        opts.append(f"ENCODING '{encoding}'")
        if delimiter is not None:
            opts.append(f"DELIMITER {c_escape(delimiter)}")
        if quote_char is not None:
            opts.append(f"QUOTE {c_escape(quote_char)}")
        if escape_char is not None:
            opts.append(f"ESCAPE {c_escape(escape_char)}")
        return f"COPY {self.quote(table)} FROM STDIN WITH ({', '.join(opts)})"


class MariaDbDialect(SqlDialect):
    name = "mariadb"
    placeholder = "%s"

    def quote(self, identifier: str) -> str:
        return "`" + identifier.replace("`", "``") + "`"

    def drop_index(self, index: SqlIndex) -> str:
        return (
            f"DROP INDEX IF EXISTS {self.quote(index.name)} "
            f"ON {self.quote(index.table_name)}"
        )

    def create_index(self, index: SqlIndex) -> str:
        # MariaDB text columns need a prefix length (K8).
        return (
            f"CREATE INDEX {self.quote(index.name)} "
            f"ON {self.quote(index.table_name)} ({self.quote(index.field_name)}(255))"
        )

    def copy_from_csv(self, table: str, encoding: str = "UTF8", path: str = "?", **_) -> str:
        return (
            f"LOAD DATA LOCAL INFILE '{path}' INTO TABLE {self.quote(table)} "
            f"CHARACTER SET {encoding} FIELDS TERMINATED BY ',' "
            f"OPTIONALLY ENCLOSED BY '\"' IGNORE 1 LINES"
        )


class SqliteDialect(SqlDialect):
    name = "sqlite"
    # no bulk path, no ANALYZE needed; batched INSERTs only (K6).


DIALECTS: dict[str, SqlDialect] = {}
for _dialect, _aliases in [
    (PostgresDialect(), ("pg", "postgres", "postgresql")),
    (MariaDbDialect(), ("maria", "mariadb", "mysql")),
    (SqliteDialect(), ("sqlite", "sqlite3")),
]:
    for _a in _aliases:
        DIALECTS[_a] = _dialect


def get_dialect(rdbms: str) -> SqlDialect:
    """Registry lookup, case-insensitive (U5; unknown → KeyError listing
    the registered aliases, like the reference's assert)."""
    try:
        return DIALECTS[rdbms.casefold()]
    except KeyError:
        raise KeyError(
            f"unknown rdbms {rdbms!r}; registered: {sorted(DIALECTS)}"
        ) from None


class IndexProvider:
    """Strategy deriving indices from a schema (U2)."""

    def get_indices(self, table: str, schema: T.StructType) -> list[SqlIndex]:
        raise NotImplementedError


class EmptyIndexProvider(IndexProvider):
    def get_indices(self, table, schema):  # noqa: D102
        return []


class SireneIndexProvider(IndexProvider):
    """Hash index on every field prefixed siren/siret, plus per-table
    extras (import_sirene.py:203-224,366-368)."""

    def __init__(self, extra: dict[str, tuple[SqlIndex, ...]] | None = None):
        self.extra = extra or {
            "stock_etablissement": (
                SqlIndex("stock_etablissement", "code_postal_etablissement", "btree"),
            )
        }

    def get_indices(self, table, schema):  # noqa: D102
        indices = [
            SqlIndex(table, f.name, "hash")
            for f in schema.fields
            if f.name.startswith("siren") or f.name.startswith("siret")
        ]
        indices.extend(self.extra.get(table, ()))
        return indices


class DecesIndexProvider(IndexProvider):
    """Hash index on nom (fichier_personnes_decedees.py:124-129)."""

    def get_indices(self, table, schema):  # noqa: D102
        return [SqlIndex(table, f.name, "hash") for f in schema.fields if f.name == "nom"]
