"""JDBC server-dialect layer: DDL type mapping, identifier quoting,
and idempotent UPSERT (the reference's loader is append-only with an
anti-join pre-filter, ``load.py:123-165`` — an upsert collapses its
read-existing-keys + anti-join + append into one round trip and also
handles UPDATEs, which the reference cannot).

Spark's built-in JDBC writer handles INSERTs; what it does NOT give
you portably: (a) server-specific column DDL when auto-creating
tables (e.g. Spark maps StringType to Derby CLOB / Postgres TEXT —
both unindexable-by-default; a sized VARCHAR is usually wanted for
key columns), (b) conflict-resolution semantics. Both are dialect
concerns, centralized here.

Upsert strategy (classic warehouse pattern, scales with the delta):
  1. write the batch to a staging table via the normal parallel
     JDBC writer (executors stream partitions concurrently);
  2. one server-side set-based statement merges staging into the
     target — Postgres ``INSERT ... ON CONFLICT DO UPDATE``,
     standard ``MERGE INTO`` elsewhere (Derby 10.11+, Oracle, SQL
     Server, DB2);
  3. drop staging.
The merge is executed ONCE on the driver via java.sql.DriverManager
(Spark ships the JDBC driver jar already); the bulk data path stays
distributed.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import types as T

_IDENT_RE = re.compile(r"^[A-Za-z_][A-Za-z0-9_$]*(\.[A-Za-z_][A-Za-z0-9_$]*)?$")


def check_table_ident(name: str) -> str:
    """Validate a (possibly schema-qualified) table name used UNQUOTED
    in generated SQL. Table names stay unquoted on purpose — Spark's
    JDBC writer emits ``dbtable`` unquoted, so the server's case
    folding must apply identically in our MERGE/DROP statements — so
    the injection guard is a whitelist, not quoting."""
    if not _IDENT_RE.match(name):
        raise ValueError(f"invalid SQL table identifier: {name!r}")
    return name


@dataclass(frozen=True)
class JdbcDialect:
    """Quoting + type-mapping + upsert-SQL rules for one server."""

    name: str
    quote: str = '"'
    # Spark simpleString -> override DDL type; unlisted types use
    # Spark's own default mapping. Override VALUES must be types
    # SPARK's SQL parser accepts (VARCHAR(n)/CHAR(n)/SMALLINT/...),
    # because createTableColumnTypes is parsed Spark-side before the
    # writer re-maps to server DDL — a server-only type like BLOB or
    # BYTEA is an UNSUPPORTED_DATATYPE ParseException (measured on
    # Derby; Spark's own JdbcDialects already map BinaryType to
    # BLOB/BYTEA correctly, so no override is needed there).
    type_overrides: dict[str, str] = field(default_factory=dict)
    string_ddl: str = "VARCHAR(1024)"
    supports_merge: bool = True

    def q(self, ident: str) -> str:
        """Quote one identifier, doubling embedded quote chars so a
        hostile column name can't terminate the quoting."""
        return f"{self.quote}{ident.replace(self.quote, self.quote * 2)}{self.quote}"

    def ddl_type(self, dt: T.DataType) -> str | None:
        if isinstance(dt, T.StringType):
            return self.string_ddl
        return self.type_overrides.get(dt.simpleString())

    def create_table_column_types(self, schema: T.StructType) -> str | None:
        """Value for the Spark writer's ``createTableColumnTypes``
        option: only the columns whose default mapping this dialect
        overrides (others keep Spark's mapping). Names are backtick-
        quoted — Spark parses this option with its own SQL parser, so
        a mixed-case or space-bearing column name is a syntax error
        unquoted (backticks are Spark-side only; the writer re-quotes
        with the server dialect when emitting DDL)."""
        parts = [
            f"`{f.name.replace('`', '``')}` {self.ddl_type(f.dataType)}"
            for f in schema.fields
            if self.ddl_type(f.dataType) is not None
        ]
        return ", ".join(parts) if parts else None

    def upsert_sql(self, table: str, staging: str, cols: list[str], keys: list[str]) -> str:
        non_keys = [c for c in cols if c not in keys]
        if self.name == "postgresql":
            col_list = ", ".join(self.q(c) for c in cols)
            conflict = ", ".join(self.q(k) for k in keys)
            sets = ", ".join(f"{self.q(c)} = EXCLUDED.{self.q(c)}" for c in non_keys)
            action = f"DO UPDATE SET {sets}" if non_keys else "DO NOTHING"
            return (
                f"INSERT INTO {table} ({col_list}) "
                f"SELECT {col_list} FROM {staging} "
                f"ON CONFLICT ({conflict}) {action}"
            )
        if not self.supports_merge:
            raise NotImplementedError(f"dialect {self.name}: no upsert support")
        on = " AND ".join(f"t.{self.q(k)} = s.{self.q(k)}" for k in keys)
        col_list = ", ".join(self.q(c) for c in cols)
        values = ", ".join(f"s.{self.q(c)}" for c in cols)
        merge = (
            f"MERGE INTO {table} t USING {staging} s ON {on} "
        )
        if non_keys:
            sets = ", ".join(f"{self.q(c)} = s.{self.q(c)}" for c in non_keys)
            merge += f"WHEN MATCHED THEN UPDATE SET {sets} "
        merge += f"WHEN NOT MATCHED THEN INSERT ({col_list}) VALUES ({values})"
        return merge


POSTGRES = JdbcDialect(
    name="postgresql",
    string_ddl="VARCHAR(1024)",
    type_overrides={
        # Spark's default maps DoubleType->DOUBLE PRECISION (fine)
        # and BinaryType->BYTEA (fine); ByteType->BYTE is invalid in
        # PG — force SMALLINT (a Spark-parseable type, see above).
        "tinyint": "SMALLINT",
    },
)

DERBY = JdbcDialect(
    name="derby",
    # Spark maps StringType to Derby CLOB, which Derby refuses to
    # compare/index; sized VARCHAR restores predicates on strings.
    # BinaryType already maps to BLOB via Spark's DerbyDialect.
    string_ddl="VARCHAR(1024)",
)

GENERIC = JdbcDialect(name="generic", string_ddl="VARCHAR(1024)")

_DIALECTS = {d.name: d for d in (POSTGRES, DERBY, GENERIC)}


def dialect_for_url(url: str) -> JdbcDialect:
    """jdbc:postgresql://... -> POSTGRES, jdbc:derby:... -> DERBY,
    else GENERIC (standard MERGE)."""
    scheme = url.split(":")[1] if url.startswith("jdbc:") and ":" in url[5:] else ""
    return _DIALECTS.get(scheme, GENERIC)


def _connect(spark, url: str, properties: dict[str, str]):
    """Driver-side java.sql connection through the same JDBC driver
    jar Spark's executors use."""
    jvm = spark._jvm
    props = jvm.java.util.Properties()
    for k, v in properties.items():
        if k != "driver":
            props.setProperty(k, v)
    if "driver" in properties:
        jvm.java.lang.Class.forName(properties["driver"])
    return jvm.java.sql.DriverManager.getConnection(url, props)


def execute_statements(spark, url: str, properties: dict[str, str], statements: list[str]) -> None:
    """Run DDL/DML statements on the server from the driver."""
    conn = _connect(spark, url, properties)
    try:
        stmt = conn.createStatement()
        try:
            for sql in statements:
                stmt.execute(sql)
        finally:
            stmt.close()
    finally:
        conn.close()


def jdbc_table_exists(spark, url: str, table: str, properties: dict[str, str]) -> bool:
    """Explicit table-existence probe via JDBC DatabaseMetaData — the
    replacement for read-and-catch existence checks (a connectivity
    failure here RAISES instead of reading as 'absent', so callers
    doing create-if-missing never double-create on a network blip).

    Unquoted identifiers are case-folded differently per server
    (Derby/Oracle upper, Postgres lower), so the probe tries the name
    as given, upper, and lower. ``table`` may be schema-qualified."""
    schema_pat = None
    name = table
    if "." in table:
        schema_pat, name = table.rsplit(".", 1)
    conn = _connect(spark, url, properties)
    try:
        meta = conn.getMetaData()
        for cand in dict.fromkeys((name, name.upper(), name.lower())):
            sp = schema_pat
            if sp is not None:
                sp = sp.upper() if cand == name.upper() else (
                    sp.lower() if cand == name.lower() else sp
                )
            rs = meta.getTables(None, sp, cand, None)
            try:
                if rs.next():
                    return True
            finally:
                rs.close()
        return False
    finally:
        conn.close()


def upsert_jdbc_table(
    df: DataFrame,
    url: str,
    table: str,
    key_cols: list[str],
    properties: dict[str, str],
    dialect: JdbcDialect | None = None,
    staging_table: str | None = None,
    batchsize: int = 10_000,
) -> None:
    """Distributed upsert: parallel-write ``df`` to a staging table,
    one server-side merge into ``table``, drop staging. The target
    must already exist (create it with Spark's JDBC writer and the
    dialect's ``createTableColumnTypes``, or your own DDL) and
    have a unique/PK constraint on ``key_cols`` for Postgres
    ON CONFLICT to engage."""
    dialect = dialect or dialect_for_url(url)
    table = check_table_ident(table)
    staging = check_table_ident(staging_table or f"{table}_STG")
    spark = df.sparkSession

    writer = (
        df.write.format("jdbc")
        .mode("overwrite")
        .option("url", url)
        .option("dbtable", staging)
        .option("batchsize", batchsize)
        .options(**{k: v for k, v in properties.items()})
    )
    ddl = dialect.create_table_column_types(df.schema)
    if ddl:
        writer = writer.option("createTableColumnTypes", ddl)
    writer.save()

    merge = dialect.upsert_sql(table, staging, df.columns, key_cols)
    merge_ok = False
    try:
        execute_statements(spark, url, properties, [merge])
        merge_ok = True
    finally:
        # drop staging even when the merge fails — an orphaned staging
        # table would make the next run's overwrite-vs-DDL ambiguous —
        # but never let a cleanup failure mask the merge error
        try:
            execute_statements(spark, url, properties, [f"DROP TABLE {staging}"])
        except Exception:
            if merge_ok:
                raise
