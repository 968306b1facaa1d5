"""JDBC-backed customer store — the reference's actual persistence story
(Postgres table behind four SQL statements, reference
database/database.go:16-19, init-db.sh:11-25) behind the same operator
surface as the parquet `CustomerStore`.

Spark-first realization:
  * reads go through `spark.read.jdbc` — the pending scan's predicate and
    projection push into the generated WHERE/SELECT (the JDBC source is a
    pushdown-capable DataSource);
  * appends are `df.write.jdbc(mode="append")` — executor-parallel batch
    INSERTs; the DB's UNIQUE constraints stay the final uniqueness guard
    exactly as in the reference (the declarative anti-join just avoids
    burning a round-trip on known losers);
  * the keyed UPDATE (U1 flag flip) is NOT row-at-a-time from the driver:
    the success set is staged to a temp table via JDBC append, then ONE
    set-based `UPDATE ... WHERE email IN (SELECT ...)` runs on the server
    — the MERGE shape that stays O(successes) at any table size.

The container has no Postgres, but Spark ships the embedded Derby JDBC
driver, so the integration tests run for real against
`jdbc:derby:<dir>;create=true`; point `url` at Postgres/MySQL in
production — the DDL/DML is ANSI and timestamp literals go through the
JDBC `{ts ...}` escape, which every JDBC driver translates.
"""

from __future__ import annotations

import re
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from csv_crm_upload_spark.schemas import CUSTOMER_COLUMNS, CUSTOMER_SCHEMA

# reference init-db.sh:11-25 — UNIQUE id + email, uploaded flag default
# false, audit timestamps. ANSI DDL (Derby/Postgres compatible).
CREATE_TABLE_SQL = """
CREATE TABLE {table} (
  id INT NOT NULL,
  first_name VARCHAR(255),
  last_name VARCHAR(255),
  email VARCHAR(255) NOT NULL,
  phone VARCHAR(64),
  uploaded BOOLEAN NOT NULL,
  created_ts TIMESTAMP,
  modified_ts TIMESTAMP,
  PRIMARY KEY (id),
  CONSTRAINT {table}_email_uq UNIQUE (email)
)
"""


def _update_sql(table: str, hits_table: str, now_literal: str) -> str:
    """The one set-based flag-flip statement (reference
    database/database.go:19 generalized from per-email to per-batch).

    The subquery column MUST be quoted: Spark's JDBC writer creates the
    staged hits table with quoted (case-preserved) identifiers, so an
    unquoted `email` would identifier-fold, miss the hits column, and
    silently resolve to the OUTER table's email — turning the IN into an
    always-true correlated predicate that flips every pending row."""
    return (
        f"UPDATE {table} SET uploaded = true, modified_ts = {now_literal} "
        f'WHERE uploaded = false AND email IN (SELECT "email" FROM {hits_table})'
    )


class JdbcCustomerStore:
    """`customers` table in any JDBC database, same surface as CustomerStore."""

    def __init__(self, spark: SparkSession, url: str, table: str = "customers"):
        self.spark = spark
        self.url = url
        self.table = table

    # -- driver-side connection (py4j) --------------------------------------
    def _connect(self):
        """One short-lived driver-side JDBC connection for DDL/DML that the
        DataFrame API can't express (CREATE TABLE with constraints, the
        set-based UPDATE). Data never flows through this connection."""
        return self.spark._sc._jvm.java.sql.DriverManager.getConnection(self.url)

    def _execute(self, sql: str) -> int:
        conn = self._connect()
        try:
            stmt = conn.createStatement()
            try:
                return stmt.executeUpdate(sql)
            finally:
                stmt.close()
        finally:
            conn.close()

    def ensure_table(self) -> None:
        """Create the table with the reference's constraints if absent."""
        try:
            self._execute(CREATE_TABLE_SQL.format(table=self.table))
        except Exception as e:  # already exists (Derby X0Y32 / PG duplicate_table)
            if "exist" not in str(e).lower() and "X0Y32" not in str(e):
                raise

    # -- operators ----------------------------------------------------------
    def read(self) -> DataFrame:
        """S4: table scan (one JDBC partition)."""
        df = (
            self.spark.read.format("jdbc")
            .option("url", self.url)
            .option("dbtable", self.table)
            .load()
        )
        # DBs that fold unquoted identifiers (Derby/Oracle upper-case,
        # Postgres lower-case) must come back in the engine's schema
        return df.toDF(*[c.lower() for c in df.columns])

    def append(self, batch: DataFrame) -> None:
        """S5: executor-parallel batch INSERT append."""
        (
            batch.select(*CUSTOMER_SCHEMA.fieldNames())
            .write.format("jdbc")
            .option("url", self.url)
            .option("dbtable", self.table)
            .mode("append")
            .save()
        )

    def append_unique(self, batch: DataFrame, keys: tuple[str, ...] = ("id", "email")) -> int:
        """D1: drop known losers declaratively, then append. Unlike the
        parquet store there is no check-then-act race to close here — the
        DB's UNIQUE constraints reject concurrent duplicates server-side,
        exactly the reference's guarantee.

        The anti-join is materialized ONCE (localCheckpoint) so the
        returned count and the appended rows come from the same snapshot
        of the table — lazily re-running the JDBC read per action could
        see a concurrent writer's rows in between. A duplicate that lands
        AFTER the snapshot still hits the UNIQUE constraint server-side,
        which aborts this batch's append (documented semantics: constraint
        violations fail the batch rather than silently skipping rows)."""
        from csv_crm_upload_spark.operators.dedup import anti_join_existing

        insertable = anti_join_existing(batch, self.read(), keys).localCheckpoint(eager=True)
        n = insertable.count()
        if n > 0:
            self.append(insertable)
        return n

    def pending(self) -> DataFrame:
        """F1+P1: `SELECT id, first_name, last_name, email, phone FROM
        customers WHERE uploaded = false` — both the predicate and the
        5-column projection push into the JDBC-generated SQL (verify:
        PushedFilters in the scan node)."""
        return self.read().filter(~F.col("uploaded")).select(*CUSTOMER_COLUMNS)

    def mark_uploaded(self, succeeded_emails: DataFrame, now=None) -> int:
        """U1+U2: stage the success set to a temp table, run ONE set-based
        UPDATE on the server, drop the temp table. Returns rows flipped."""
        hits = f"{self.table}_hits_{uuid.uuid4().hex[:8]}"
        (
            succeeded_emails.select("email")
            .distinct()
            .write.format("jdbc")
            .option("url", self.url)
            .option("dbtable", hits)
            # dialects that default StringType to CLOB/TEXT can't compare
            # against the customers VARCHAR column — pin the staged type
            .option("createTableColumnTypes", "email VARCHAR(255)")
            .mode("overwrite")
            .save()
        )
        try:
            if now is not None:
                # JDBC timestamp escape — translated by EVERY JDBC driver
                # (Derby rejects the bare ANSI literal here; the function
                # form TIMESTAMP('...') is Derby-only). The value is
                # validated before interpolation: this string is the one
                # non-parameterized literal in the statement
                if not re.fullmatch(r"\d{4}-\d{2}-\d{2}[ T]\d{2}:\d{2}:\d{2}(\.\d+)?", str(now)):
                    raise ValueError(f"not a timestamp literal: {now!r}")
                now_literal = f"{{ts '{now}'}}"
            else:
                now_literal = "CURRENT_TIMESTAMP"
            return self._execute(_update_sql(self.table, hits, now_literal))
        finally:
            self._execute(f"DROP TABLE {hits}")

    def delete(self, where_sql: str) -> int:
        """DELETE FROM customers WHERE <where_sql> — one set-based
        server-side statement (the relational store's native verb; the
        parquet store's delete() mirrors it with a pruned rewrite).
        `where_sql` is a raw SQL predicate supplied by the operator — it
        is interpolated, not parameterized, so treat it as trusted CLI
        input (same trust level as the psql prompt it replaces).
        Returns rows deleted."""
        return self._execute(f"DELETE FROM {self.table} WHERE {where_sql}")

    def forget(self, email: str) -> int:
        """GDPR erasure — on a relational store a DELETE is already
        physical (no immutable snapshots to scrub), so forget() is one
        parameter-safe set-based DELETE; provided for API symmetry with
        the parquet store's history-rewriting forget(). Returns rows
        erased. (Storage-engine caveat: the database's own WAL/backup
        retention is the remaining erasure surface, managed by DBAs —
        outside the engine, as with any Postgres-backed CRM.)"""
        safe = email.replace("'", "''")
        return self._execute(f"DELETE FROM {self.table} WHERE email = '{safe}'")
