package graft

import java.sql.Types

import org.apache.spark.sql.jdbc.JdbcDialects
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The reference's actual target database is Oracle (SURVEY.md §2 O5:
  * `dump_table.py:30-45` builds a cx_Oracle connection; `:49-53` installs a
  * CLOB/BLOB output handler so LOB columns arrive as str/bytes). Offline,
  * no Oracle driver can run, so the LIVE dialect-layer proof runs on
  * embedded Derby (JdbcIntegrationSpec: CLOB→StringType full-content
  * round-trip through Spark's SHARED JDBC type mapping). This spec closes
  * the remaining gap testable without a driver: it pins the ORACLE
  * dialect Spark selects for a `jdbc:oracle:` URL, asserting the exact
  * code path a production Oracle dump would take.
  *
  * What is pinned and why:
  *  - URL routing: `JdbcDialects.get("jdbc:oracle:…")` must resolve to
  *    the Oracle dialect at all (otherwise none of the below applies).
  *  - CLOB/BLOB: the Oracle dialect must NOT override them away from the
  *    shared default mapping (CLOB→String, BLOB→Binary — the mapping the
  *    Derby suite proves live); `getCatalystType = None` is the contract
  *    that delegates to that default. This is the Spark analog of the
  *    reference's LOB output handler.
  *  - NUMBER: OMOP ids are unsized Oracle NUMBER columns, which arrive
  *    as NUMERIC with scale −127; the dialect must map them to a decimal
  *    wide enough that ids survive. Explicitly-sized NUMBER(p,s)
  *    delegates to the shared NUMERIC→Decimal(p,s) default.
  *  - Oracle-only types (BINARY_FLOAT/BINARY_DOUBLE/TIMESTAMP WITH TIME
  *    ZONE) have no JDBC-standard code, so the shared default CANNOT
  *    place them — the dialect itself must.
  *  - LIMIT emission: the dialect's limit clause is `WHERE rownum <= n`,
  *    the same top-n the reference requests with `FETCH FIRST :how_many
  *    ROWS ONLY` (`dump_table.py:94`). `OmopDump.run(limit)` reads through
  *    the V1 `spark.read.format("jdbc")` relation, which pushes no limit:
  *    the plan keeps the LIMIT above `Scan JDBCRelation`, so the executor,
  *    not the database, truncates. This spec pins the clause only.
  *  - Write-side types: round-tripping parquet back INTO Oracle must
  *    emit Oracle-native DDL types (VARCHAR2/NUMBER), not ANSI names
  *    Oracle rejects.
  */
class OracleDialectSpec extends AnyFunSuite {

  private val dialect = JdbcDialects.get("jdbc:oracle:thin:@//db:1521/OMOP")

  private def catalyst(t: Int, name: String, size: Int = 0, scale: Int = 0): Option[DataType] =
    dialect.getCatalystType(t, name, size, new MetadataBuilder().putLong("scale", scale))

  test("jdbc:oracle: URLs route to the Oracle dialect") {
    assert(dialect.getClass.getName.contains("OracleDialect"))
    assert(dialect.canHandle("jdbc:oracle:thin:@//host:1521/svc"))
    assert(!dialect.canHandle("jdbc:postgresql://host/db"))
  }

  test("CLOB and BLOB delegate to the shared default mapping (String / Binary)") {
    // None = "use Spark's shared JDBC mapping", which maps CLOB→StringType
    // and BLOB→BinaryType — the exact path JdbcIntegrationSpec proves live
    // on Derby with full-content round-trips. The dialect overriding these
    // to anything else would break the note-text dump semantics.
    assert(catalyst(Types.CLOB, "CLOB").isEmpty)
    assert(catalyst(Types.BLOB, "BLOB").isEmpty)
  }

  test("unsized Oracle NUMBER (scale -127) maps to a 38-digit decimal; sized NUMBER delegates") {
    // cx_Oracle surfaces unsized NUMBER at full precision; Spark's dialect
    // must do the same or OMOP ids would truncate
    assert(
      catalyst(Types.NUMERIC, "NUMBER", size = 0, scale = -127).contains(DecimalType(38, 10))
    )
    // NUMBER(p,s) carries its own precision/scale — the shared
    // NUMERIC→Decimal(p,s) default handles it; the dialect stays out
    assert(catalyst(Types.NUMERIC, "NUMBER", size = 10, scale = 0).isEmpty)
  }

  test("Oracle-only type codes map in the dialect (no JDBC-standard fallback exists)") {
    assert(catalyst(100, "BINARY_FLOAT").contains(FloatType))
    assert(catalyst(101, "BINARY_DOUBLE").contains(DoubleType))
    assert(catalyst(-101, "TIMESTAMP WITH TIME ZONE").contains(TimestampType))
  }

  test("LIMIT pushes down as a rownum predicate — same rows as the reference's FETCH FIRST") {
    assert(dialect.supportsLimit)
    assert(dialect.getLimitClause(7) === "WHERE rownum <= 7")
  }

  test("write-side DDL types are Oracle-native") {
    def ddl(dt: DataType): Option[String] =
      dialect.getJDBCType(dt).map(_.databaseTypeDefinition)
    assert(ddl(StringType).contains("VARCHAR2(255)"))
    assert(ddl(LongType).contains("NUMBER(19)"))
    // BinaryType: None → shared default (BLOB), which Oracle accepts
    assert(ddl(BinaryType).isEmpty)
  }
}
