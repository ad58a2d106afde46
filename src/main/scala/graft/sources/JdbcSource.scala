package graft.sources

import java.sql.{Connection, ResultSet, Types}
import java.util.Locale
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.jdbc.JDBCOptions
import org.apache.spark.sql.functions.{col, lit, max, min}
import org.apache.spark.sql.jdbc.JdbcDialects

/** Connection + scan-tuning surface for a relational (Oracle-style OMOP CDM)
  * source. Mirrors the reference's env-var configuration
  * (`dump_table.py:21-26`: ORACLE_HOST/PORT/SID/USER/PASS) and its cursor
  * batching (`fetchmany(chunk_size=2048)`, `dump_table.py:106,184`), but
  * replaces the single serial cursor with Spark's partitioned JDBC scan: N
  * executors each open their own connection over a `partitionColumn` range,
  * so the architectural ceiling of 1x parallelism in the reference
  * (`dump_table.py:41-45`) becomes numPartitions-x. [[JdbcNoteSource]]
  * reads the range bounds, `min`/`max` of `partitionColumn`, at the source
  * before each scan; `graft.DumpMain` takes the column from the table's
  * integral primary key ([[JdbcSource.integralKeyAtSource]]).
  *
  * The password is deliberately excluded from `toString`/logs.
  */
final case class JdbcSourceConfig(
    host: String,
    port: Int,
    service: String,
    user: String,
    password: String,
    /** rows per network round trip — reference's chunk_size (`dump_table.py:184`) */
    fetchSize: Int = 2048,
    /** key column to range-partition the scan on (NOTE_ID for the NOTE table) */
    partitionColumn: Option[String] = None,
    numPartitions: Int = 1,
    /** full JDBC URL override — for TNS descriptors, wallet URLs, or a
      * non-Oracle engine (the embedded-Derby integration test uses this;
      * Spark's per-engine JdbcDialect picks up type rewrites from the URL)
      */
    urlOverride: Option[String] = None
) {
  def url: String = urlOverride.getOrElse(s"jdbc:oracle:thin:@//$host:$port/$service")
  override def toString: String =
    s"JdbcSourceConfig($url, user=$user, fetchSize=$fetchSize, " +
      s"partitionColumn=$partitionColumn, numPartitions=$numPartitions)"
}

object JdbcSourceConfig {

  /** Build from the environment, like the reference's dotenv block
    * (`dump_table.py:16,21-26`; `readme.md:29-37`).
    */
  def fromEnv(env: Map[String, String] = sys.env): Option[JdbcSourceConfig] =
    for {
      host <- env.get("ORACLE_HOST")
      sid <- env.get("ORACLE_SID")
      user <- env.get("ORACLE_USER")
      pass <- env.get("ORACLE_PASS")
    } yield JdbcSourceConfig(host, envNumber(env, "ORACLE_PORT", 1521)(_.toInt), sid, user, pass)

  /** `env(name)` read by `parse`, or `default` when unset; a malformed
    * value fails with an IllegalArgumentException that names the variable.
    */
  def envNumber[A](env: Map[String, String], name: String, default: A)(parse: String => A): A =
    env.get(name).fold(default) { v =>
      try parse(v)
      catch {
        case _: NumberFormatException => throw new IllegalArgumentException(s"$name='$v' is not a number")
      }
    }
}

/** JDBC scan operators (SURVEY.md §2 O1/O2/O3/O5).
  *
  * Spark's built-in OracleDialect already performs the reference's only
  * type-level transform — CLOB→StringType / BLOB→BinaryType
  * (`dump_table.py:49-53`) — at the dialect layer, and the reference's
  * schema-inference-by-sampling (`dump_table.py:116-148`) is replaced by
  * exact ResultSetMetaData, so the nullable-int workaround
  * (`dump_table.py:144-146`) vanishes: Spark's LongType is natively nullable.
  *
  * The scan and the scalar queries run live in `JdbcIntegrationSpec`
  * against embedded Derby, which exercises the same generic JDBC source and
  * per-engine dialect machinery an Oracle URL does.
  */
object JdbcSource {

  /** O1: full-table scan, partitioned when bounds are supplied. */
  def readTable(
      spark: SparkSession,
      cfg: JdbcSourceConfig,
      table: String,
      bounds: Option[(Long, Long)] = None
  ): DataFrame = {
    val base = spark.read
      .format("jdbc")
      .option("url", cfg.url)
      .option("dbtable", table)
      .option("user", cfg.user)
      .option("password", cfg.password)
      .option("fetchsize", cfg.fetchSize.toString)
    (cfg.partitionColumn, bounds) match {
      case (Some(col), Some((lo, hi))) =>
        base
          .option("partitionColumn", col)
          .option("lowerBound", lo.toString)
          .option("upperBound", hi.toString)
          .option("numPartitions", cfg.numPartitions.toString)
          .load()
      case _ => base.load()
    }
  }

  /** O2: scalar count computed inside the database — only the scalar crosses
    * the wire, exactly like `select count(1) from note` (`dump_table.py:59,69`).
    */
  def countAtSource(spark: SparkSession, cfg: JdbcSourceConfig, table: String): Long =
    atSource(cfg, table, s"select count(1) from $table").head.get

  /** `min`/`max` of `col` at the source; None when the table holds no
    * non-NULL key (empty, or every key NULL).
    */
  def boundsAtSource(cfg: JdbcSourceConfig, table: String, col: String): Option[(Long, Long)] =
    atSource(cfg, table, s"select min($col), max($col) from $table") match {
      case Seq(Some(lo), Some(hi)) => Some((lo, hi))
      case _                       => None
    }

  /** The table's primary key when it is one integral column (an integer
    * type, or a NUMERIC/DECIMAL of scale 0 such as Oracle's `NUMBER(19)`),
    * read from the driver's `DatabaseMetaData`; None otherwise. Names are
    * matched in the case the engine stores unquoted identifiers in, in the
    * `schema.` prefix or else the connection's current schema, so a
    * same-named table elsewhere (behind a synonym or view) is not taken.
    * A key that needs quoting is None too: [[boundsAtSource]] puts it into
    * its query unquoted.
    */
  def integralKeyAtSource(cfg: JdbcSourceConfig, table: String): Option[String] =
    withConnection(cfg, table) { conn =>
      val meta = conn.getMetaData
      def stored(name: String) =
        if (meta.storesUpperCaseIdentifiers) name.toUpperCase(Locale.ROOT)
        else if (meta.storesLowerCaseIdentifiers) name.toLowerCase(Locale.ROOT)
        else name
      val (schema, name) = table.split('.') match {
        case Array(s, t) => (stored(s), stored(t))
        case _           => (conn.getSchema, stored(table))
      }
      def rows[A](rs: ResultSet)(f: ResultSet => A): List[A] =
        try Iterator.continually(rs).takeWhile(_.next()).map(f).toList
        finally rs.close()
      rows(meta.getPrimaryKeys(null, schema, name))(_.getString("COLUMN_NAME")) match {
        case List(key) if key == stored(key) && key.matches("[A-Za-z][A-Za-z0-9_$#]*") =>
          val integral = rows(meta.getColumns(null, schema, name, key)) { c =>
            c.getString("TABLE_NAME") == name && c.getString("COLUMN_NAME") == key &&
            (c.getInt("DATA_TYPE") match {
              case Types.TINYINT | Types.SMALLINT | Types.INTEGER | Types.BIGINT => true
              case Types.NUMERIC | Types.DECIMAL => c.getInt("DECIMAL_DIGITS") == 0
              case _ => false
            })
          }
          Some(key).filter(_ => integral.contains(true))
        case _ => None
      }
    }

  /** One row of integral scalars from a driver-side connection: no Spark job
    * and no schema-resolution query for a single number. Columns are read by
    * position, because alias case-folding is engine-specific (Derby and
    * Oracle upper-case an unquoted alias).
    */
  private def atSource(cfg: JdbcSourceConfig, table: String, sql: String): Seq[Option[Long]] =
    withConnection(cfg, table) { conn =>
      val rs = conn.createStatement().executeQuery(sql)
      require(rs.next(), s"no row from: $sql")
      (1 to rs.getMetaData.getColumnCount).map { i =>
        val v = rs.getLong(i)
        if (rs.wasNull()) None else Some(v)
      }
    }

  /** A driver-side connection from the URL's dialect, so driver lookup and
    * connection providers stay Spark's; closed when `f` returns.
    */
  private def withConnection[A](cfg: JdbcSourceConfig, table: String)(f: Connection => A): A = {
    val opts = new JDBCOptions(cfg.url, table, Map("user" -> cfg.user, "password" -> cfg.password))
    val conn = JdbcDialects.get(cfg.url).createConnectionFactory(opts)(-1)
    try f(conn)
    finally conn.close()
  }
}

/** Source abstraction that lets the dump pipeline run identically off JDBC
  * (production) or parquet fixtures (offline tests). The reference hard-wires
  * Oracle; keeping the boundary here is what makes the pipeline testable.
  * It also owns a dump's key ranges: [[keyBounds]] and [[rangeScan]].
  */
trait NoteSource {
  def scan(spark: SparkSession): DataFrame
  def countAtSource(spark: SparkSession): Long

  /** `min`/`max` of `key`, by default one Spark aggregate over [[scan]];
    * None when the table holds no non-NULL key (empty, or every key NULL).
    */
  def keyBounds(spark: SparkSession, key: String): Option[(Long, Long)] = {
    val r = scan(spark).agg(min(col(key)), max(col(key))).head()
    if (r.isNullAt(0)) None
    else Some((r.getAs[Number](0).longValue(), r.getAs[Number](1).longValue()))
  }

  /** The rows of `range` on `key`, by default a filter [[scan]] pushes down. */
  def rangeScan(spark: SparkSession, key: String, range: KeyRange): DataFrame =
    scan(spark).filter(range.predicate(key))
}

/** One range of a key-range plan: keys in `[lo, hi]`, which a partitioned
  * source splits into its range tasks. The plan's `first` range also takes
  * every key below `lo` and the NULL keys, and its `last` every key above
  * `hi`, so each row of the table falls in exactly one range; a range that
  * is both is the whole table.
  */
final case class KeyRange(lo: Long, hi: Long, first: Boolean, last: Boolean) {
  def predicate(key: String): Column = {
    val k = col(key)
    val in = (if (first) lit(true) else k >= lo) && (if (last) lit(true) else k <= hi)
    if (first) in || k.isNull else in
  }
}

/** Parquet stand-in for the Oracle source. `coalesceTo` pins the scan's
  * partition count when a caller needs a deterministic output-file layout
  * (each write task shards independently, so file COUNT depends on input
  * partitioning; row totals never do).
  */
final class ParquetNoteSource(path: String, coalesceTo: Option[Int] = None) extends NoteSource {
  def scan(spark: SparkSession): DataFrame = {
    val df = spark.read.parquet(path)
    coalesceTo.fold(df)(df.coalesce)
  }
  // Parquet footers carry exact counts; Spark answers count() from metadata
  // without a data scan, matching the reference's count-at-source semantics.
  def countAtSource(spark: SparkSession): Long = scan(spark).count()
}

/** A [[KeyRange]] is read in `numPartitions` range tasks over its own
  * bounds, with its predicate pushed into each task's query; Spark's first
  * range task also takes the NULL keys. [[scan]] is the whole-table range
  * on `partitionColumn` (its predicate folds away), its bounds read at the
  * source; without `partitionColumn`, or on a table with no non-NULL key,
  * it is one unbounded scan.
  */
final class JdbcNoteSource(cfg: JdbcSourceConfig, table: String) extends NoteSource {
  def scan(spark: SparkSession): DataFrame =
    cfg.partitionColumn.filter(_ => cfg.numPartitions > 1)
      .flatMap(k => keyBounds(spark, k).map(b => rangeScan(spark, k, KeyRange(b._1, b._2, first = true, last = true))))
      .getOrElse(JdbcSource.readTable(spark, cfg, table))
  def countAtSource(spark: SparkSession): Long = JdbcSource.countAtSource(spark, cfg, table)
  override def keyBounds(spark: SparkSession, key: String): Option[(Long, Long)] =
    JdbcSource.boundsAtSource(cfg, table, key)
  override def rangeScan(spark: SparkSession, key: String, range: KeyRange): DataFrame =
    JdbcSource
      .readTable(spark, cfg.copy(partitionColumn = Some(key)), table, Some((range.lo, range.hi)))
      .filter(range.predicate(key))
}
