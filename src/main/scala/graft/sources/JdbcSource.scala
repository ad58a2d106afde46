package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.jdbc.JDBCOptions
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
  * before each scan.
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
    } yield JdbcSourceConfig(host, env.getOrElse("ORACLE_PORT", "1521").toInt, sid, user, pass)
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

  /** One row of integral scalars from a driver-side connection: no Spark job
    * and no schema-resolution query for a single number. The connection comes
    * from the URL's dialect, so driver lookup and connection providers stay
    * Spark's. Columns are read by position, because alias case-folding is
    * engine-specific (Derby and Oracle upper-case an unquoted alias).
    */
  private def atSource(cfg: JdbcSourceConfig, table: String, sql: String): Seq[Option[Long]] = {
    val opts = new JDBCOptions(cfg.url, table, Map("user" -> cfg.user, "password" -> cfg.password))
    val conn = JdbcDialects.get(cfg.url).createConnectionFactory(opts)(-1)
    try {
      val rs = conn.createStatement().executeQuery(sql)
      require(rs.next(), s"no row from: $sql")
      (1 to rs.getMetaData.getColumnCount).map { i =>
        val v = rs.getLong(i)
        if (rs.wasNull()) None else Some(v)
      }
    } finally conn.close()
  }
}

/** Source abstraction that lets the dump pipeline run identically off JDBC
  * (production) or parquet fixtures (offline tests). The reference hard-wires
  * Oracle; keeping the boundary here is what makes the pipeline testable.
  */
trait NoteSource {
  def scan(spark: SparkSession): DataFrame
  def countAtSource(spark: SparkSession): Long
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

/** Scans in `numPartitions` range tasks when `partitionColumn` is set: the
  * bounds are read at the source, and Spark's first range also takes the
  * NULL keys. A table without a non-NULL key is scanned unbounded.
  */
final class JdbcNoteSource(cfg: JdbcSourceConfig, table: String) extends NoteSource {
  def scan(spark: SparkSession): DataFrame = {
    val bounds = cfg.partitionColumn.filter(_ => cfg.numPartitions > 1)
      .flatMap(JdbcSource.boundsAtSource(cfg, table, _))
    JdbcSource.readTable(spark, cfg, table, bounds)
  }
  def countAtSource(spark: SparkSession): Long = JdbcSource.countAtSource(spark, cfg, table)
}
