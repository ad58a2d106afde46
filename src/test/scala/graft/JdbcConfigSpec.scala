package graft

import graft.sources.JdbcSourceConfig
import org.scalatest.funsuite.AnyFunSuite

/** The env/config surface of the JDBC source (O1/O5 plumbing) — everything
  * testable without an Oracle driver on the classpath.
  */
class JdbcConfigSpec extends AnyFunSuite {

  private val env = Map(
    "ORACLE_HOST" -> "db.example.internal",
    "ORACLE_SID" -> "OMOP",
    "ORACLE_USER" -> "reader",
    "ORACLE_PASS" -> "s3cret"
  )

  test("fromEnv: builds config from the reference's env surface, defaults port 1521") {
    val cfg = JdbcSourceConfig.fromEnv(env).get
    assert(cfg.url == "jdbc:oracle:thin:@//db.example.internal:1521/OMOP")
    assert(cfg.user == "reader")
    assert(cfg.fetchSize == 2048) // dump_table.py:184 chunk_size parity
  }

  test("fromEnv: explicit port, missing vars -> None") {
    assert(JdbcSourceConfig.fromEnv(env + ("ORACLE_PORT" -> "1522")).get.url.contains(":1522/"))
    assert(JdbcSourceConfig.fromEnv(env - "ORACLE_PASS").isEmpty)
    assert(JdbcSourceConfig.fromEnv(Map.empty).isEmpty)
  }

  test("--tables parsing: name[:keyCol[:chunks]], fail-fast on every malformed shape") {
    import DumpMain.{parseTables, TableArg}
    assert(parseTables("note") === Seq(TableArg("note", None, 1)))
    assert(parseTables("note:note_id") === Seq(TableArg("note", Some("note_id"), 1)))
    assert(
      parseTables("note:note_id:64,person,visit:visit_id") === Seq(
        TableArg("note", Some("note_id"), 64),
        TableArg("person", None, 1),
        TableArg("visit", Some("visit_id"), 1)
      )
    )
    // a typo'd list must die BEFORE any extraction starts
    intercept[IllegalArgumentException](parseTables(""))
    intercept[IllegalArgumentException](parseTables("note:"))
    intercept[IllegalArgumentException](parseTables(":note_id"))
    intercept[IllegalArgumentException](parseTables("note:note_id:zero"))
    intercept[IllegalArgumentException](parseTables("note:note_id:0"))
    intercept[IllegalArgumentException](parseTables("note:note_id:4:extra"))
    intercept[IllegalArgumentException](parseTables("a,,b"))
  }

  test("fromEnv: a malformed ORACLE_PORT fails naming the variable") {
    val e = intercept[IllegalArgumentException](JdbcSourceConfig.fromEnv(env + ("ORACLE_PORT" -> "15x21")))
    assert(e.getMessage.contains("ORACLE_PORT") && e.getMessage.contains("15x21"))
  }

  test("DumpMain limit: GRAB_EVERYTHING drops it, GRAFT_LIMIT sets it, a malformed GRAFT_LIMIT fails naming the variable") {
    assert(DumpMain.limitFromEnv(Map.empty) == Some(2000000L))
    assert(DumpMain.limitFromEnv(Map("GRAFT_LIMIT" -> "500")) == Some(500L))
    assert(DumpMain.limitFromEnv(Map("GRAB_EVERYTHING" -> "1", "GRAFT_LIMIT" -> "oops")).isEmpty)
    val e = intercept[IllegalArgumentException](DumpMain.limitFromEnv(Map("GRAFT_LIMIT" -> "2e6")))
    assert(e.getMessage.contains("GRAFT_LIMIT") && e.getMessage.contains("2e6"))
  }

  test("credentials never leak through toString/logs") {
    val cfg = JdbcSourceConfig.fromEnv(env).get
    assert(!cfg.toString.contains("s3cret"))
  }
}
