package graft.server

import java.io.{BufferedReader, ByteArrayOutputStream, PrintStream, StringReader}

import org.scalatest.funsuite.AnyFunSuite

import graft.{GraftSession, RefFixtures}
import graft.sources.TableSource

/** Interactive console parity (reference: columnq-cli/src/main.rs:46-99):
  * prompt, multiple queries per session, per-query error recovery, exit. */
class CliConsoleSpec extends AnyFunSuite {

  private lazy val spark = GraftSession.get()

  private def engine = {
    val e = new Engine(spark, readOnly = true)
    if (RefFixtures.present("uk_cities_with_headers.csv"))
      e.registerTable(TableSource("uk",
        RefFixtures.path("uk_cities_with_headers.csv")))
    e
  }

  private def drive(script: String, fmt: String = "csv"): String = {
    val out = new ByteArrayOutputStream()
    CliMain.consoleLoop(engine, new BufferedReader(new StringReader(script)),
      new PrintStream(out, true, "UTF-8"), fmt)
    out.toString("UTF-8")
  }

  test("binary output formats write the real bytes (reference -o parquet/arrow/arrows)") {
    assume(RefFixtures.present("uk_cities_with_headers.csv"))
    def bytesOf(fmt: String): Array[Byte] = {
      val out = new ByteArrayOutputStream()
      CliMain.renderDf(engine.querySql("SELECT city FROM uk ORDER BY city LIMIT 2"),
        fmt, new PrintStream(out, true, "UTF-8"))
      out.toByteArray
    }
    assert(bytesOf("parquet").take(4).sameElements("PAR1".getBytes("UTF-8")))
    assert(bytesOf("arrow").take(6).sameElements("ARROW1".getBytes("UTF-8")))
    // IPC stream format: continuation marker 0xFFFFFFFF leads
    assert(bytesOf("arrows").take(4).forall(_ == -1.toByte))
    val e = intercept[IllegalArgumentException](bytesOf("yaml"))
    assert(e.getMessage.contains("unsupported output format"))
  }

  test("two queries through stdin, then quit") {
    assume(RefFixtures.present("uk_cities_with_headers.csv"))
    val out = drive(
      """SELECT count(*) AS n FROM uk
        |SELECT city FROM uk ORDER BY lat DESC LIMIT 1
        |quit
        |""".stripMargin)
    assert(out.contains("graft(sql)> "))
    assert(out.contains("n\n37")) // csv header + count
    assert(out.contains("Elgin, Scotland, the UK"))
    assert(out.trim.endsWith("Good bye!"))
  }

  test("a bad query prints Error and the session continues") {
    assume(RefFixtures.present("uk_cities_with_headers.csv"))
    val out = drive(
      """SELECT nope FROM missing_table
        |SELECT count(*) AS n FROM uk
        |exit
        |""".stripMargin)
    assert(out.contains("Error: "))
    assert(out.contains("n\n37"))
    assert(out.trim.endsWith("Good bye!"))
  }

  test("EOF ends the session like exit; blank lines are ignored") {
    val out = drive("\n\n")
    assert(out.trim.endsWith("Good bye!"))
  }
}
