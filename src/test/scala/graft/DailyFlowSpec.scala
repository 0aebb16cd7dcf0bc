package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.config.{ColumnSpec, EngineConfig}
import graft.operators.DailyFlow

/** Daily batch-incremental orchestration: two consecutive daily files,
  * cross-day boundary fix via union + re-window
  * (reference: flujo_diario.py:27-74; notebook cells 13-16). */
class DailyFlowSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val cfg = EngineConfig(
    data_columns = Seq(
      ColumnSpec("FlightDate", "date", Some("Flight date")),
      ColumnSpec("Reporting_Airline", "string", Some("Carrier")),
      ColumnSpec("Origin", "string", Some("Origin IATA")),
      ColumnSpec("DepTime", "int", Some("Local departure HHmm"))),
    output_table = Some("flights_test"),
    output_partitions = Some(2))

  private def writeDay(name: String, rows: Seq[String]): String = {
    val dir = Files.createTempDirectory("graft-daily")
    val f = dir.resolve(name)
    Files.writeString(f, rows.mkString("\n"))
    f.toString
  }

  test("two-day flow stitches boundary intervals across days") {
    val day1 = writeDay("d1.json", Seq(
      """{"FlightDate": "2024-03-01", "Reporting_Airline": "AA", "Origin": "JFK", "DepTime": 900}""",
      """{"FlightDate": "2024-03-01", "Reporting_Airline": "DL", "Origin": "JFK", "DepTime": 1100}"""))
    val day2 = writeDay("d2.json", Seq(
      """{"FlightDate": "2024-03-02", "Reporting_Airline": "UA", "Origin": "JFK", "DepTime": 800}"""))

    val flow = new DailyFlow(cfg)
    flow.processDaily(spark, day1)

    val afterDay1 = spark.read.table("flights_test")
    assert(afterDay1.count() === 2)
    // last flight of day 1 has no successor yet
    val d1last = afterDay1.orderBy(desc("FlightTime")).head()
    assert(d1last.isNullAt(d1last.fieldIndex("diff_next")))

    flow.processDaily(spark, day2)
    val afterDay2 = spark.read.table("flights_test")
    assert(afterDay2.count() === 3)

    // boundary fix: day-1 11:00 EST flight now points at day-2 08:00
    val fixed = afterDay2
      .where(col("FlightDate") === lit("2024-03-01").cast("date")
        && col("DepTime") === 1100)
      .head()
    assert(fixed.getAs[String]("Airline_next") === "UA") // reference naming (agregaciones.py:72)
    // 2024-03-01 11:00 EST -> 2024-03-02 08:00 EST = 21h = 75600 s
    assert(fixed.getAs[Long]("diff_next") === 75600L)

    spark.sql("DROP TABLE IF EXISTS flights_test")
  }

  test("three-day flow retains untouched partitions (dynamic overwrite, not truncate)") {
    val cfg3 = cfg.copy(output_table = Some("flights_test3"))
    val flow = new DailyFlow(cfg3)
    def day(n: Int, dep: Int) = writeDay(s"d$n.json", Seq(
      s"""{"FlightDate": "2024-03-0$n", "Reporting_Airline": "AA", "Origin": "JFK", "DepTime": $dep}"""))
    val modeKey = "spark.sql.sources.partitionOverwriteMode"
    val sessionMode = spark.conf.get(modeKey)

    flow.processDaily(spark, day(1, 900))
    flow.processDaily(spark, day(2, 1000))
    flow.processDaily(spark, day(3, 1100))

    // The table carries dynamic overwrite in its own options; the
    // session's setting is never touched.
    val ddl = spark.sql("SHOW CREATE TABLE flights_test3").head().getString(0)
    assert(ddl.contains("'partitionOverwriteMode' = 'dynamic'"), ddl)
    assert(spark.conf.get(modeKey) === sessionMode)

    val table = spark.read.table("flights_test3")
    // Day 3 stitches days 2+3 only; day 1's partition must SURVIVE —
    // saveAsTable(overwrite) would have truncated it (the reference's
    // latent flujo_diario.py:60-68 bug, deliberately fixed here).
    val dates = table.select("FlightDate").distinct()
      .collect().map(_.getDate(0).toString).sorted.toSeq
    assert(dates === Seq("2024-03-01", "2024-03-02", "2024-03-03"))
    assert(table.count() === 3)

    // And the day-1→day-2 boundary fix from the day-2 run is intact.
    val d1 = table.where(col("FlightDate") === lit("2024-03-01").cast("date")).head()
    assert(d1.getAs[String]("Airline_next") === "AA")
    assert(d1.getAs[Long]("diff_next") === 90000L) // 09:00 -> next day 10:00 EST = 25h

    spark.sql("DROP TABLE IF EXISTS flights_test3")
  }

  test("a user table named tabla_provisional survives the daily flow") {
    // The reference's provisional stitch table (flujo_diario.py:52-53)
    // is not reproduced: no name in the current database is borrowed.
    spark.sql("DROP TABLE IF EXISTS tabla_provisional")
    spark.range(3).toDF("id").write.saveAsTable("tabla_provisional")
    val flow = new DailyFlow(cfg.copy(output_table = Some("flights_test_clash")))
    flow.processDaily(spark, writeDay("d1.json", Seq(
      """{"FlightDate": "2024-03-01", "Reporting_Airline": "AA", "Origin": "JFK", "DepTime": 900}""")))
    flow.processDaily(spark, writeDay("d2.json", Seq(
      """{"FlightDate": "2024-03-02", "Reporting_Airline": "UA", "Origin": "JFK", "DepTime": 800}""")))

    assert(spark.catalog.tableExists("tabla_provisional"))
    val ids = spark.table("tabla_provisional").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids === Seq(0L, 1L, 2L))
    assert(spark.table("flights_test_clash").count() === 2)
    spark.sql("DROP TABLE IF EXISTS flights_test_clash")
    spark.sql("DROP TABLE IF EXISTS tabla_provisional")
  }

  test("a table created without dynamic overwrite fails loudly, not truncated") {
    val src = new DailyFlow(cfg.copy(output_table = Some("flights_test_src")))
    src.processDaily(spark, writeDay("d1.json", Seq(
      """{"FlightDate": "2024-03-01", "Reporting_Airline": "AA", "Origin": "JFK", "DepTime": 900}""")))
    spark.table("flights_test_src").write.partitionBy("FlightDate").saveAsTable("flights_test_static")

    val flow = new DailyFlow(cfg.copy(output_table = Some("flights_test_static")))
    val err = intercept[org.apache.spark.sql.AnalysisException] {
      flow.processDaily(spark, writeDay("d2.json", Seq(
        """{"FlightDate": "2024-03-02", "Reporting_Airline": "UA", "Origin": "JFK", "DepTime": 800}""")))
    }
    assert(err.getMessage.contains("UNSUPPORTED_OVERWRITE.TABLE"), err.getMessage)
    assert(spark.table("flights_test_static").count() === 1)
    spark.sql("DROP TABLE IF EXISTS flights_test_src")
    spark.sql("DROP TABLE IF EXISTS flights_test_static")
  }

  test("skipped day: table exists but previous partition empty still runs the union path") {
    // Reference wart preserved faithfully (SURVEY §3.1 step 4): a
    // present-but-empty previous partition is NOT treated as missing.
    val cfgS = cfg.copy(output_table = Some("flights_test_skip"))
    val flow = new DailyFlow(cfgS)
    flow.processDaily(spark, writeDay("d1.json", Seq(
      """{"FlightDate": "2024-03-01", "Reporting_Airline": "AA", "Origin": "JFK", "DepTime": 900}""")))
    // Day 3 arrives; day 2's partition is empty.
    flow.processDaily(spark, writeDay("d3.json", Seq(
      """{"FlightDate": "2024-03-03", "Reporting_Airline": "UA", "Origin": "JFK", "DepTime": 800}""")))
    val table = spark.read.table("flights_test_skip")
    assert(table.count() === 2) // both days retained
    // No cross-day stitch happened (prev partition was empty), so
    // day 1's last flight keeps its NULL interval.
    val d1 = table.where(col("FlightDate") === lit("2024-03-01").cast("date")).head()
    assert(d1.isNullAt(d1.fieldIndex("diff_next")))
    spark.sql("DROP TABLE IF EXISTS flights_test_skip")
  }
}
