package flightbench

import java.time.LocalDate

import org.apache.spark.sql.types._

/**
 * One workload: how big its days are, how many are generated in
 * set-up, and whether they arrive through the batch entry point
 * (closed loop, one caller) or land in a directory drained by the
 * streaming entry point (open loop, fixed schedule) beside a reader.
 *
 * `poolDays` bounds a run: a closed loop that drains the pool before
 * its time is up stops early, so the pool is sized well above what a
 * run ingests today. The first `historyDays` of the pool are ingested
 * in set-up, so every timed day stitches with the day before it.
 */
final case class Workload(
    name: String,
    dayFlights: Int,
    poolDays: Int,
    start: LocalDate,
    historyDays: Int = 0,
    landEverySeconds: Double = 0.0) {
  def streaming: Boolean = landEverySeconds > 0
}

object Workloads {

  val All: Seq[Workload] = Seq(
    Workload("bulk_days", dayFlights = 80000, poolDays = 9,
      start = LocalDate.of(2024, 5, 1), historyDays = 2),
    Workload("ingest_with_reads", dayFlights = 5000, poolDays = 10,
      start = LocalDate.of(2024, 9, 1), historyDays = 4,
      landEverySeconds = 3.3))

  def byName(name: String): Workload = All.find(_.name == name).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload '$name' (expected one of ${All.map(_.name).mkString(", ")})"))

  /** Flights of the first warm-up day of a batch workload: small
    * enough that its cost is the session's one-time work, not data. */
  val WarmFlights = 500

  /** The engine configuration the benchmark ingests with: the 18
    * reference columns, partitioned output like the reference config. */
  def configJson(table: String): String =
    s"""{
      |  "data_columns": [
      |    {"name": "FlightDate", "type": "date", "comment": "Flight date", "format": "yyyy-MM-dd"},
      |    {"name": "Reporting_Airline", "type": "string", "comment": "Carrier code"},
      |    {"name": "Flight_Number_Reporting_Airline", "type": "int", "comment": "Flight number"},
      |    {"name": "OriginAirportID", "type": "int", "comment": "Origin airport id"},
      |    {"name": "Origin", "type": "string", "comment": "Origin IATA code"},
      |    {"name": "OriginCityName", "type": "string", "comment": "Origin city"},
      |    {"name": "OriginStateName", "type": "string", "comment": "Origin state"},
      |    {"name": "DestAirportID", "type": "int", "comment": "Destination airport id"},
      |    {"name": "Dest", "type": "string", "comment": "Destination IATA code"},
      |    {"name": "DestCityName", "type": "string", "comment": "Destination city"},
      |    {"name": "DestStateName", "type": "string", "comment": "Destination state"},
      |    {"name": "DepTime", "type": "int", "comment": "Local departure time, HHmm"},
      |    {"name": "DepDelay", "type": "int", "comment": "Departure delay, minutes"},
      |    {"name": "ArrTime", "type": "int", "comment": "Local arrival time, HHmm"},
      |    {"name": "ArrDelay", "type": "int", "comment": "Arrival delay, minutes"},
      |    {"name": "Cancelled", "type": "boolean", "comment": "Cancelled flag from 0/1"},
      |    {"name": "Diverted", "type": "boolean", "comment": "Diverted flag from 0/1"},
      |    {"name": "Distance", "type": "int", "comment": "Distance, miles"}
      |  ],
      |  "output_table": "$table",
      |  "output_partitions": 10
      |}""".stripMargin

  /** The raw landing-file schema the streaming entry point is given
    * (JSON numbers are longs; the engine's coercion narrows them). */
  val RawSchema: StructType = {
    def airport(p: String) = StructType(Seq(
      StructField(s"${p}AirportID", LongType), StructField(p, StringType),
      StructField(s"${p}CityName", StringType), StructField(s"${p}StateName", StringType)))
    StructType(Seq(
      StructField("FlightDate", StringType),
      StructField("Reporting_Airline", StringType),
      StructField("Flight_Number_Reporting_Airline", LongType),
      StructField("origin", airport("Origin")),
      StructField("dest", airport("Dest")),
      StructField("dep", StructType(Seq(
        StructField("DepTime", LongType), StructField("DepDelay", LongType)))),
      StructField("arr", StructType(Seq(
        StructField("ArrTime", LongType), StructField("ArrDelay", LongType)))),
      StructField("Cancelled", LongType),
      StructField("Diverted", LongType),
      StructField("Distance", LongType)))
  }
}
