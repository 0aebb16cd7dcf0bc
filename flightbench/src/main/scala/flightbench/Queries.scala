package flightbench

import java.time.LocalDate
import java.util.SplittableRandom

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The reference notebook's analyst queries over the output table. */
object Queries {

  val kinds: Seq[String] = Seq("min_time", "null_counts", "diff_stats", "lookup")

  /** Hub the airport-day lookup reads: the busiest origin. */
  private val LookupOrigin = "ATL"

  def run(
      kind: String, t: DataFrame, wl: Workload, days: Seq[LocalDate],
      rng: SplittableRandom): DataFrame = kind match {
    case "min_time" =>
      t.groupBy("Origin").agg(min("FlightTime").as("first_departure"))
    case "null_counts" =>
      t.where(col("FlightTime").isNull).groupBy("FlightDate").count()
    case "diff_stats" =>
      t.where(col("FlightDate").between(
          java.sql.Date.valueOf(wl.start), java.sql.Date.valueOf(wl.start.plusDays(6))))
        .groupBy("Origin")
        .agg(count("diff_next").as("n"), min("diff_next").as("min_s"),
          avg("diff_next").as("avg_s"), max("diff_next").as("max_s"))
    case "lookup" =>
      val day = days(rng.nextInt(days.length))
      t.where(col("FlightDate") === java.sql.Date.valueOf(day) &&
        col("Origin") === LookupOrigin)
  }
}
