package flightbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Outcome of one correctness check. */
final case class Check(name: String, ok: Boolean, detail: String)

/**
 * Correctness gate over the output table, run after the timed phase
 * against what the generator wrote and predicted.
 */
object Gate {

  def run(spark: SparkSession, table: String, days: Seq[DayFile]): Seq[Check] = {
    spark.catalog.refreshTable(table)
    val t = spark.read.table(table)
    val rows = t.count()
    val wantRows = days.map(_.rows).sum
    val nulls = t.where(col("FlightTime").isNull).count()
    val wantNulls = days.map(_.nullFlightTime).sum

    // Next-flight intervals against a whole-table recompute, per
    // origin, as multisets: which of two flights departing in the same
    // minute comes first is unordered, but the (time, next time,
    // interval) triples are not. Rows without a FlightTime are left
    // out: the engine orders them first within each two-day stitch,
    // so their successors depend on which days were stitched together.
    val timed = col("FlightTime").isNotNull
    val cols = Seq("Origin", "FlightTime", "FlightTime_next", "diff_next").map(col)
    val got = t.where(timed).select(cols: _*)
    val w = Window.partitionBy("Origin").orderBy("FlightTime")
    val want = t.select("Origin", "FlightTime")
      .withColumn("FlightTime_next", lead(col("FlightTime"), 1).over(w))
      .withColumn("diff_next",
        (col("FlightTime_next").cast("long") - col("FlightTime").cast("long")).cast("bigint"))
      .where(timed).select(cols: _*)
    val extra = got.exceptAll(want).count()
    val missing = want.exceptAll(got).count()

    // Every ingested day is its own partition with all its rows, so
    // each overwrite left the older partitions in place.
    val perDate = t.groupBy("FlightDate").count().collect()
      .map(r => r.getDate(0).toLocalDate -> r.getLong(1)).toMap
    val wantPerDate = days.map(d => d.date -> d.rows).toMap

    Seq(
      Check("row_count", rows == wantRows, s"$rows rows, generated $wantRows"),
      Check("null_flight_time", nulls == wantNulls,
        s"$nulls NULL FlightTime, predicted $wantNulls"),
      Check("next_flight_intervals", extra == 0 && missing == 0,
        s"$extra triples not in the recompute, $missing recomputed triples absent"),
      Check("partitions", perDate == wantPerDate,
        s"${perDate.size} partitions, expected ${wantPerDate.size}" +
          (if (perDate == wantPerDate) "" else
            s"; differing dates: ${(perDate.keySet ++ wantPerDate.keySet)
              .filter(d => perDate.get(d) != wantPerDate.get(d)).map(_.toString).toSeq.sorted.mkString(",")}")))
  }
}
