package flightbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Enrich, Flatten}
import graft.sources.IngestionEngine

final case class ProbeResult(
    flattenPlanMs: Double,
    flattenCoerceSelfS: Double,
    tzLoadMs: Double,
    utcSelfS: Double,
    intervalsSelfS: Double,
    intervalsShuffleBytes: Double,
    utcNullRatio: Double)

/**
 * Per-row layers of the traced run, timed by calling each module on an
 * ingested day after the timed phase. The operators are lazy and fuse
 * into the daily flow's stages, so their self time is measured as a
 * difference: a no-op sink over the operator's output minus the same
 * sink over its (cached) input.
 *
 *   flatten_coerce: IngestionEngine.coerce(Flatten.flatten(raw)) vs raw
 *   enrich.utc:     Enrich.addUtcTime(day, timezones) vs day
 *   enrich.intervals: Enrich.addIntervals over the stitched two days
 *                   (that day and the one before, read back from the
 *                   table) vs the stitched frame
 *
 * Each timing is the faster of two repetitions.
 */
object Probes {

  val Empty: ProbeResult = ProbeResult(0, 0, 0, 0, 0, 0, 0)

  private val Reps = 2

  def run(
      spark: SparkSession, trace: Trace, engine: IngestionEngine,
      table: String, days: Seq[DayFile], streaming: Boolean): ProbeResult = {
    spark.catalog.refreshTable(table)
    val t = spark.read.table(table)
    val rows = t.count()
    val nullRatio = t.where(col("FlightTime").isNull).count().toDouble / math.max(1L, rows)

    def timed(name: String)(body: => Unit): Double = {
      val s = (1 to Reps).map { _ =>
        val start = System.nanoTime()
        trace.span(name)(body)
        (System.nanoTime() - start) / 1e9
      }
      s.min
    }
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

    val perDay = days.map { d =>
      val schema =
        if (streaming) Workloads.RawSchema else engine.readJson(spark, d.path).schema
      val raw = spark.read.schema(schema).json(d.path)
      val flattenS = timed("probe.flatten")(Flatten.flatten(raw))
      val rawS = timed("probe.raw")(noop(raw))
      val fcS = timed("probe.flatten_coerce")(noop(engine.coerce(Flatten.flatten(raw))))

      val day = engine.coerce(Flatten.flatten(raw)).cache()
      noop(day)
      val dayS = timed("probe.day")(noop(day))
      val tzS = timed("probe.tz_load")(Enrich.loadTimezones(spark))
      val tz = Enrich.loadTimezones(spark)
      val utcS = timed("probe.utc")(noop(Enrich.addUtcTime(day, tz)))
      day.unpersist()

      val dates = Seq(d.date.minusDays(1), d.date).map(java.sql.Date.valueOf)
      val stitched = t.where(col("FlightDate").isin(dates: _*))
        .drop("FlightTime_next", "Airline_next", "diff_next").cache()
      noop(stitched)
      val stS = timed("probe.stitched")(noop(stitched))
      trace.drain()
      val before = trace.workNamed("probe.intervals").map(_.shuffleWriteBytes).sum
      val ivS = timed("probe.intervals")(noop(
        Enrich.addIntervals(stitched, carrierNextCol = Some("Airline_next"))))
      trace.drain()
      val shuffle =
        (trace.workNamed("probe.intervals").map(_.shuffleWriteBytes).sum - before) / Reps
      stitched.unpersist()
      Seq(flattenS * 1000, fcS - rawS, tzS * 1000, utcS - dayS, ivS - stS, shuffle.toDouble)
    }
    def med(i: Int) = if (perDay.isEmpty) 0.0 else Stats.median(perDay.map(_(i)))
    ProbeResult(med(0), med(1), med(2), med(3), med(4), med(5), nullRatio)
  }
}
