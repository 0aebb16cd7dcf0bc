package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.config.EngineConfig
import graft.sources.IngestionEngine

/**
 * Daily batch-incremental orchestration
 * (reference: motor_ingesta/flujo_diario.py:27-74).
 *
 * Per daily file: ingest (flatten + coerce) → UTC enrich → detect the
 * file's date from the data (`head(1)`, single-date-file contract; a
 * frame with no rows writes nothing) → if the output table exists,
 * read its previous-day partition and `unionByName(allowMissingColumns)`
 * so yesterday's rows (which carry `_next` columns) and today's (which
 * don't) align (a present-but-empty partition still takes the union
 * path, faithfully preserving the reference's semantics) → recompute
 * next-flight intervals over the stitched frame, fixing yesterday's
 * boundary NULLs → overwrite only the affected `FlightDate` partitions.
 *
 * One write path: the first day creates the table with the
 * `partitionOverwriteMode=dynamic` option, which the table keeps in its
 * `OPTIONS`; every later day `insertInto`s it and Spark applies dynamic
 * overwrite from there, without touching the session's conf. The
 * stitched frame reads the very table it overwrites, and that is safe
 * only in dynamic mode: Spark writes the new partitions to a staging
 * directory and swaps them in at job commit, after every read has
 * finished, so the reference's provisional stitch table
 * (flujo_diario.py:52-53) is not needed. A table created without the
 * option (static mode) fails the insert's analysis with
 * `UNSUPPORTED_OVERWRITE.TABLE`; it is never truncated.
 *
 * Scale: the previous-day read is partition-pruned; the stitch frame is
 * ≤2 days regardless of table size; the write repartitions by the
 * partition column for file-count control and replaces only the 1–2
 * affected partitions, so all older partitions survive.
 * (`saveAsTable(mode=overwrite)` on an existing table would drop and
 * recreate the WHOLE table regardless of partitionOverwriteMode — a
 * latent data-loss bug in the reference's flujo_diario.py:60-68 that
 * this rebuild deliberately fixes; guarded by the 3-day retention
 * test in DailyFlowSpec.)
 */
class DailyFlow(val config: EngineConfig) {

  /** The flow's ingestion (scan → flatten → coerce), shared with the
    * streaming skin. */
  val engine = new IngestionEngine(config)

  /** Process one daily JSON file end-to-end into the output table. */
  def processDaily(spark: SparkSession, dataFile: String): Unit =
    processIngested(spark, engine.ingestFile(spark, dataFile))

  /**
   * Core of the daily flow over an already-ingested (flattened +
   * coerced) frame — shared by the batch path above and the
   * Structured Streaming skin
   * ([[graft.streaming.StreamingDailyFlow]]), whose `foreachBatch`
   * hands each landing file's micro-batch here.
   */
  def processIngested(spark: SparkSession, frame0: DataFrame): Unit = {
    val ingested = frame0.cache()
    val withUtc = Enrich.addUtcTime(ingested, Enrich.loadTimezones(spark))
    val out = config.outputTable

    // Action #1: day detection from the data itself (single-date-file
    // contract — reference: flujo_diario.py:40-41).
    for (first <- withUtc.select("FlightDate").head(1)) {
      val prevDay = first.getDate(0).toLocalDate.minusDays(1)
      val exists = spark.catalog.tableExists(out)

      // Previous-day partition scan; table missing ⇒ no previous data
      // (reference: flujo_diario.py:43-47).
      val frame =
        if (!exists) withUtc
        else spark.read.table(out)
          .where(col("FlightDate") === lit(java.sql.Date.valueOf(prevDay)))
          .unionByName(withUtc, allowMissingColumns = true)

      // Reference schema parity: the lead-carrier column is named
      // `Airline_next` (agregaciones.py:72).
      val withIntervals = Enrich
        .addIntervals(frame, carrierNextCol = Some("Airline_next"))
        .repartition(config.outputPartitions, col("FlightDate"))

      if (exists) {
        // insertInto is position-based: align to the table's column
        // order (partition column last).
        withIntervals
          .select(spark.table(out).columns.toIndexedSeq.map(col): _*)
          .write.mode("overwrite")
          .insertInto(out)
      } else {
        withIntervals
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("FlightDate")
          .saveAsTable(out)
      }

      // Dynamic overwrite replaces partition files in place; invalidate
      // any cached file listings other readers of the table may hold.
      spark.catalog.refreshTable(out)
    }
    ingested.unpersist()
  }
}
