package flightbench

import java.io.{BufferedOutputStream, FileOutputStream}
import java.nio.charset.StandardCharsets
import java.time.LocalDate
import java.util.SplittableRandom

/** What the generator wrote for one day, and what it predicts the
  * engine must produce from it. */
final case class DayFile(
    date: LocalDate,
    path: String,
    rows: Long,
    bytes: Long,
    nullFlightTime: Long)

/**
 * Seeded generator of one nested daily flight file: one JSON object per
 * line, the engine's 18 reference columns nested into `origin`, `dest`,
 * `dep` and `arr` structs.
 *
 * Faults the engine must absorb, each with a predictable outcome:
 *   - origins whose IATA code is missing from the engine's timezone
 *     dimension (`FlightTime` NULL);
 *   - cancelled flights whose `DepTime` is NULL, and departures written
 *     as 2400 (`FlightTime` NULL: 24:00 is not a wall-clock time);
 *   - hub airports with many departures in the same minute, so the
 *     next-flight window meets ties.
 *
 * The same (seed, stream, day) gives a byte-identical file: one
 * SplittableRandom per file, fixed field order, integer-only values.
 */
object FlightGen {

  // (IATA, state) of airports present in the timezone dimension, busiest
  // first; departure weights fall off as a power law over this order.
  private val Known: Array[(String, String)] = Array(
    "ATL" -> "GA", "ORD" -> "IL", "DFW" -> "TX", "DEN" -> "CO", "LAX" -> "CA",
    "JFK" -> "NY", "SFO" -> "CA", "SEA" -> "WA", "LAS" -> "NV", "MCO" -> "FL",
    "CLT" -> "NC", "PHX" -> "AZ", "IAH" -> "TX", "MIA" -> "FL", "EWR" -> "NJ",
    "MSP" -> "MN", "BOS" -> "MA", "DTW" -> "MI", "PHL" -> "PA", "LGA" -> "NY",
    "FLL" -> "FL", "BWI" -> "MD", "DCA" -> "VA", "SLC" -> "UT", "MDW" -> "IL",
    "IAD" -> "VA", "SAN" -> "CA", "HNL" -> "HI", "TPA" -> "FL", "PDX" -> "OR",
    "STL" -> "MO", "BNA" -> "TN", "AUS" -> "TX", "OAK" -> "CA", "MSY" -> "LA",
    "RDU" -> "NC", "SJC" -> "CA", "SMF" -> "CA", "SNA" -> "CA", "MCI" -> "MO",
    "CLE" -> "OH", "IND" -> "IN", "PIT" -> "PA", "CMH" -> "OH", "SAT" -> "TX",
    "RSW" -> "FL", "CVG" -> "KY", "PBI" -> "FL", "JAX" -> "FL", "ONT" -> "CA",
    "BUR" -> "CA", "ANC" -> "AK", "OGG" -> "HI", "ABQ" -> "NM", "BUF" -> "NY",
    "OMA" -> "NE", "BOI" -> "ID", "TUS" -> "AZ", "RNO" -> "NV", "OKC" -> "OK",
    "MEM" -> "TN")

  /** Codes absent from the timezone dimension. */
  val Unknown: Array[String] = Array("XQA", "XQB", "XQC")

  private val Airports: Array[(String, String)] =
    Known ++ Unknown.map(_ -> "XX")

  private val Carriers = Array(
    "AA", "DL", "UA", "WN", "B6", "AS", "NK", "F9", "G4", "HA", "MQ", "OO")

  /** Share of departures from an unknown-timezone origin. */
  private val UnknownShare = 0.01
  private val CancelledShare = 0.02
  /** Share of non-cancelled departures written as 2400. */
  private val MidnightShare = 0.003
  /** Share of departures copied from the previous one at a hub. */
  private val SameMinuteShare = 0.05

  private val cumWeights: Array[Double] = {
    val w = Known.indices.map(i => 1.0 / math.pow(i + 1, 0.9)).toArray
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total)
  }

  private def knownOrigin(r: SplittableRandom): Int = {
    val u = r.nextDouble()
    val i = java.util.Arrays.binarySearch(cumWeights, u)
    math.min(if (i >= 0) i else -i - 1, Known.length - 1)
  }

  /** A 64-bit mix of the seed, workload stream and day, so files of
    * different workloads and days never share a random sequence. */
  private def fileSeed(seed: Long, stream: String, day: Int): Long = {
    var h = seed * 0x9E3779B97F4A7C15L ^ stream.hashCode.toLong
    h = (h ^ (h >>> 31)) * 0xBF58476D1CE4E5B9L + day
    h = (h ^ (h >>> 27)) * 0x94D049BB133111EBL
    h ^ (h >>> 31)
  }

  /** Write `flights` departures dated `date` to `path`. */
  def writeDay(
      path: String, date: LocalDate, flights: Int,
      seed: Long, stream: String, day: Int): DayFile = {
    val r = new SplittableRandom(fileSeed(seed, stream, day))
    val dateStr = date.toString
    val out = new BufferedOutputStream(new FileOutputStream(path), 1 << 16)
    val sb = new java.lang.StringBuilder(512)
    var bytes = 0L
    var nulls = 0L
    var prevOrigin = 0
    var prevDep = 0
    try {
      var i = 0
      while (i < flights) {
        val sameMinute = i > 0 && prevOrigin < 3 &&
          r.nextDouble() < SameMinuteShare
        val o =
          if (sameMinute) prevOrigin
          else if (r.nextDouble() < UnknownShare)
            Known.length + r.nextInt(Unknown.length)
          else knownOrigin(r)
        var d = knownOrigin(r)
        if (d == o) d = (d + 1) % Known.length
        val cancelled = r.nextDouble() < CancelledShare
        // HHmm local departure; hubs bunch into the first minutes of
        // each hour's bank.
        val dep: Integer =
          if (cancelled) {
            if (r.nextBoolean()) null else Integer.valueOf(sampleDep(r, o))
          } else if (sameMinute) Integer.valueOf(prevDep)
          else if (r.nextDouble() < MidnightShare) Integer.valueOf(2400)
          else Integer.valueOf(sampleDep(r, o))
        val depDelay = if (dep == null) -1 else r.nextInt(-15, 180)
        val distance = 100 + r.nextInt(2700)
        val arr = if (dep == null || dep == 2400) 0
          else addMinutes(dep, distance / 8 + 30 + depDelay)
        if (o >= Known.length || dep == null || dep == 2400) nulls += 1
        if (dep != null) prevDep = dep
        prevOrigin = o

        sb.setLength(0)
        sb.append("{\"FlightDate\":\"").append(dateStr)
          .append("\",\"Reporting_Airline\":\"")
          .append(Carriers(r.nextInt(Carriers.length)))
          .append("\",\"Flight_Number_Reporting_Airline\":")
          .append(1 + r.nextInt(6999))
        appendAirport(sb, "origin", "Origin", o)
        appendAirport(sb, "dest", "Dest", d)
        sb.append(",\"dep\":{\"DepTime\":")
        if (dep == null) sb.append("null,\"DepDelay\":null}")
        else sb.append(dep.intValue).append(",\"DepDelay\":").append(depDelay).append('}')
        sb.append(",\"arr\":{\"ArrTime\":")
        if (dep == null) sb.append("null,\"ArrDelay\":null}")
        else sb.append(arr).append(",\"ArrDelay\":")
          .append(depDelay - 10 + r.nextInt(21)).append('}')
        sb.append(",\"Cancelled\":").append(if (cancelled) 1 else 0)
          .append(",\"Diverted\":")
          .append(if (!cancelled && r.nextInt(400) == 0) 1 else 0)
          .append(",\"Distance\":").append(distance)
          .append("}\n")
        val b = sb.toString.getBytes(StandardCharsets.UTF_8)
        out.write(b)
        bytes += b.length
        i += 1
      }
    } finally out.close()
    DayFile(date, path, flights.toLong, bytes, nulls)
  }

  private def sampleDep(r: SplittableRandom, origin: Int): Int = {
    val hour = 5 + r.nextInt(19) // 05:00 to 23:59
    // Hubs (the three busiest) depart in banks at the top of the hour.
    val minute = if (origin < 3) r.nextInt(10) else r.nextInt(60)
    hour * 100 + minute
  }

  /** HHmm + minutes, wrapped within the day (arrival times only). */
  private def addMinutes(hhmm: Int, minutes: Int): Int = {
    val t = Math.floorMod(hhmm / 100 * 60 + hhmm % 100 + minutes, 1440)
    t / 60 * 100 + t % 60
  }

  private def appendAirport(
      sb: java.lang.StringBuilder, struct: String, prefix: String,
      i: Int): Unit = {
    val (code, state) = Airports(i)
    sb.append(",\"").append(struct).append("\":{\"").append(prefix)
      .append("AirportID\":").append(10000 + i)
      .append(",\"").append(prefix).append("\":\"").append(code)
      .append("\",\"").append(prefix).append("CityName\":\"City of ")
      .append(code).append("\",\"").append(prefix)
      .append("StateName\":\"").append(state).append("\"}")
  }
}
