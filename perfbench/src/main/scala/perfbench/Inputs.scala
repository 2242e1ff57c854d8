package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.time.LocalDate

/** Seeded raw inputs in the reference's formats: an airports file
  * (`Code,Description` with `"City, ST: Name"`), a carriers file
  * (`Code,Description` with `"Name: CODE"`) and BTS on-time flights CSVs
  * with the 29 columns of `Schemas.flightsRaw`.
  *
  * Flight `i` is a pure function of (seed, i), and three properties hold by
  * construction so the benchmark knows every expected count up front:
  *
  *  - Distinct after projection: the day comes from `i % 31` and
  *    (carrier, scheduled departure minute, origin, destination) from a
  *    bijection of `i / 31`, and the fact table keeps all five through
  *    injective foreign keys. No two flights share a fact row.
  *  - A fixed delay pool: a delayed flight takes tuple `(i / 5) % poolSize`
  *    of a pool of distinct delay tuples, an on-time flight one of 101
  *    "other delay" values. Any `5 * poolSize + 5` consecutive flights
  *    cover every tuple, so a batch that long has the same delay
  *    dimension, with the same surrogate keys, as any other.
  *  - Months: flights `[0, monthRows)` fly in August 2018, later ids in
  *    October 2018, so a batch that reaches past `monthRows` adds 31 dates
  *    that sort after August's and keeps August's date keys.
  */
object Inputs {

  val airportCount = 6510
  val carrierCount = 1656
  /** Airports and carriers that actually fly in the generated flights. */
  val servedAirports = 320
  val activeCarriers = 17
  private val minutesPerDay = 1440
  private val cancelEvery = 67
  private val delayedEvery = 5
  private val onTimeOthers = 101

  /** splitmix64 finaliser: a well-mixed 64-bit value per (seed, i, field). */
  def mix(seed: Long, i: Long, field: Int): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + i * 0xBF58476D1CE4E5B9L + field * 0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  private def pick(seed: Long, i: Long, field: Int, n: Int): Int =
    java.lang.Math.floorMod(mix(seed, i, field), n.toLong).toInt

  private def gcd(a: Long, b: Long): Long = if (b == 0) a else gcd(b, a % b)

  /** A seeded bijection of [0, m): x -> (a * x + b) mod m with gcd(a, m) = 1. */
  final class Permutation(seed: Long, field: Int, val m: Long) {
    private val a: Long = Iterator.from(0)
      .map(k => java.lang.Math.floorMod(mix(seed, k, field), m) max 1L)
      .find(a => gcd(a, m) == 1).get
    private val b: Long = java.lang.Math.floorMod(mix(seed, -1, field), m)
    require(m <= 3000000000L, "a * x must not overflow")
    def apply(x: Long): Long = java.lang.Math.floorMod(a * x + b, m)
  }

  private val states = Vector("AK", "AL", "AR", "AZ", "CA", "CO", "CT", "FL",
    "GA", "HI", "IA", "ID", "IL", "IN", "KS", "KY", "LA", "MA", "MD", "ME",
    "MI", "MN", "MO", "MS", "MT", "NC", "ND", "NE", "NH", "NJ", "NM", "NV",
    "NY", "OH", "OK", "OR", "PA", "PR", "SC", "SD", "TN", "TX", "UT", "VA",
    "VT", "WA", "WI", "WV", "WY")
  private val countries = Vector("Canada", "Mexico", "Japan", "Germany",
    "Brazil", "Australia", "Iceland", "Philippines")
  private val syllables = Vector("an", "bar", "ca", "del", "el", "fa", "gor",
    "ha", "is", "jun", "ka", "lo", "ma", "nor", "os", "pa", "quin", "ro",
    "sa", "ta", "ur", "ve", "wil", "xa", "yo", "zen")

  private def word(seed: Long, i: Long, field: Int): String = {
    val n = 2 + pick(seed, i, field, 3)
    val s = (0 until n).map(k => syllables(pick(seed, i, field * 7 + k, syllables.size))).mkString
    s.capitalize
  }

  /** The sorted, distinct three-character airport codes. */
  def airportCodes(seed: Long): Vector[String] = {
    val alphabet = "0123456789ABCDEFGHIJKLMNOPQRSTUVWXYZ"
    val space = 36 * 36 * 36
    val perm = new Permutation(seed, 11, space.toLong)
    (0 until airportCount).map { k =>
      val v = perm(k.toLong).toInt
      s"${alphabet(v / 1296)}${alphabet(v / 36 % 36)}${alphabet(v % 36)}"
    }.sorted.toVector
  }

  /** Carrier ids, in file order. */
  def carrierIds: Vector[Long] = Vector.tabulate(carrierCount)(k => 19031L + 3L * k)

  /** The structure of one generated data set: which airports and carriers
    * the flights use, and the bijections behind every flight. */
  final class Layout(val seed: Long, val monthRows: Int) {
    require(monthRows >= 31 * 100, s"monthRows=$monthRows is too small")
    val codes: Vector[String] = airportCodes(seed)
    private val airportPerm = new Permutation(seed, 12, airportCount.toLong)
    /** Indices into `codes` of the airports flights use. */
    val served: Vector[Int] = Vector.tabulate(servedAirports)(k => airportPerm(k.toLong).toInt)
    private val carrierPerm = new Permutation(seed, 13, carrierCount.toLong)
    val carriers: Vector[Long] = Vector.tabulate(activeCarriers)(k => carrierIds(carrierPerm(k.toLong).toInt))
    /** Delay tuples: one per twenty flights (the reference month has one
      * per ten); fewer keeps the batch that must cover them all short. */
    val poolSize: Int = monthRows / 20
    private val routePerm = new Permutation(seed, 14,
      activeCarriers.toLong * minutesPerDay * servedAirports * (servedAirports - 1))
    private val poolPerm = new Permutation(seed, 15, poolSize.toLong)
    private val cancelPhase = pick(seed, 0, 16, cancelEvery)
    private val delayPhase = pick(seed, 0, 17, delayedEvery)

    /** Number of consecutive flights that covers every delay tuple, every
      * cancellation code and every day. */
    def coveringRun: Int = delayedEvery * (poolSize + 1) + delayedEvery * cancelEvery * 4

    /** Every fifth flight is delayed, so any `delayedEvery * poolSize`
      * consecutive flights hold every pool tuple. */
    def isDelayed(i: Long): Boolean = java.lang.Math.floorMod(i, delayedEvery.toLong) == delayPhase
    def isCancelled(i: Long): Boolean =
      !isDelayed(i) && java.lang.Math.floorMod(i, cancelEvery.toLong) == cancelPhase

    def date(i: Long): LocalDate = {
      val base = if (i < monthRows) LocalDate.of(2018, 8, 1) else LocalDate.of(2018, 10, 1)
      base.plusDays(i % 31)
    }

    /** (carrier id, scheduled departure minute, origin code, destination code). */
    def route(i: Long): (Long, Int, String, String) = {
      var p = routePerm(i / 31)
      val carrier = (p % activeCarriers).toInt; p /= activeCarriers
      val minute = (p % minutesPerDay).toInt; p /= minutesPerDay
      val origin = (p % servedAirports).toInt; p /= servedAirports
      val dest = (origin + 1 + (p % (servedAirports - 1)).toInt) % servedAirports
      (carriers(carrier), minute, codes(served(origin)), codes(served(dest)))
    }

    /** The six values of the delay dimension's natural key, after the
      * imputation `Dims.delays` applies: carrier, weather, nas, security,
      * late aircraft and other (= actual - scheduled elapsed time). */
    def delayTuple(i: Long): Seq[Double] =
      if (isDelayed(i)) poolTuple(poolPerm((i / delayedEvery) % poolSize).toInt)
      else if (isCancelled(i)) Seq(0, 0, 0, 0, 0, 0)
      else Seq(0, 0, 0, 0, 0, onTimeOther(i).toDouble)

    private val otherPhase = pick(seed, 0, 18, onTimeOthers)
    private def onTimeOther(i: Long): Int =
      java.lang.Math.floorMod(i * 7 + otherPhase, onTimeOthers.toLong).toInt - 40

    /** Tuple `k` of the pool; (late aircraft, nas, carrier) encode k, and a
      * carrier delay of at least 1 keeps it apart from on-time tuples. */
    def poolTuple(k: Int): Seq[Double] = {
      val late = k % 50
      val nas = k / 50 % 40
      val carrier = k / 2000 + 1
      val weather = if (pick(seed, k, 19, 10) == 0) pick(seed, k, 20, 120) else 0
      val security = if (pick(seed, k, 21, 50) == 0) 5 else 0
      val other = pick(seed, k, 22, 61) - 20
      Seq(carrier, weather, nas, security, late, other).map(_.toDouble)
    }

    /** Cancellation pair (CANCELLED, CANCELLATION_CODE). */
    def cancellation(i: Long): (Double, Option[String]) =
      if (isCancelled(i)) (1.0, Some("ABCD".substring(((i / cancelEvery) % 4).toInt, ((i / cancelEvery) % 4).toInt + 1)))
      else (0.0, None)
  }

  private def hhmm(minutes: Int): Int = {
    val m = java.lang.Math.floorMod(minutes, minutesPerDay)
    m / 60 * 100 + m % 60
  }
  /** BTS writes numbers with two decimals; every generated value is whole. */
  private def num(d: Double): String = s"${d.toLong}.00"

  val flightsHeader: String = "FL_DATE,OP_CARRIER_AIRLINE_ID,TAIL_NUM,OP_CARRIER_FL_NUM," +
    "ORIGIN_AIRPORT_ID,ORIGIN_AIRPORT_SEQ_ID,ORIGIN_CITY_MARKET_ID,ORIGIN," +
    "DEST_AIRPORT_ID,DEST_AIRPORT_SEQ_ID,DEST_CITY_MARKET_ID,DEST,CRS_DEP_TIME," +
    "DEP_TIME,DEP_DELAY,DEP_DELAY_NEW,ARR_TIME,ARR_DELAY,ARR_DELAY_NEW,CANCELLED," +
    "CANCELLATION_CODE,CRS_ELAPSED_TIME,ACTUAL_ELAPSED_TIME,CARRIER_DELAY," +
    "WEATHER_DELAY,NAS_DELAY,SECURITY_DELAY,LATE_AIRCRAFT_DELAY,"

  /** One CSV line of flight `i` (no trailing newline). */
  def flightLine(l: Layout, i: Long): String = {
    val seed = l.seed
    val (carrier, crsMin, origin, dest) = l.route(i)
    val d = l.delayTuple(i)
    val cancelled = l.isCancelled(i)
    val (cFlag, cCode) = l.cancellation(i)
    val crsElapsed = 45 + pick(seed, i, 30, 300)
    val arrDelay = if (cancelled) 0.0 else if (l.isDelayed(i)) d.take(5).sum + math.max(d(5), 0) + 15
      else (pick(seed, i, 31, 29) - 14).toDouble
    val depDelay = arrDelay - d(5)
    val airportNo = (code: String) => 10000 + (code.hashCode & 0xffff)
    val sb = new StringBuilder(256)
    def f(s: String): Unit = sb.append(s).append(',')
    f(l.date(i).toString)
    f(carrier.toString)
    f(s"N${100 + pick(seed, i, 32, 900)}${"ABCDEFGHJKLMNPQRSTUVWXYZ"(pick(seed, i, 33, 24))}${"ABCDEFGHJKLMNPQRSTUVWXYZ"(pick(seed, i, 34, 24))}")
    f((1 + pick(seed, i, 35, 7000)).toString)
    f(airportNo(origin).toString); f((airportNo(origin) * 100 + 3).toString)
    f((30000 + airportNo(origin) % 700).toString); f(origin)
    f(airportNo(dest).toString); f((airportNo(dest) * 100 + 3).toString)
    f((30000 + airportNo(dest) % 700).toString); f(dest)
    f(hhmm(crsMin).toString)
    if (cancelled) { f(""); f(""); f("") }
    else { f(hhmm(crsMin + depDelay.toInt).toString); f(num(depDelay)); f(num(math.max(depDelay, 0))) }
    if (cancelled) { f(""); f(""); f("") }
    else {
      f(hhmm(crsMin + crsElapsed + arrDelay.toInt).toString); f(num(arrDelay)); f(num(math.max(arrDelay, 0)))
    }
    f(num(cFlag)); f(cCode.getOrElse(""))
    f(num(crsElapsed))
    f(if (cancelled) "" else num(crsElapsed + d(5)))
    if (l.isDelayed(i)) d.take(5).foreach(v => f(num(v))) else (0 until 5).foreach(_ => f(""))
    sb.toString
  }

  private def writeLines(file: File, header: String, lines: Iterator[String]): Long = {
    file.getParentFile.mkdirs()
    val w = new BufferedWriter(new OutputStreamWriter(new FileOutputStream(file), StandardCharsets.UTF_8), 1 << 20)
    try {
      w.write(header); w.write('\n')
      lines.foreach { s => w.write(s); w.write('\n') }
    } finally w.close()
    file.length()
  }

  private def quote(s: String): String = "\"" + s.replace("\"", "\"\"") + "\""

  /** Writes `airports.csv`; returns its size in bytes. */
  def writeAirports(seed: Long, file: File): Long = {
    val codes = airportCodes(seed)
    writeLines(file, "Code,Description", codes.iterator.zipWithIndex.map { case (code, k) =>
      val city = word(seed, k, 40)
      val where = if (pick(seed, k, 41, 7) == 0) countries(pick(seed, k, 42, countries.size))
        else states(pick(seed, k, 43, states.size))
      s"$code,${quote(s"$city, $where: ${word(seed, k, 44)} ${if (k % 3 == 0) "International" else "Municipal"} Airport")}"
    })
  }

  /** Writes `carriers.csv`; returns its size in bytes. */
  def writeCarriers(seed: Long, file: File): Long =
    writeLines(file, "Code,Description", carrierIds.iterator.zipWithIndex.map { case (id, k) =>
      val short = s"${"ABCDEFGHIJKLMNOPQRSTUVWXYZ"(k % 26)}${"ABCDEFGHIJKLMNOPQRSTUVWXYZ"(k / 26 % 26)}${if (k >= 676) (k / 676).toString else ""}"
      s"$id,${quote(s"${word(seed, k, 50)} Air Lines Inc.: $short")}"
    })

  /** Writes flights `[from, until)` as one BTS CSV; returns its size in bytes. */
  def writeFlights(l: Layout, from: Long, until: Long, file: File): Long =
    writeLines(file, flightsHeader, Iterator.range(from, until).map(i => flightLine(l, i)))

  /** Rows each curated table gains when flights `[from, until)` are
    * published over a warehouse that already holds flights
    * `[storedFrom, storedUntil)` (an empty range for an empty warehouse).
    * Worked out from the layout with plain collections, independently of
    * the engine: a dimension row is new when its (key, values) pair is, and
    * a flight is new when it was not stored and no dimension key it refers
    * to moved. */
  def expectedAppends(l: Layout, stored: (Long, Long), batch: (Long, Long)): Map[String, Long] = {
    def keyed[T](xs: Iterable[T])(implicit o: Ordering[T]): Set[(Long, T)] =
      xs.toSeq.sorted.zipWithIndex.map { case (x, k) => (k.toLong, x) }.toSet
    implicit val tupleOrder: Ordering[Seq[Double]] = Ordering.Implicits.seqOrdering[Seq, Double]
    implicit val cancelOrder: Ordering[(Double, Option[String])] =
      Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Option(Ordering.String))
    def dims(r: (Long, Long)) = {
      val ids = r._1 until r._2
      (keyed(ids.iterator.map(l.date).toSet)(Ordering.by[LocalDate, Long](_.toEpochDay)),
        keyed(ids.iterator.map(l.delayTuple).toSet),
        keyed(ids.iterator.map(l.cancellation).toSet))
    }
    val (sDates, sDelays, sCancel) = dims(stored)
    val (bDates, bDelays, bCancel) = dims(batch)
    val storedEmpty = stored._1 >= stored._2
    // a flight already stored is unchanged only if the batch kept every key
    require(storedEmpty || (sDates.subsetOf(bDates) && sDelays.subsetOf(bDelays)),
      "batch reorders stored dimension keys; its fact appends are not known")
    val newFlights = (batch._2 - batch._1) -
      math.max(0L, math.min(batch._2, stored._2) - math.max(batch._1, stored._1))
    Map(
      "airports" -> (if (storedEmpty) airportCount.toLong else 0L),
      "air_carriers" -> (if (storedEmpty) carrierCount.toLong else 0L),
      "time" -> (if (storedEmpty) minutesPerDay.toLong else 0L),
      "date" -> (bDates -- sDates).size.toLong,
      "cancelations" -> (bCancel -- sCancel).size.toLong,
      "delays" -> (bDelays -- sDelays).size.toLong,
      "flights" -> newFlights)
  }
}
