package perfbench

import java.time.LocalDate
import java.util.SplittableRandom

/** Seeded Open-Meteo-shaped payloads for the backfill workload, and the
  * daily metrics the pipeline must produce from them, computed here in plain
  * Scala as the independent reference.
  *
  * Each day carries a 168-hour forecast (seven days of hourly values from
  * the run date on), as the real API returns; about 3% of the values in each
  * series are null, which the silver casts must pass through.
  */
object Weather {

  val hours = 168
  val hourlyVars: Seq[String] = Seq("temperature_2m", "relative_humidity_2m", "precipitation")

  final case class Day(date: LocalDate, temp: Seq[Option[Double]],
                       hum: Seq[Option[Double]], precip: Seq[Option[Double]]) {

    def json: String = {
      def arr(xs: Seq[Option[Double]]) = xs.map(_.fold("null")(_.toString)).mkString("[", ",", "]")
      val times = (0 until hours).map { h =>
        "\"" + date.plusDays(h / 24).toString + f"T${h % 24}%02d:00" + "\"" }
      s"""{"latitude": 39.68, "longitude": -75.75, "generationtime_ms": 0.25,
         | "utc_offset_seconds": -14400, "timezone": "America/New_York", "elevation": 27.0,
         | "hourly_units": {"time": "iso8601", "temperature_2m": "°C",
         |   "relative_humidity_2m": "%", "precipitation": "mm"},
         | "hourly": {"time": ${times.mkString("[", ",", "]")},
         |   "temperature_2m": ${arr(temp)}, "relative_humidity_2m": ${arr(hum)},
         |   "precipitation": ${arr(precip)}}}""".stripMargin
    }

    /** (min, max, avg) temperature, precipitation sum, avg humidity: the gold
      * row for this day. Summed in hour order, as the one-partition gold
      * aggregate does. */
    def expected: Seq[Option[Double]] = {
      def avg(xs: Seq[Double]) = if (xs.isEmpty) None else Some(xs.sum / xs.size)
      val t = temp.flatten
      Seq(t.minOption, t.maxOption, avg(t),
        if (precip.flatten.isEmpty) None else Some(precip.flatten.sum), avg(hum.flatten))
    }
  }

  private def tenth(x: Double) = math.round(x * 10) / 10.0

  def day(seed: Long, date: LocalDate): Day = {
    val r = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + date.toEpochDay)
    def series(f: Int => Double) = (0 until hours).map(h => if (r.nextInt(100) < 3) None else Some(f(h)))
    val season = 12 - 10 * math.cos(2 * math.Pi * date.getDayOfYear / 365.0)
    val temp = series(h => tenth(season + 6 * math.sin(2 * math.Pi * (h % 24 - 9) / 24) + r.nextGaussian() * 2))
    val hum = series(_ => tenth(math.min(100, math.max(5, 65 + r.nextGaussian() * 15))))
    val precip = series(_ => if (r.nextInt(6) == 0) tenth(r.nextDouble() * 4) else 0.0)
    Day(date, temp, hum, precip)
  }
}
