package graft

import java.nio.file.{Files, Paths}

/** Raw pipeline inputs the specs read from this repo alone. */
object Fixtures {

  /** Five Open-Meteo hourly-array AQ payloads (FIXTURES.md A2: no city
    * field, no `uv_index`, city from the filename stem), derived from
    * `golden/aq_staged_from_committed_raw.csv` by
    * `tools/gen_aq_fixture.py` — 5 cities x 109 hours = 545 staged rows. */
  val aqRaw = "src/test/resources/aq_raw/*_raw_*.json"

  /** Writes `days` one-day Open-Meteo hourly weather payloads
    * (FIXTURES.md A1) into `dir`, 24 hours each with deterministic
    * values, and returns their glob. */
  def weatherRaw(dir: String, days: Int): String = {
    (1 to days).foreach { d =>
      val hours = 0 until 24
      def arr(f: Int => String) = hours.map(f).mkString("[", ",", "]")
      val json =
        s"""{"timezone": "GMT", "hourly": {
           |  "time": ${arr(h => f"\"2025-12-$d%02dT$h%02d:00\"")},
           |  "temperature_2m": ${arr(h => (10.0 + d + h * 0.5).toString)},
           |  "relativehumidity_2m": ${arr(h => (40 + h).toString)},
           |  "windspeed_10m": ${arr(h => (1.5 + (h % 5) * 0.25).toString)}}}""".stripMargin
      Files.writeString(Paths.get(dir, f"weather_202512$d%02d_000000.json"), json)
    }
    s"$dir/weather_*.json"
  }
}
