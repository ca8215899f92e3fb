package medbench

import java.time.{LocalDate, ZoneOffset}
import java.util.SplittableRandom

/** Seeded offline USGS FDSN feed: GeoJSON FeatureCollection pages in the
  * shape of the API (compact JSON, `metadata` header, ~1 KB features), with
  * the parser's edge cases mixed in — 2-element coordinates (no depth), null
  * and absent properties, and null tsunami flags.
  *
  * An event is fully determined by (seed, kind, index, time): [[render]]
  * re-derives every property from those, so the ground truth needs only the
  * event keys, never the rendered text. */
object Feed {

  /** The identity of one event. `tsunami` is 1, 0, or -1 for a null flag. */
  final case class Ev(id: String, timeMs: Long, tsunami: Int) {
    def year: Int = utc.getYear
    def month: Int = utc.getMonthValue
    private def utc = java.time.Instant.ofEpochMilli(timeMs).atZone(ZoneOffset.UTC)
  }

  private val Nets = Array("us", "nc", "ci", "ak", "hv", "nn", "uw", "pr")
  private val MagTypes = Array("md", "ml", "mb", "mww", "mwr", "mh")
  private val Types = Array("earthquake", "earthquake", "earthquake",
    "earthquake", "quarry blast", "explosion")
  private val Places = Array("W of Ridgecrest, CA", "SSW of Anchorage, Alaska",
    "E of Hilo, Hawaii", "NNE of Tokyo, Japan", "S of Lima, Peru",
    "off the coast of Oregon", "N of Reno, Nevada", "WSW of Santiago, Chile")
  private val Alerts = Array("green", "yellow", "orange", "red")

  private def mix(seed: Long, kind: Char, idx: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + kind.toLong * 0xBF58476D1CE4E5B9L + idx
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** The `idx`-th event of stream `kind`, at `timeMs`. */
  def event(seed: Long, kind: Char, idx: Long, timeMs: Long): Ev = {
    val r = new SplittableRandom(mix(seed, kind, idx))
    val net = Nets(r.nextInt(Nets.length))
    val u = r.nextInt(100)
    val tsunami = if (u < 6) 1 else if (u < 8) -1 else 0
    Ev(s"$net$kind${java.lang.Long.toString(idx, 36)}", timeMs, tsunami)
  }

  /** `n` events of stream `kind` (indices `firstIdx` onwards) spread over
    * [fromMs, untilMs), sorted by time — the API's paging order. */
  def span(seed: Long, kind: Char, firstIdx: Long, n: Int,
      fromMs: Long, untilMs: Long): IndexedSeq[Ev] = {
    val r = new SplittableRandom(mix(seed, kind, -1 - firstIdx))
    (0 until n).map(i => event(seed, kind, firstIdx + i,
      fromMs + r.nextLong(untilMs - fromMs))).sortBy(e => (e.timeMs, e.id))
  }

  def epochMs(d: LocalDate): Long = d.atStartOfDay(ZoneOffset.UTC).toInstant.toEpochMilli

  /** Fixed-point decimal: `v / 10^scale`, without String.format's cost. */
  private def dec(sb: java.lang.StringBuilder, v: Long, scale: Int): Unit = {
    if (v < 0) sb.append('-')
    val a = math.abs(v)
    var p = 1L; var i = 0
    while (i < scale) { p *= 10; i += 1 }
    sb.append(a / p)
    if (scale > 0) {
      sb.append('.')
      val frac = (a % p).toString
      i = frac.length
      while (i < scale) { sb.append('0'); i += 1 }
      sb.append(frac)
    }
  }

  private def str(sb: java.lang.StringBuilder, k: String, v: String): Unit = {
    sb.append('"').append(k).append("\":")
    if (v == null) sb.append("null") else sb.append('"').append(v).append('"')
  }

  /** One compact GeoJSON Feature. About 1 in 20 omits the felt/cdi/mmi/alert
    * keys entirely; most others carry them as null, as the live API does. */
  def render(sb: java.lang.StringBuilder, seed: Long, e: Ev): Unit = {
    val r = new SplittableRandom(mix(seed, 'r', e.timeMs ^ e.id.hashCode.toLong))
    val net = e.id.substring(0, 2)
    val code = e.id.substring(2)
    val mag100 = 50 + r.nextInt(650)
    val place = if (r.nextInt(33) == 0) null
      else s"${1 + r.nextInt(180)} km ${Places(r.nextInt(Places.length))}"
    sb.append("{\"type\":\"Feature\",\"properties\":{")
    if (r.nextInt(100) == 0) sb.append("\"mag\":null")
    else { sb.append("\"mag\":"); dec(sb, mag100, 2) }
    sb.append(','); str(sb, "place", place)
    sb.append(",\"time\":").append(e.timeMs)
    sb.append(",\"updated\":")
    if (r.nextInt(33) == 0) sb.append("null")
    else sb.append(e.timeMs + 60000L + r.nextInt(86400000))
    sb.append(",\"tz\":null,")
    str(sb, "url", s"https://earthquake.usgs.gov/earthquakes/eventpage/${e.id}")
    sb.append(',')
    str(sb, "detail",
      s"https://earthquake.usgs.gov/fdsnws/event/1/query?eventid=${e.id}&format=geojson")
    r.nextInt(20) match {
      case 0 => // keys absent
      case k if k < 14 => sb.append(",\"felt\":null,\"cdi\":null,\"mmi\":null,\"alert\":null")
      case _ =>
        sb.append(",\"felt\":").append(r.nextInt(2000))
        sb.append(",\"cdi\":"); dec(sb, r.nextInt(90), 1)
        sb.append(",\"mmi\":"); dec(sb, r.nextInt(900), 2)
        sb.append(','); str(sb, "alert", Alerts(r.nextInt(Alerts.length)))
    }
    sb.append(','); str(sb, "status", if (r.nextInt(4) == 0) "automatic" else "reviewed")
    sb.append(",\"tsunami\":")
    if (e.tsunami < 0) sb.append("null") else sb.append(e.tsunami)
    sb.append(",\"sig\":").append(mag100 * mag100 / 60)
    sb.append(','); str(sb, "net", net)
    sb.append(','); str(sb, "code", code)
    sb.append(','); str(sb, "ids", s",${e.id},")
    sb.append(','); str(sb, "sources", s",$net,")
    sb.append(','); str(sb, "types", ",origin,phase-data,")
    sb.append(",\"nst\":").append(r.nextInt(120))
    sb.append(",\"dmin\":"); dec(sb, r.nextInt(100000), 5)
    sb.append(",\"rms\":"); dec(sb, r.nextInt(200), 2)
    sb.append(",\"gap\":"); dec(sb, r.nextInt(3600), 1)
    sb.append(','); str(sb, "magType", MagTypes(r.nextInt(MagTypes.length)))
    sb.append(','); str(sb, "type", Types(r.nextInt(Types.length)))
    sb.append(',')
    val magText = { val t = new java.lang.StringBuilder; dec(t, mag100, 2); t }
    str(sb, "title", if (place == null) s"M $magText" else s"M $magText - $place")
    sb.append("},\"geometry\":{\"type\":\"Point\",\"coordinates\":[")
    dec(sb, r.nextInt(36000000) - 18000000L, 5); sb.append(',')
    dec(sb, r.nextInt(18000000) - 9000000L, 5)
    if (r.nextInt(25) != 0) { sb.append(','); dec(sb, r.nextInt(70000), 2) }
    sb.append("]},\"id\":\"").append(e.id).append("\"}")
  }

  /** A FeatureCollection page over `events`. */
  def page(seed: Long, events: Iterable[Ev]): String = {
    val sb = new java.lang.StringBuilder(1200 * events.size + 400)
    sb.append("{\"type\":\"FeatureCollection\",\"metadata\":{\"generated\":")
      .append(1700000000000L).append(",\"url\":\"https://earthquake.usgs.gov/fdsnws/event/1/query\"")
      .append(",\"title\":\"USGS Earthquakes\",\"status\":200,\"api\":\"1.14.1\",\"count\":")
      .append(events.size).append("},\"features\":[")
    var first = true
    events.foreach { e =>
      if (!first) sb.append(',')
      first = false
      render(sb, seed, e)
    }
    sb.append("]}").toString
  }
}
