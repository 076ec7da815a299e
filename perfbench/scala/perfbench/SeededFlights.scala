package perfbench

import graft.flight.FlightSource
import graft.flight.FlightModel.{Airline, Airport, Flight, Zone}

/** Seeded synthetic flight API for the flight workloads.
  *
  * Two root zones are split by the extractor's quadtree until zones are
  * `180 / 2^depth` degrees wide; wider zones return a full page of
  * `limit` rows (the truncation sentinel, so the extractor splits), leaf
  * zones return `leafRows` flights. The amount of work is fixed by
  * (depth, leafRows) alone; the seed changes only values:
  *   - every 10th row repeats its predecessor's id AND its join keys, so
  *     silver drops exactly 10% and keeps the same join outcome whichever
  *     duplicate survives;
  *   - of the remaining rows, index classes 3, 7 and 11 (mod 20) carry an
  *     origin airport, an airline or a destination airport absent from
  *     the dims, so the gold inner joins drop exactly those;
  *   - index class 0 (mod 5) flies the seed's hub airline, which is then
  *     the unique answer to "airline with the most flights".
  * [[expected]] predicts every count from the same index rules.
  *
  * `batch` re-draws the flights (one batch per tick or pass) and keeps
  * the dims and the hub airline, which depend on `seed` alone.
  *
  * The optional accumulators count pages fetched, pages truncated
  * (quadtree splits) and rows on leaf pages; they work on either
  * extraction path because tasks add to them like any accumulator. On
  * the driver-side path the source also keeps the interval its fetches
  * spanned.
  */
final class SeededFlights(
    seed: Long,
    depth: Int,
    leafRows: Int,
    batch: Long = 0L,
    acc: Option[Flights.Accumulators] = None,
    limit: Int = SeededFlights.Limit) extends FlightSource {
  import SeededFlights._
  require(leafRows < limit, s"leafRows=$leafRows must stay below the page limit $limit")

  private val leafWidth = 180.0 / (1 << depth)
  val hub: Int = ((mix(seed, 7L, 11L) >>> 1) % NAirlines).toInt
  private val flightSeed = mix(seed, batch, 3L)
  @transient @volatile var firstFetchNs, lastFetchNs = 0L

  override def zones: Seq[Zone] = Seq(Zone(90, -180, -90, 0), Zone(90, 0, -90, 180))

  override def airports: Seq[Airport] = (0 until NAirports).map { i =>
    val r = mix(seed, -1L, i.toLong)
    Airport(s"Airport ${code3(i)}", code3(i),
      Some(unit(r) * 170f - 85f), Some(unit(r >>> 20) * 358f - 179f),
      Countries(i % Countries.size))
  }

  override def airlines: Seq[Airline] = (0 until NAirlines).map(i => Airline(s"Airline $i", icao(i)))

  override def flightsInZone(zone: Zone, lim: Int): Seq[Flight] = {
    if (firstFetchNs == 0L) firstFetchNs = System.nanoTime()
    acc.foreach(_.pages.add(1))
    val width = math.abs(zone.brX - zone.tlX)
    val page =
      if (width > leafWidth + 1e-9) {
        acc.foreach(_.splits.add(1))
        Vector.tabulate(lim)(i => flight(zone, i))
      } else {
        acc.foreach(_.rows.add(leafRows.toLong))
        Vector.tabulate(leafRows)(i => flight(zone, i))
      }
    lastFetchNs = System.nanoTime()
    page
  }

  private def flight(zone: Zone, i: Int): Flight = {
    val cy = (zone.tlY + zone.brY) / 2
    val cx = (zone.tlX + zone.brX) / 2
    val leaf = ((cy + 90) * 720).toLong * 100000 + ((cx + 180) * 2).toLong
    val j = if (i % 10 == 9) i - 1 else i // duplicate: predecessor's id and keys
    val keys = mix(flightSeed, leaf, j.toLong)
    val own = mix(flightSeed ^ 0x5DEECE66DL, leaf, i.toLong)
    val airline =
      if (j % 20 == 7) s"XX${j % 97}"
      else if (j % 5 == 0) icao(hub)
      else icao((hub + 1 + ((keys >>> 24) % (NAirlines - 1)).toInt) % NAirlines)
    Flight(
      id = s"f${leaf}_$j",
      aircraft_code = s"A${(own >>> 3) % 37}",
      time = Some(1700000000 + ((own >>> 8) % 86400).toInt),
      latitude = Some((cy + unit(own >>> 16) * 2 - 1).toFloat),
      longitude = Some((cx + unit(own >>> 32) * 2 - 1).toFloat),
      origin_airport_iata = if (j % 20 == 3) s"Z${j % 89}" else code3(((keys >>> 1) % NAirports).toInt),
      destination_airport_iata =
        if (j % 20 == 11) s"Y${j % 83}" else code3(((keys >>> 33) % NAirports).toInt),
      number = s"N${(own >>> 40) % 9999}",
      on_ground = Some(((own >>> 50) & 1L).toInt),
      airline_icao = airline)
  }

  /** Row counts this source produces, predicted from the index rules. */
  def expected: SeededFlights.Expected = {
    val leaves = 2L << (2 * depth)
    val idx = 0 until leafRows
    val kept = idx.filter(_ % 10 != 9)
    val joined = kept.filter(j => j % 20 != 3 && j % 20 != 7 && j % 20 != 11)
    Expected(
      raw = leaves * leafRows,
      silver = leaves * kept.size,
      gold = leaves * joined.size,
      hubFlights = leaves * joined.count(_ % 5 == 0),
      hubName = s"Airline $hub",
      pages = (0 to depth).map(d => 2L << (2 * d)).sum,
      splits = (0 until depth).map(d => 2L << (2 * d)).sum)
  }
}

object SeededFlights {
  val Limit = 1500
  val NAirports = 3000
  val NAirlines = 500
  val Countries: Vector[String] = Vector(
    "France", "Germany", "China", "Brazil", "Australia", "Canada",
    "Egypt", "Atlantis", "Chile", "Finland") // "Atlantis" has no continent

  final case class Expected(raw: Long, silver: Long, gold: Long, hubFlights: Long,
                            hubName: String, pages: Long, splits: Long)

  /** splitmix64 finaliser over the three inputs. */
  def mix(a: Long, b: Long, c: Long): Long = {
    var z = a * 0x9E3779B97F4A7C15L + b * 0xC2B2AE3D27D4EB4FL + c * 0x165667B19E3779F9L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private def unit(r: Long): Float = ((r >>> 11) & 0xFFFFFL).toFloat / 0x100000

  private def code3(i: Int): String =
    s"${('A' + i / 676 % 26).toChar}${('A' + i / 26 % 26).toChar}${('A' + i % 26).toChar}"

  private def icao(i: Int): String = f"IC$i%03d"
}
