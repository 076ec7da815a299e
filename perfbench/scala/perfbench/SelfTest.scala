package perfbench

import graft.flight.FlightExtract

/** Generator facts for `test_perfbench.py`, computed without Spark: for
  * each seed given, one JSON line with a hash of every extracted flight
  * (driver-side quadtree path) and the counts the medallion stages would
  * keep, next to the counts the generator predicts.
  *
  * Usage: perfbench.SelfTest depth leafRows seed...
  */
object SelfTest {
  def main(args: Array[String]): Unit = {
    val Array(depth, leafRows) = args.take(2).map(_.toInt)
    for (seed <- args.drop(2).map(_.toLong)) {
      val src = new SeededFlights(seed, depth, leafRows)
      val flights = FlightExtract.allFlights(src)
      val airports = src.airports.map(_.iata).toSet
      val airlines = src.airlines.map(a => a.ICAO -> a.Name).toMap
      val silver = flights.groupBy(_.id).values.map(_.head).toSeq
      val gold = silver.filter(f => airports(f.origin_airport_iata) &&
        airports(f.destination_airport_iata) && airlines.contains(f.airline_icao))
      val (topName, topCount) = gold.groupBy(f => airlines(f.airline_icao))
        .map { case (k, v) => k -> v.size.toLong }.maxBy(_._2)
      val e = src.expected
      val hash = Catalog.orderFreeHash(flights.map(f => org.apache.spark.sql.Row(f.toString)).toArray)
      println(Seq(
        s""""seed":$seed""", s""""hash":"$hash"""",
        s""""raw":${flights.size}""", s""""silver":${silver.size}""", s""""gold":${gold.size}""",
        s""""top_airline":"$topName"""", s""""top_flights":$topCount""",
        s""""expected":{"raw":${e.raw},"silver":${e.silver},"gold":${e.gold},""" +
          s""""top_airline":"${e.hubName}","top_flights":${e.hubFlights}}"""
      ).mkString("{", ",", "}"))
    }
  }
}
