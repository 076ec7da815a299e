package graft.flight

import graft.GraftSession
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Query CLI over the gold table — the engine's equivalent of the
  * reference's Typer dispatcher (`/root/reference/src/answers.py:134-174`,
  * `make run-answers question=<q>`), without the Typer dependency: a
  * plain main that resolves the newest gold snapshot and dispatches by
  * question name.
  *
  * Usage: `runMain graft.flight.FlightCli <goldBaseOrSnapshotDir> <question>`
  * where question is one of the reference's six command names
  * (underscores or dashes accepted).
  */
object FlightCli {

  /** question name → renderer (reference command names, answers.py:135-172). */
  val questions: Map[String, DataFrame => String] = Map(
    "airline_with_most_flights" -> { g =>
      val r = FlightAnswers.airlineWithMostFlights(g)
      s"${r.getString(0)} (${r.getLong(1)} flights)"
    },
    "most_active_airline_per_continent" -> { g =>
      FlightAnswers.mostActiveAirlinePerContinent(g).toSeq.sorted
        .map { case (cont, airline) => s"$cont: $airline" }.mkString("\n")
    },
    "longest_trajectory_flight" -> { g =>
      FlightAnswers.flightWithLongestTrajectory(g).toString
    },
    "average_flight_length_per_continent" -> { g =>
      FlightAnswers.averageFlightLengthPerContinent(g).toSeq.sorted
        .map { case (cont, km) => s"$cont: $km km" }.mkString("\n")
    },
    "top_three_aircraft_model_per_country" -> { g =>
      FlightAnswers.topThreeAircraftPerCountry(g).toSeq.sorted
        .map { case (country, models) => s"$country: $models" }.mkString("\n")
    },
    "airport_with_most_diff_in_out_flight" -> { g =>
      FlightAnswers.airportWithMostDiffInOutFlight(g).toString
    })

  /** Resolve the gold DataFrame: a direct snapshot dir (contains
    * parquet) or a base dir whose newest timestamped snapshot is taken
    * (reference S5 semantics, answers.py:197-203). A path holding no
    * visible parquet is read as given, so Spark's own error names it.
    */
  def resolveGold(spark: SparkSession, path: String): DataFrame =
    FlightIo.newestGold(spark, path).getOrElse(spark.read.parquet(path))

  def run(spark: SparkSession, path: String, question: String): String = {
    val name = question.replace('-', '_')
    questions.get(name) match {
      case Some(f) => f(resolveGold(spark, path))
      case None =>
        throw new IllegalArgumentException(
          s"unknown question '$question'; one of: ${questions.keys.toSeq.sorted.mkString(", ")}")
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: FlightCli <goldBaseOrSnapshotDir> <question>")
    val spark = GraftSession.local(appName = "flight-cli")
    try println(run(spark, args(0), args(1)))
    finally spark.stop()
  }
}
