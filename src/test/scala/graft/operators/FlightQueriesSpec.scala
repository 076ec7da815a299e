package graft.operators

import graft.TestSpark
import graft.flight.FlightAnswers
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The flight answers' DataFrame forms against the forms they replaced:
  * Q6's one aggregation against the two-aggregate inner join, and the
  * one-partition sorts of Q2/Q4/Q5 against a global `orderBy`.
  */
class FlightQueriesSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val fixture =
    spark.read.parquet(TestSpark.fixturePath("flight_gold_fixture.parquet"))

  /** Q6 as two per-side counts joined on the airport name (the oracle
    * SQL's form), kept as the reference of the one-aggregation form.
    */
  private def joinForm(gold: DataFrame): DataFrame = {
    val out = gold.groupBy("origin_airport_name").count()
      .withColumnRenamed("count", "outgoing_count")
    val in = gold.groupBy("destination_airport_name").count()
      .withColumnRenamed("count", "incoming_count")
    out.join(in, col("origin_airport_name") === col("destination_airport_name"))
      .withColumn("diff", abs(col("outgoing_count") - col("incoming_count")))
      .select("origin_airport_name", "outgoing_count", "incoming_count", "diff")
      .orderBy(col("diff").desc, col("origin_airport_name"))
  }

  private def assertSameAsJoinForm(gold: DataFrame): Unit = {
    val (got, want) = (FlightQueries.inOutImbalance(gold), joinForm(gold))
    assert(got.schema == want.schema)
    assert(got.collect().toSeq == want.collect().toSeq)
  }

  test("Q6 one-aggregation form == join form on the fixture") {
    assertSameAsJoinForm(fixture)
  }

  test("Q6 one-aggregation form == join form with null names, one-sided airports and diff ties") {
    val legs: Seq[(Option[String], Option[String])] =
      Seq.fill(3)(Some("A") -> Some("X")) ++ Seq(Some("X") -> Some("A")) ++ // A, X: diff 2
      Seq.fill(3)(Some("Y") -> Some("Z")) ++ Seq(Some("Z") -> Some("Y")) ++ // Y, Z: diff 2
      Seq(Some("B") -> Some("C"), Some("C") -> Some("B")) ++                 // B, C: diff 0
      Seq(Some("OnlyOut") -> Some("OnlyIn")) ++                             // one-sided each
      Seq(None -> Some("A"), Some("A") -> None, (None, None))               // null names
    val gold = legs.toDF("origin_airport_name", "destination_airport_name")
    assertSameAsJoinForm(gold)
    val names = FlightQueries.inOutImbalance(gold).collect().map(_.getString(0)).toSeq
    assert(names == Seq("A", "X", "Y", "Z", "B", "C"))
  }

  test("Q2/Q4/Q5 rows come out in the global orderBy's order") {
    for ((q, key) <- Seq[(DataFrame => DataFrame, String)](
        (FlightQueries.mostActivePerContinent, "origin_continent"),
        (FlightQueries.avgFlightLengthPerContinent, "origin_continent"),
        (FlightQueries.topThreeAircraftPerCountry, "origin_country"))) {
      val df = q(fixture)
      assert(df.collect().toSeq == df.orderBy(key).collect().toSeq, key)
    }
  }

  test("after one warm pass, repeating the six answers compiles no codegen class") {
    def answers(): Unit = {
      FlightAnswers.airlineWithMostFlights(fixture)
      FlightAnswers.mostActiveAirlinePerContinent(fixture)
      FlightAnswers.flightWithLongestTrajectory(fixture)
      FlightAnswers.averageFlightLengthPerContinent(fixture)
      FlightAnswers.topThreeAircraftPerCountry(fixture)
      FlightAnswers.airportWithMostDiffInOutFlight(fixture)
    }
    answers()
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    answers(); answers()
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount == compiled)
  }
}
