package graft.flight

import graft.TestSpark
import graft.functions.Geo
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}
import org.scalatest.funsuite.AnyFunSuite

/** Unit tests for the silver/gold transforms plus fixture-wide
  * validation of the two re-expressed UDFs (U1 continents, U2
  * haversine) against all 1000 golden rows.
  */
class FlightEtlSpec extends AnyFunSuite {
  import FlightModel._

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val fixture =
    spark.read.parquet(TestSpark.fixturePath("flight_gold_fixture.parquet"))

  test("U2: haversine reproduces every fixture distance bit-exactly at float32") {
    val mismatches = fixture
      .withColumn("recomputed",
        Geo.haversineKm(
          col("origin_latitude").cast(DoubleType),
          col("origin_longitude").cast(DoubleType),
          col("destination_latitude").cast(DoubleType),
          col("destination_longitude").cast(DoubleType)).cast(FloatType))
      .filter(!(col("recomputed") <=> col("distance")))
      .count()
    assert(mismatches == 0L)
  }

  test("U2: haversine null-propagates and is zero at zero distance") {
    val df = Seq((Some(1.0), 2.0), (None, 2.0)).toDF("lat", "lon")
    val out = df.select(
      Geo.haversineKm(col("lat"), col("lon"), col("lat"), col("lon")).as("d")).collect()
    assert(out(0).getDouble(0) == 0.0)
    assert(out(1).isNullAt(0))
  }

  test("U1: continent lookup matches every fixture (country, continent) pair") {
    val bad = fixture
      .select(col("origin_country").as("c"), col("origin_continent").as("expected"))
      .union(fixture.select(col("destination_country"), col("destination_continent")))
      .withColumn("got", Continents.continentFor(col("c")))
      .filter(col("got") =!= col("expected"))
      .count()
    assert(bad == 0L)
  }

  test("U1: unknown country falls back to Unknown") {
    val r = Seq("Atlantis").toDF("c")
      .select(Continents.continentFor(col("c"))).head().getString(0)
    assert(r == "Unknown")
  }

  test("silver: dedups by id and renders time as Europe/Paris string") {
    // 1713453442 = 2024-04-18 15:17:22 UTC = 17:17:22 Paris (CEST) —
    // matches the fixture's SIN→JFK row rendering.
    val raw = Seq(
      Flight("a", "A359", Some(1713453442), Some(1f), Some(2f), "SIN", "JFK", "SQ24", Some(0), "SIA"),
      Flight("a", "A359", Some(1713453442), Some(1f), Some(2f), "SIN", "JFK", "SQ24", Some(0), "SIA"),
      Flight("b", "B738", Some(1704067200), Some(3f), Some(4f), "OSL", "CDG", "DY1", Some(1), "NOZ")
    ).toDF()
    val out = FlightEtl.silver(raw)
    assert(out.count() == 2)
    val times = out.orderBy("id").select("time").as[String].collect()
    assert(times(0) == "2024-04-18 17:17:22")
    assert(times(1) == "2024-01-01 01:00:00") // UTC midnight = 01:00 CET
  }

  test("gold: role-playing airport joins, inner-drop, float32 distance, 22-col layout") {
    val flights = Seq(
      Flight("f1", "A359", Some(1713453442), Some(1f), Some(2f), "AAA", "BBB", "X1", Some(0), "AL1"),
      Flight("f2", "B738", Some(1713453442), Some(1f), Some(2f), "AAA", "ZZZ", "X2", Some(0), "AL1"), // unknown dest iata → dropped
      Flight("f3", "B738", Some(1713453442), Some(1f), Some(2f), "BBB", "AAA", "X3", Some(0), "NOPE") // unknown airline → dropped
    ).toDF()
    val airports = Seq(
      Airport("Alpha", "AAA", Some(1.350189f), Some(103.9944f), "Singapore"),
      Airport("Beta", "BBB", Some(40.639751f), Some(-73.7789f), "United States")).toDF()
    val airlines = Seq(Airline("Airline One", "AL1")).toDF()

    val out = FlightEtl.gold(FlightEtl.silver(flights), airports, airlines)
    assert(out.columns.toSeq == FlightModel.goldColumns)
    val rows = out.collect()
    assert(rows.map(_.getAs[String]("id")).toSeq == Seq("f1"))
    val r = rows.head
    assert(r.getAs[String]("origin_airport_name") == "Alpha")
    assert(r.getAs[String]("destination_airport_name") == "Beta")
    assert(r.getAs[String]("origin_continent") == "Asia")
    assert(r.getAs[String]("destination_continent") == "North America")
    assert(r.getAs[String]("airline_name") == "Airline One")
    // SIN→JFK great-circle ≈ 15340.57 km, float32 (same coords as the
    // fixture's pinned row)
    assert(r.getAs[Float]("distance") == 15340.56640625f)
  }

  test("goldSchema is the fixture's schema and the schema FlightEtl.gold writes") {
    assert(fixture.schema == FlightModel.goldSchema)
    val flights = Seq(
      Flight("f1", "A359", Some(1713453442), Some(1f), Some(2f), "AAA", "BBB", "X1", Some(0), "AL1")).toDF()
    val airports = Seq(
      Airport("Alpha", "AAA", Some(1.350189f), Some(103.9944f), "Singapore"),
      Airport("Beta", "BBB", Some(40.639751f), Some(-73.7789f), "United States")).toDF()
    val airlines = Seq(Airline("Airline One", "AL1")).toDF()
    val dir = java.nio.file.Files.createTempDirectory("graft-gold-schema").resolve("gold").toString
    FlightEtl.gold(FlightEtl.silver(flights), airports, airlines).write.parquet(dir)
    assert(spark.read.parquet(dir).schema == FlightModel.goldSchema)
  }

  test("gold: null coordinates yield null distance") {
    val flights = Seq(
      Flight("f1", "A359", Some(1713453442), Some(1f), Some(2f), "AAA", "BBB", "X1", Some(0), "AL1")).toDF()
    val airports = Seq(
      Airport("Alpha", "AAA", None, None, "Singapore"),
      Airport("Beta", "BBB", Some(40.639751f), Some(-73.7789f), "United States")).toDF()
    val airlines = Seq(Airline("Airline One", "AL1")).toDF()
    val out = FlightEtl.gold(flights, airports, airlines).collect()
    assert(out.length == 1 && out.head.isNullAt(out.head.fieldIndex("distance")))
  }

  test("gold: accepts string-typed dims (CSV re-read behavior)") {
    val flights = Seq(
      Flight("f1", "A359", Some(1713453442), Some(1f), Some(2f), "AAA", "BBB", "X1", Some(0), "AL1")).toDF()
    val airports = Seq(
      ("Alpha", "AAA", "1.350189", "103.9944", "Singapore"),
      ("Beta", "BBB", "40.639751", "-73.7789", "United States"))
      .toDF("name", "iata", "latitude", "longitude", "country")
    val airlines = Seq(Airline("Airline One", "AL1")).toDF()
    val r = FlightEtl.gold(flights, airports, airlines).head()
    assert(r.getAs[Float]("distance") == 15340.56640625f)
    assert(r.getAs[Float]("origin_latitude") == 1.350189f)
  }
}
