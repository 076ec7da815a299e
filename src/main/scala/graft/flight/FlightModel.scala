package graft.flight

import org.apache.spark.sql.types._

/** Data model of the flight pipeline, re-expressed as case classes +
  * schema constants (reference: `/root/reference/src/transform.py`
  * silver schema :166-179, airlines :100-105, airports :126-134; gold
  * 22-column layout pinned by `tests/test.parquet`).
  *
  * Float32 is semantically load-bearing: lat/lon/distance are
  * FloatType because the golden tests pin exact float32 values
  * (`tests/test_answers.py:49`).
  */
object FlightModel {

  /** One raw/silver flight row. `time` is unix seconds (int) in
    * bronze/raw, reformatted to a `yyyy-MM-dd HH:mm:ss` string
    * (Europe/Paris) by the silver stage.
    */
  final case class Flight(
      id: String,
      aircraft_code: String,
      time: Option[Int],
      latitude: Option[Float],
      longitude: Option[Float],
      origin_airport_iata: String,
      destination_airport_iata: String,
      number: String,
      on_ground: Option[Int],
      airline_icao: String)

  final case class Airline(Name: String, ICAO: String)

  final case class Airport(
      name: String,
      iata: String,
      latitude: Option[Float],
      longitude: Option[Float],
      country: String)

  /** A lat/lon bounding box for the quadtree extraction splitter
    * (reference `src/extract.py:11-51`): top-left (y,x) →
    * bottom-right (y,x) in degrees.
    */
  final case class Zone(tlY: Double, tlX: Double, brY: Double, brX: Double)

  val flightSilverSchema: StructType = StructType(Seq(
    StructField("id", StringType, nullable = true),
    StructField("aircraft_code", StringType, nullable = true),
    StructField("time", IntegerType, nullable = true),
    StructField("latitude", FloatType, nullable = true),
    StructField("longitude", FloatType, nullable = true),
    StructField("origin_airport_iata", StringType, nullable = true),
    StructField("destination_airport_iata", StringType, nullable = true),
    StructField("number", StringType, nullable = true),
    StructField("on_ground", IntegerType, nullable = true),
    StructField("airline_icao", StringType, nullable = true)))

  val airlineSchema: StructType = StructType(Seq(
    StructField("Name", StringType, nullable = true),
    StructField("ICAO", StringType, nullable = true)))

  val airportSchema: StructType = StructType(Seq(
    StructField("name", StringType, nullable = true),
    StructField("iata", StringType, nullable = true),
    StructField("latitude", FloatType, nullable = true),
    StructField("longitude", FloatType, nullable = true),
    StructField("country", StringType, nullable = true)))

  /** Gold layout: the single definition of the gold snapshot's columns
    * (order matters — pinned by the fixture's 22 columns) and types. All
    * fields are nullable, as Spark's parquet reader makes every column.
    * Readers of a snapshot the pipeline wrote pass it to
    * `spark.read.schema`, which skips the schema-inference job.
    */
  val goldSchema: StructType = StructType(Seq(
    "id" -> StringType, "aircraft_code" -> StringType, "time" -> StringType,
    "latitude" -> FloatType, "longitude" -> FloatType,
    "origin_airport_iata" -> StringType, "destination_airport_iata" -> StringType,
    "number" -> StringType, "on_ground" -> IntegerType, "airline_icao" -> StringType,
    "origin_airport_name" -> StringType, "origin_latitude" -> FloatType,
    "origin_longitude" -> FloatType, "origin_continent" -> StringType,
    "origin_country" -> StringType,
    "destination_airport_name" -> StringType, "destination_latitude" -> FloatType,
    "destination_longitude" -> FloatType, "destination_continent" -> StringType,
    "destination_country" -> StringType,
    "airline_name" -> StringType, "distance" -> FloatType
  ).map { case (name, t) => StructField(name, t, nullable = true) })

  val goldColumns: Seq[String] = goldSchema.fieldNames.toSeq
}
