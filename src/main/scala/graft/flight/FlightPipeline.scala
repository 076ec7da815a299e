package graft.flight

import graft.flight.FlightModel._
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.time.ZonedDateTime

/** Bronze→silver→gold pipeline driver (reference
  * `/root/reference/src/main.py:105-153`), batch-first: one run = one
  * timestamped snapshot of each layer. Scheduling (the reference's
  * hourly Prefect deployment, `main.py:156`) is out of engine scope —
  * call [[run]] from cron/Airflow/etc., or use
  * [[graft.streaming.StreamOps]] for the continuous variant.
  */
final class FlightPipeline(
    spark: SparkSession,
    source: FlightSource,
    basePath: String,
    apiLimit: Int = FlightExtract.DefaultApiLimit) {

  import spark.implicits._

  private val bronzeBase = s"$basePath/bronze"
  private val silverBase = s"$basePath/silver"
  private val goldBase   = s"$basePath/gold"

  def airlinesDf: DataFrame = FlightIo.getOrCreateDimCsv(
    spark, s"$basePath/airlines", FlightModel.airlineSchema,
    () => source.airlines.toDF())

  /** Airports dim; when re-read from CSV the lat/lon arrive as the
    * written strings — gold re-casts to float, preserving the
    * reference's behavior (`main.py:53`, `transform.py:217-234`).
    */
  def airportsDf: DataFrame = FlightIo.getOrCreateDimCsv(
    spark, s"$basePath/airports", FlightModel.airportSchema,
    () => source.airports.toDF())

  /** One pipeline run; returns the gold snapshot path. */
  def run(now: ZonedDateTime = ZonedDateTime.now(FlightIo.ParisZone)): String = {
    val raw: Seq[Flight] = FlightExtract.allFlights(source, apiLimit)
    // to(schema) reconciles the encoder schema's nullability with the
    // declared silver schema inside the plan — no drop to the RDD
    // path. Driver-side rows are reference parity (hourly page
    // volumes); above ~1M rows use FlightExtract.allFlightsDistributed
    // so pages never transit the driver (FLIGHTBENCH_r12).
    val bronze = raw.toDF().to(FlightModel.flightSilverSchema)
    FlightIo.writeBronzeCsv(bronze, bronzeBase, now)

    val silver = FlightEtl.silver(bronze)
    FlightIo.writeParquetSnapshot(silver, silverBase, now)

    val gold = FlightEtl.gold(silver, airportsDf, airlinesDf)
    FlightIo.writeParquetSnapshot(gold, goldBase, now)
  }

  /** Newest gold snapshot as a DataFrame (reference
    * `answers.py:197-207`).
    */
  def latestGold(): Option[DataFrame] = FlightIo.newestGold(spark, goldBase)
}
