package graft.flight

import graft.TestSpark
import graft.flight.FlightModel._
import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files
import java.time.{ZoneOffset, ZonedDateTime}

/** Sinks, timestamped path layout, newest-snapshot resolution and the
  * end-to-end pipeline run on a temp dir with a fake source.
  */
class FlightIoSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  test("timestampedPath renders Europe/Paris wall time") {
    // 2024-04-18 22:30:00 UTC = 2024-04-19 00:30 Paris (CEST)
    val utc = ZonedDateTime.of(2024, 4, 18, 22, 30, 0, 0, ZoneOffset.UTC)
    val p = FlightIo.timestampedPath("/base", utc)
    assert(p == "/base/year=2024/month=04/day=19/flights20240419003000")
  }

  test("newestSnapshotDir picks the lexicographic max leaf with parquet") {
    val tmp = Files.createTempDirectory("graft-io").toString
    import spark.implicits._
    val df = Seq((1, "a")).toDF("k", "v")
    df.write.parquet(s"$tmp/gold/year=2024/month=04/day=18/flights20240418110000")
    df.write.parquet(s"$tmp/gold/year=2024/month=04/day=19/flights20240419090000")
    df.write.parquet(s"$tmp/gold/year=2024/month=04/day=19/flights20240419100000")
    val got = FlightIo.newestSnapshotDir(spark, s"$tmp/gold")
    assert(got.exists(_.endsWith("year=2024/month=04/day=19/flights20240419100000")))
    assert(FlightIo.newestSnapshotDir(spark, s"$tmp/nothing").isEmpty)
  }

  /** The recursive-listing lookup the walk replaced, kept as the oracle
    * of the parity tests: the lexicographic max of the parents of every
    * `.parquet` file under `base`.
    */
  private def recursiveListingNewest(base: String): Option[String] = {
    val path = new Path(base)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) return None
    val it = fs.listFiles(path, true)
    var dirs = List.empty[String]
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet"))
        dirs = f.getPath.getParent.toString :: dirs
    }
    dirs.sorted.lastOption
  }

  /** Creates `base/<rel>` for each entry: a dir when `rel` ends in `/`,
    * else an empty file (the lookup reads names only).
    */
  private def tree(base: String, entries: String*): String = {
    val fs = new Path(base).getFileSystem(spark.sparkContext.hadoopConfiguration)
    entries.foreach { rel =>
      val p = new Path(s"$base/$rel")
      if (rel.endsWith("/")) fs.mkdirs(p) else fs.create(p).close()
    }
    base
  }

  private def assertParity(base: String, expected: Option[String]): Unit = {
    val got = FlightIo.newestSnapshotDir(spark, base)
    assert(got == recursiveListingNewest(base), s"walk vs recursive listing under $base")
    assert(got.map(_.stripPrefix(new Path(base).toString)) == expected, s"under $base")
  }

  /** Adversarial trees and the dir each must resolve to, relative to its base. */
  private val parityTrees: Seq[(Seq[String], Option[String])] = Seq(
    // a candidate's name is a prefix of a sibling's: "flights1/" lists
    // first, yet "…/flights1" < "…/flights1-b/x"
    Seq("flights1/p.parquet", "flights1-b/x/p.parquet") -> Some("/flights1-b/x"),
    Seq("flights1/p.parquet", "flights1-b/x/p.parquet", "flights10/p.parquet") -> Some("/flights10"),
    Seq("flights1/p.parquet", "flights1/z/p.parquet", "flights1-b/x/p.parquet") -> Some("/flights1/z"),
    Seq("flights1/readme.txt", "flights1/y/", "flights1-b/p.parquet") -> Some("/flights1-b"),
    // parquet at two depths of one branch
    Seq("a/p.parquet", "a/b/p.parquet", "a/b/c/") -> Some("/a/b"),
    Seq("a/b/p.parquet", "a/p.parquet", "a0/") -> Some("/a/b"),
    // empty dirs and non-parquet files rank nowhere
    Seq("z/", "z2/readme.txt", "z3/p.parquet.crc", "y/p.parquet") -> Some("/y"),
    Seq("z/", "z2/readme.txt") -> None,
    Seq() -> None,
    // the base itself holds parquet; a dir named like a file
    Seq("p.parquet") -> Some(""),
    Seq("p.parquet", "sub/p.parquet") -> Some("/sub"),
    Seq("q.parquet/part-0.parquet", "q/readme.txt") -> Some("/q.parquet"),
    // the timestamped history layout across a month boundary
    Seq(
      "year=2026/month=07/day=31/flights20260731230000/part-0.parquet",
      "year=2026/month=08/day=01/flights20260801000000/part-0.parquet",
      "year=2026/month=08/day=01/flights20260801000000/part-1.parquet",
      "year=2026/month=08/day=01/flights20260801010000/part-0.parquet",
      "year=2026/month=08/day=02/") ->
      Some("/year=2026/month=08/day=01/flights20260801010000"))

  test("newestSnapshotDir walk == recursive listing on adversarial trees") {
    val root = Files.createTempDirectory("graft-walk").toString
    for (((entries, expected), i) <- parityTrees.zipWithIndex)
      assertParity(tree(s"file:$root/t$i", entries: _*), expected)
  }

  test("newestSnapshotDir walk == recursive listing on random prefix-colliding trees") {
    val root = Files.createTempDirectory("graft-walk-rand").toString
    val rnd = new scala.util.Random(20260815)
    val names = Seq("f", "f1", "f1-b", "f10", "f1.x", "f1 b")
    for (i <- 0 until 60) {
      val entries = Seq.fill(1 + rnd.nextInt(8)) {
        val dirs = Seq.fill(rnd.nextInt(4))(names(rnd.nextInt(names.size)))
        val leaf = if (rnd.nextInt(4) == 0) "readme.txt" else "p.parquet"
        (dirs :+ leaf).mkString("/")
      }
      val base = tree(s"file:$root/r$i", entries: _*)
      assert(FlightIo.newestSnapshotDir(spark, base) == recursiveListingNewest(base), entries)
    }
  }

  test("newestSnapshotDir walk == recursive listing on an object-store scheme") {
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.graftobj.impl", classOf[graft.sources.ObjectStoreFs].getName)
    if (hc.get("fs.graftobj.root") == null)
      hc.set("fs.graftobj.root", Files.createTempDirectory("graftobj-store").toString)
    for (((entries, expected), i) <- parityTrees.zipWithIndex)
      assertParity(tree(s"graftobj://walkparity/t$i", entries: _*), expected)
  }

  test("newestSnapshotDir never returns a write in flight (_temporary) or a staging dir") {
    val tmp = Files.createTempDirectory("graft-inflight").toString
    import spark.implicits._
    val t1 = ZonedDateTime.of(2026, 8, 15, 10, 0, 0, 0, ZoneOffset.UTC)
    val done = FlightIo.writeParquetSnapshot(Seq((1, "a")).toDF("k", "v"), s"$tmp/gold", t1)
    // the next hour's snapshot while its job runs: the task attempt's
    // files sit under the committer's _temporary tree, nothing at the top
    val inFlight = FlightIo.timestampedPath(s"$tmp/gold", t1.plusHours(1))
    tree(s"file:$inFlight",
      "_temporary/0/_temporary/attempt_202608151100_0001_m_000000_1/part-00000.parquet")
    // a later one staged under a dot-dir (Spark's dynamic-overwrite staging)
    tree(s"file:${FlightIo.timestampedPath(s"$tmp/gold", t1.plusHours(2))}",
      ".spark-staging-1/part-00000.parquet")
    val got = FlightIo.newestSnapshotDir(spark, s"$tmp/gold")
    assert(got.map(new Path(_).toUri.getPath).contains(done), s"got $got, finished snapshot $done")
    // the recursive listing ranks a partial snapshot as newest
    assert(recursiveListingNewest(s"$tmp/gold").exists(_.contains("/.spark-staging-1")))
  }

  test("ensureBucketExists is mkdir-p: creates parents, idempotent") {
    val tmp = Files.createTempDirectory("graft-bucket").toString
    val base = s"$tmp/lake/flights/bronze"
    assert(FlightIo.ensureBucketExists(spark, base))
    assert(Files.isDirectory(java.nio.file.Paths.get(base)))
    assert(FlightIo.ensureBucketExists(spark, base)) // already there
  }

  test("pipeline run: bronze→silver→gold on a fake source, queryable gold") {
    val tmp = Files.createTempDirectory("graft-pipe").toString
    val src = new FlightSource {
      def zones: Seq[Zone] = Seq(Zone(90, -180, -90, 180))
      def flightsInZone(zone: Zone, limit: Int): Seq[Flight] = Seq(
        Flight("f1", "A359", Some(1713453442), Some(1f), Some(2f), "SIN", "JFK", "SQ24", Some(0), "SIA"),
        Flight("f1", "A359", Some(1713453442), Some(1f), Some(2f), "SIN", "JFK", "SQ24", Some(0), "SIA"),
        Flight("f2", "B738", Some(1713453442), Some(3f), Some(4f), "JFK", "SIN", "DL9", Some(0), "DAL"))
      def airlines: Seq[Airline] = Seq(Airline("Singapore Airlines", "SIA"), Airline("Delta", "DAL"))
      def airports: Seq[Airport] = Seq(
        Airport("Singapore Changi Airport", "SIN", Some(1.350189f), Some(103.9944f), "Singapore"),
        Airport("John F. Kennedy International Airport", "JFK", Some(40.639751f), Some(-73.7789f), "United States"))
    }
    val pipe = new FlightPipeline(spark, src, tmp)
    val goldPath = pipe.run(ZonedDateTime.of(2024, 4, 18, 20, 0, 0, 0, ZoneOffset.UTC))
    assert(goldPath.contains("year=2024/month=04"))

    val gold = pipe.latestGold().get
    assert(gold.count() == 2) // f1 deduped, both flights enrich fully
    assert(gold.columns.toSeq == FlightModel.goldColumns)
    val r = FlightAnswers.flightWithLongestTrajectory(gold)
    assert(r.getAs[Float]("distance") == 15340.56640625f)

    // dims were cached: second read path (CSV + _SUCCESS) round-trips
    assert(FlightIo.successExists(spark, s"$tmp/airlines"))
    assert(pipe.airlinesDf.count() == 2)
  }
}
