package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's defaults: [[Defaults]], shuffle
  * parallelism sized to cores (not the 200 default), custom SQL
  * functions registered. On a real cluster, drop `.master` and submit
  * normally — everything else carries over.
  */
object GraftSession {

  /** Settings every session of the engine gets, the test session too:
    * AQE on, UTC session timezone (the oracle-parity convention), and a
    * codegen class cache that holds the steady-state working set.
    * Spark's cache keeps 100 compiled classes and evicts per segment; an
    * hourly tick of 8k flights plus its six answers compiles about 90
    * classes, and at 100 entries every warm tick+answer cycle still
    * recompiled 44 of them (15 in the tick, 29 in the answers), at 1000
    * none. The cache is JVM-wide and sized once, by the session active
    * at the first compilation.
    */
  val Defaults: Map[String, String] = Map(
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.codegen.cache.maxEntries" -> "1000")

  def local(cores: Int = Runtime.getRuntime.availableProcessors(), appName: String = "graft"): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config(Defaults)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    // builder-time extensions don't apply if a session already existed
    GraftExtensions.register(spark)
    spark
  }

  /** Credentials + endpoint for an S3-compatible object store (MinIO,
    * Ceph RGW, AWS). `pathStyle` must be true for MinIO-style single
    * hostnames; `ssl` false mirrors an in-cluster plaintext endpoint.
    */
  final case class S3Profile(
      endpoint: String,
      accessKey: String,
      secretKey: String,
      pathStyle: Boolean = true,
      ssl: Boolean = false)

  /** The S3A conf block the cluster deploy needs (the reference wires
    * the same keys in `main.py:68-92`): endpoint + creds, path-style
    * access, and the S3A *magic committer* — the committer that makes
    * task commits O(1) metadata operations instead of object copies,
    * which is the difference between a job commit that takes seconds
    * and one that re-copies terabytes of output. Returned as a plain
    * Map so it can feed a builder, a `--conf` list, or a test.
    */
  def s3aConf(p: S3Profile): Map[String, String] = Map(
    "spark.hadoop.fs.s3a.endpoint" -> p.endpoint,
    "spark.hadoop.fs.s3a.access.key" -> p.accessKey,
    "spark.hadoop.fs.s3a.secret.key" -> p.secretKey,
    "spark.hadoop.fs.s3a.path.style.access" -> p.pathStyle.toString,
    "spark.hadoop.fs.s3a.connection.ssl.enabled" -> p.ssl.toString,
    "spark.hadoop.fs.s3a.impl" -> "org.apache.hadoop.fs.s3a.S3AFileSystem",
    "spark.hadoop.fs.s3a.committer.magic.enabled" -> "true",
    "spark.hadoop.fs.s3a.committer.name" -> "magic",
    "spark.hadoop.mapreduce.outputcommitter.factory.scheme.s3a" ->
      "org.apache.hadoop.fs.s3a.commit.S3ACommitterFactory")

  /** Cluster session profile: engine defaults plus the S3A block.
    * `master` is the cluster URL (or None to inherit spark-submit's);
    * shuffle partitions default to 2× total executor cores guidance —
    * pass explicitly when the deploy knows better.
    */
  def cluster(
      s3: S3Profile,
      appName: String = "graft",
      master: Option[String] = None,
      shufflePartitions: Int = 200): SparkSession = {
    var b = SparkSession.builder()
      .appName(appName)
      .config(Defaults)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
    master.foreach(m => b = b.master(m))
    s3aConf(s3).foreach { case (k, v) => b = b.config(k, v) }
    val spark = b.withExtensions(new GraftExtensions).getOrCreate()
    GraftExtensions.register(spark)
    spark
  }
}
