package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Production resolution of the bucketed join-table layout
  * (r13, promoting the r12 bucketed-layout probe that measured q05
  * 18.8→2.8 s at 100× into a path the whole suite can run over).
  *
  * Layout: ONE bucket key per table — `lineitem`/`orders` co-bucketed
  * on the orderkey (the only fact⋈fact equi-join in the relational
  * heads, and the dominant exchange pair), `customer` on `c_custkey`,
  * `part` on `p_partkey` (each joined against a fact side that
  * re-shuffles or broadcasts as its size dictates; a deployment
  * wanting the custkey join co-located too materializes a second
  * orders projection — the foreign-key [[twins]] below).
  * Dims (`region`/`nation`) and the non-join tables stay plain
  * parquet.
  *
  * Catalog persistence: bucketed tables are readable only through a
  * catalog (bucket spec lives in table metadata, not the files), and
  * Spark's default in-memory catalog dies with the session — so the
  * warehouse keeps a Derby-backed Hive metastore inside its own
  * directory. [[configure]] points any session at it; a session built
  * WITHOUT it silently resolves nothing and every reader falls back
  * to plain parquet (the driver's own runs never set the env, so the
  * blessed correctness path is untouched).
  *
  * Safety: the warehouse records the canonical source SF directory it
  * was built from in a `SOURCE_SF_DIR` marker; [[resolve]] returns
  * None for any other requested dir — a stale warehouse can never
  * substitute wrong-scale data for a parquet read. Byte-identity of
  * results over the two layouts is asserted by BucketedWarehouseSpec
  * and by the oracle-checked bucketed Verify runs
  * (`VERIFY_bucketed_r1*.json`).
  */
object BucketedWarehouse {

  /** Env toggle: path of a warehouse built by
    * [[graft.tools.BuildWarehouse]].
    */
  val EnvKey = "GRAFT_BUCKETED_WH"

  /** The bucketed join tables: logical name → (bucket key, buckets).
    * 64 buckets ≈ one task's worth per bucket on the 100× lineitem;
    * co-bucketed pairs must share the count.
    */
  val tables: Map[String, (String, Int)] = Map(
    "lineitem" -> ("l_orderkey", 64),
    "orders" -> ("o_orderkey", 64),
    "customer" -> ("c_custkey", 64),
    "part" -> ("p_partkey", 64))

  /** Foreign-key fact twins (r15): a second bucketed projection of a
    * fact table, keyed for the joins the primary layout cannot serve —
    * the r14 verdict's last two structural gaps (q07 lineitem⋈part on
    * partkey at 7.8 s vs DuckDB 0.42 calm at 100×; q13 orders⋈customer
    * on custkey at 4.4 vs 0.28 — the fact side paid the full shuffle
    * the warehouse was built to eliminate). Keyed by twin suffix:
    * physical table `bk_<suffix>`, value = (logical table, bucket key,
    * buckets). Bucket counts match the dimension they co-locate with
    * (`part`/`customer` at 64) so the join planes exchange-free.
    * A query opts in per-table via [[graft.QueryDef.withTwinLayout]];
    * nothing resolves a twin by default.
    */
  val twins: Map[String, (String, String, Int)] = Map(
    "lineitem_pk" -> (("lineitem", "l_partkey", 64)),
    "orders_ck" -> (("orders", "o_custkey", 64)))

  /** Logical table behind a scan-census name: strips the `bk_` prefix
    * and folds twin suffixes back to their base table, so scan budgets
    * bind on the QUERY's logical table whichever layout served it
    * (r14 ADVICE: normalize at one place instead of in every budget
    * lookup).
    */
  def logicalName(censusName: String): String = {
    val base = censusName.stripPrefix("bk_")
    twins.get(base).map(_._1).getOrElse(base)
  }

  /** System-property twin of the env toggle so an in-process spec can
    * flip resolution on (the JVM cannot set its own environment); the
    * env wins when both are set.
    */
  val PropKey = "graft.bucketed.wh"

  def whDir: Option[String] =
    sys.env.get(EnvKey).orElse(sys.props.get(PropKey)).filter(_.nonEmpty)

  /** Hive-metastore session configs for a warehouse at `wh`. Also
    * enables the per-bucket sort trust (safe: the writer guarantees
    * one file per bucket — SPARK-28632's multi-file caveat cannot
    * arise).
    */
  def configure(
      builder: SparkSession.Builder, wh: String): SparkSession.Builder =
    builder
      .config("spark.sql.warehouse.dir", s"$wh/tables")
      .config("javax.jdo.option.ConnectionURL",
        s"jdbc:derby:;databaseName=$wh/metastore_db;create=true")
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      .enableHiveSupport()

  /** Apply [[configure]] iff the env toggle is set — the one-line hook
    * for Bench/Verify session builders.
    */
  def configureFromEnv(builder: SparkSession.Builder): SparkSession.Builder =
    whDir.fold(builder)(wh => configure(builder, wh))

  def markerPath(wh: String): java.nio.file.Path =
    java.nio.file.Paths.get(wh, "SOURCE_SF_DIR")

  def writeMarker(wh: String, sfDir: String): Unit =
    java.nio.file.Files.write(markerPath(wh),
      java.nio.file.Paths.get(sfDir).toRealPath().toString
        .getBytes(java.nio.charset.StandardCharsets.UTF_8)): Unit

  // memoized per (warehouse, sfDir): resolve runs on every table
  // access of every query build; the marker is immutable post-build.
  // POSITIVE results only (r13 ADVICE): a transient read failure — or
  // a marker that appears after the first resolve attempt — must not
  // disable bucketed resolution for the JVM's lifetime; the re-read on
  // a miss is one tiny file, trivial next to a query build.
  private val markerCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), java.lang.Boolean]()

  private def markerMatches(wh: String, sfDir: String): Boolean =
    markerCache.containsKey((wh, sfDir)) || {
      val ok =
        try {
          val want = java.nio.file.Paths.get(sfDir).toRealPath().toString
          new String(java.nio.file.Files.readAllBytes(markerPath(wh)),
            java.nio.charset.StandardCharsets.UTF_8).trim == want
        } catch { case _: java.io.IOException => false }
      if (ok) markerCache.put((wh, sfDir), java.lang.Boolean.TRUE)
      ok
    }

  // one-file-per-bucket guard, memoized positively per (wh, table):
  // the session-wide sort-trust config (`bucketedTableScan
  // .outputOrdering`, set in [[configure]]) is only safe over
  // single-file buckets, and the writer's guarantee is re-VERIFIED
  // here before any query consumes the table — a hand-edited or
  // torn warehouse falls back to plain parquet (correct, just
  // slower) instead of silently skipping a required Sort.
  private val layoutCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), java.lang.Boolean]()

  private def layoutOk(
      spark: SparkSession, wh: String, name: String, buckets: Int): Boolean =
    layoutCache.containsKey((wh, name)) || {
      val ok =
        try {
          val (files, ids) = BucketedTables.bucketFileCensus(spark, s"bk_$name")
          // empty buckets write no file (sort-safe); a bucket id with
          // MORE than one file is the unsafe layout
          val good = files == ids && ids <= buckets
          if (!good) System.err.println(
            s"[BucketedWarehouse] bk_$name: $files files / $ids bucket ids " +
              s"(numBuckets=$buckets) — some bucket holds multiple files; " +
              "falling back to plain parquet for this table")
          good
        } catch { case _: Exception => false }
      if (ok) layoutCache.put((wh, name), java.lang.Boolean.TRUE)
      ok
    }

  // one guarded catalog lookup, shared by primary and twin resolution
  private def resolveTable(
      spark: SparkSession, wh: String, sfDir: String,
      physName: String, buckets: Int): Option[DataFrame] =
    if (markerMatches(wh, sfDir) && spark.catalog.tableExists(s"bk_$physName") &&
        layoutOk(spark, wh, physName, buckets))
      Some(spark.table(s"bk_$physName"))
    else None

  /** The bucketed table for `name`, iff the env names a warehouse
    * built from exactly `sfDir`, the session can see its catalog, the
    * table is one of the bucketed set, and its layout still honors
    * one-file-per-bucket. None → caller reads plain parquet. A query
    * under [[LayoutPreference.withPlain]] skips resolution entirely
    * (per-workload layout dispatch, r14 — iterative rescanners want
    * the splittable plain scan). A query that declared a twin
    * preference for `name` resolves the foreign-key twin instead,
    * falling back twin → primary → plain so a warehouse without the
    * twin stays correct, just slower.
    */
  /** True iff a twin-preferring read of `name` would resolve its twin
    * — the same probes [[resolve]] runs (marker, catalog, layout),
    * memoized the same way. For query shapes that drop a MANUAL
    * clustering exchange when the scan already arrives bucketed on
    * that key (q80's `repartition(o_custkey)`): `EnsureRequirements`
    * only removes exchanges it inserted itself, so a user repartition
    * over an already-co-bucketed scan would shuffle the fact for
    * nothing, and the query shape has to make the call at build time.
    */
  def twinActive(spark: SparkSession, sfDir: String, name: String): Boolean =
    !LayoutPreference.plainPinned && whDir.exists { wh =>
      LayoutPreference.twinFor(name).exists { suffix =>
        twins.get(suffix).exists { case (logical, _, buckets) =>
          logical == name &&
            resolveTable(spark, wh, sfDir, suffix, buckets).isDefined
        }
      }
    }

  /** True iff a read of `name` would resolve ANY bucketed layout
    * (twin or primary) rather than plain parquet — for query shapes
    * that differ structurally by layout (r16: q128 generates pairs by
    * co-bucketed self-join when the fact arrives hash(l_orderkey) —
    * exchange-free and fully codegen — but by collect_set + kernel
    * explode on plain parquet, where the join form would shuffle the
    * fact three times).
    */
  def bucketedActive(spark: SparkSession, sfDir: String, name: String): Boolean =
    twinActive(spark, sfDir, name) ||
      (!LayoutPreference.plainPinned && tables.contains(name) && whDir.exists { wh =>
        resolveTable(spark, wh, sfDir, name, tables(name)._2).isDefined
      })

  def resolve(
      spark: SparkSession, sfDir: String, name: String): Option[DataFrame] =
    whDir.filter(_ => tables.contains(name) && !LayoutPreference.plainPinned)
      .flatMap { wh =>
        val twin = LayoutPreference.twinFor(name).flatMap { suffix =>
          twins.get(suffix).collect { case (`name`, _, buckets) =>
            resolveTable(spark, wh, sfDir, suffix, buckets)
          }.flatten
        }
        twin.orElse(
          resolveTable(spark, wh, sfDir, name, tables(name)._2))
      }
}
