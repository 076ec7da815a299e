package graft.sources

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkEntry, Tables, TestSpark}

import java.nio.file.Files

/** The bucketed-warehouse toggle must be INVISIBLE in results and
  * strictly guarded: with the toggle on and the catalog populated,
  * the same queries return byte-identical rows over bucketed tables;
  * with a marker mismatch (warehouse built from another SF dir) or a
  * missing catalog table, resolution declines and the parquet read
  * proceeds. (Cross-JVM metastore persistence is exercised by
  * BuildWarehouse and the bucketed 100× bench runs; a spec JVM cannot switch
  * its already-built session to a Hive catalog, so this spec
  * registers the bucketed tables in the session catalog directly.)
  */
class BucketedWarehouseSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private val sfDir = "/root/testdata/sf0.001"

  private def withWarehouse[A](body: => A): A = {
    val wh = Files.createTempDirectory("bk-wh").toString
    val t = Tables(spark, sfDir)
    def src(name: String) = name match {
      case "lineitem" => t.lineitem
      case "orders" => t.orders
      case "customer" => t.customer
      case "part" => t.part
    }
    BucketedWarehouse.tables.foreach { case (name, (key, buckets)) =>
      BucketedTables.writeBucketed(src(name), s"bk_$name", key, buckets)
    }
    BucketedWarehouse.twins.foreach { case (phys, (logical, key, buckets)) =>
      BucketedTables.writeBucketed(src(logical), s"bk_$phys", key, buckets)
    }
    BucketedWarehouse.writeMarker(wh, sfDir)
    sys.props(BucketedWarehouse.PropKey) = wh
    try body
    finally {
      sys.props.remove(BucketedWarehouse.PropKey)
      (BucketedWarehouse.tables.keys ++ BucketedWarehouse.twins.keys)
        .foreach(n => spark.sql(s"DROP TABLE IF EXISTS bk_$n"))
    }
  }

  private def run(name: String): Seq[String] = {
    val rows =
      try SparkEntry.queries(name)(spark, sfDir).collect()
      finally graft.CacheScope.drain()
    rows.map(_.toString).toSeq
  }

  test("resolution fires only with marker + catalog; results byte-identical to parquet") {
    val names = Seq("q05_region_revenue", "q04_order_priority_exists", "q01_pricing_summary")
    val plain = names.map(n => n -> run(n)).toMap
    withWarehouse {
      // the toggle actually resolved (not a silent fallback)
      assert(BucketedWarehouse.resolve(spark, sfDir, "lineitem").isDefined)
      // the Tables reader actually scans the catalog table (a bare
      // scan prints "Bucketed: false (disabled by query planner)" —
      // autoBucketedScan skips bucketing when no operator needs it;
      // the join test below pins the enabled case)
      val planText = Tables(spark, sfDir).lineitem
        .queryExecution.executedPlan.toString
      assert(planText.contains("bk_lineitem"), planText.take(500))
      // marker guard: any other sf dir must decline
      assert(BucketedWarehouse.resolve(spark, "/root/testdata/sf0.01", "lineitem").isEmpty)
      // non-bucketed tables never resolve
      assert(BucketedWarehouse.resolve(spark, sfDir, "events").isEmpty)
      names.foreach { n =>
        assert(run(n) == plain(n), s"$n diverges over the bucketed layout")
      }
    }
    // after teardown resolution declines again
    assert(BucketedWarehouse.resolve(spark, sfDir, "lineitem").isEmpty)
  }

  test("marker cache is positive-only: a marker appearing after a failed probe enables resolution") {
    val wh = Files.createTempDirectory("bk-wh").toString
    val t = Tables(spark, sfDir)
    BucketedTables.writeBucketed(t.lineitem, "bk_lineitem", "l_orderkey", 64)
    sys.props(BucketedWarehouse.PropKey) = wh
    try {
      // no marker yet: resolution declines (and the old permanent
      // negative memo would have pinned this outcome forever)
      assert(BucketedWarehouse.resolve(spark, sfDir, "lineitem").isEmpty)
      BucketedWarehouse.writeMarker(wh, sfDir)
      assert(BucketedWarehouse.resolve(spark, sfDir, "lineitem").isDefined,
        "marker written after the first probe must enable resolution (r13 ADVICE)")
    } finally {
      sys.props.remove(BucketedWarehouse.PropKey)
      spark.sql("DROP TABLE IF EXISTS bk_lineitem")
    }
  }

  test("a multi-file bucket is rejected at resolve time (sort-trust guard)") {
    val wh = Files.createTempDirectory("bk-wh").toString
    val t = Tables(spark, sfDir)
    BucketedTables.writeBucketed(t.lineitem, "bk_lineitem", "l_orderkey", 64)
    BucketedWarehouse.writeMarker(wh, sfDir)
    sys.props(BucketedWarehouse.PropKey) = wh
    try {
      // split one bucket into two files by copying a data file under a
      // fresh task id but the SAME bucket-id component — exactly what
      // an inherited maxRecordsPerFile would have produced at build
      val loc = new java.io.File(new java.net.URI(
        spark.sessionState.catalog.getTableMetadata(
          org.apache.spark.sql.catalyst.TableIdentifier("bk_lineitem")).location.toString))
      val data = loc.listFiles().filter(f =>
        f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
      val victim = data.head
      val twin = new java.io.File(loc, "part-99999-" + victim.getName.dropWhile(_ != '-').drop(1))
      Files.copy(victim.toPath, twin.toPath)
      assert(BucketedWarehouse.resolve(spark, sfDir, "lineitem").isEmpty,
        "resolution must decline when a bucket holds more than one file")
      // repair: remove the twin; the guard re-probes (no negative memo)
      assert(twin.delete())
      assert(BucketedWarehouse.resolve(spark, sfDir, "lineitem").isDefined)
    } finally {
      sys.props.remove(BucketedWarehouse.PropKey)
      spark.sql("DROP TABLE IF EXISTS bk_lineitem")
    }
  }

  test("a plainLayout-pinned build never resolves bucketed tables") {
    withWarehouse {
      assert(BucketedWarehouse.resolve(spark, sfDir, "lineitem").isDefined)
      LayoutPreference.withPlain {
        assert(BucketedWarehouse.resolve(spark, sfDir, "lineitem").isEmpty,
          "LayoutPreference.withPlain must pin the plain parquet scan")
      }
      assert(BucketedWarehouse.resolve(spark, sfDir, "lineitem").isDefined,
        "the pin must not outlive its scope")
    }
  }

  test("a twin preference resolves the foreign-key twin, scoped; absent twin falls back to primary") {
    withWarehouse {
      def scans(name: String): String = {
        val df = BucketedWarehouse.resolve(spark, sfDir, name).get
        df.queryExecution.executedPlan.toString
      }
      // no preference → primary
      assert(scans("lineitem").contains("bk_lineitem"))
      LayoutPreference.withTwins(Map("lineitem" -> "lineitem_pk")) {
        assert(scans("lineitem").contains("bk_lineitem_pk"),
          "twin preference must resolve the l_partkey twin")
        // other tables unaffected
        assert(scans("orders").contains("bk_orders"))
        // a preference naming a twin of a DIFFERENT logical table is
        // ignored (never serve orders rows for a lineitem read)
        LayoutPreference.withTwins(Map("lineitem" -> "orders_ck")) {
          assert(scans("lineitem").contains("bk_lineitem")
            && !scans("lineitem").contains("bk_lineitem_pk"))
        }
      }
      // scope ended → primary again
      assert(!scans("lineitem").contains("bk_lineitem_pk"))
      // twin dropped → preference falls back to the primary layout
      spark.sql("DROP TABLE IF EXISTS bk_lineitem_pk")
      LayoutPreference.withTwins(Map("lineitem" -> "lineitem_pk")) {
        assert(scans("lineitem").contains("bk_lineitem"),
          "missing twin must fall back to the primary bucketed table")
      }
    }
  }

  test("q07/q13 resolve their twins and stay byte-identical to the plain layout") {
    val names = Seq("q07_top_parts_per_brand", "q13_customer_order_counts")
    val plain = names.map(n => n -> run(n)).toMap
    withWarehouse {
      names.foreach { n =>
        val d = SparkEntry.defs.find(_.name == n).get
        val plan = d.build(spark, sfDir).queryExecution.executedPlan.toString
        val twin = if (n.startsWith("q07")) "bk_lineitem_pk" else "bk_orders_ck"
        assert(plan.contains(twin), s"$n should scan $twin:\n${plan.take(600)}")
        assert(run(n) == plain(n), s"$n diverges over the twin layout")
      }
    }
  }

  test("q13 twin-side persist is present below the final sort (layout-gated persist, twin branch)") {
    // r16 ADVICE: PlanQualitySpec pins only the PLAIN side of the q13
    // gate (no persist); the twin side — the half carrying the
    // measured 11% win — was pinned solely by committed plan text. A
    // refactor of twin resolution or LayoutPreference scoping could
    // silently drop it. This registers the twins in-session (same
    // machinery as the tests above) and asserts the InMemoryRelation
    // exists on the twin plan.
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    withWarehouse {
      assert(BucketedWarehouse.twinActive(spark, sfDir, "orders")
        === false, "twinActive needs the query's twin preference in scope")
      val d = SparkEntry.defs.find(_.name == "q13_customer_order_counts").get
      try {
        val df = d.build(spark, sfDir)
        val imrs = df.queryExecution.withCachedData
          .collect { case r: InMemoryRelation => r }
        assert(imrs.nonEmpty,
          "q13 on the twin layout: the pre-sort persist was dropped")
      } finally graft.CacheScope.drain()
    }
  }

  test("the layout stamp derives from the warehouse: twins, then bucketed without twin tables, else plain") {
    withWarehouse {
      assert(graft.BenchKernel.layoutName(spark, sfDir) == "twins")
      BucketedWarehouse.twins.keys.foreach(n => spark.sql(s"DROP TABLE IF EXISTS bk_$n"))
      assert(graft.BenchKernel.layoutName(spark, sfDir) == "bucketed",
        "a warehouse without twin tables is the primary bucketed layout")
      // marker mismatch: the warehouse was built from another SF dir
      assert(graft.BenchKernel.layoutName(spark, "/root/testdata/sf0.01") == "plain")
    }
    assert(graft.BenchKernel.layoutName(spark, sfDir) == "plain")
  }

  test("the partkey twin joins bk_part without an exchange on either side") {
    withWarehouse {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try LayoutPreference.withTwins(Map("lineitem" -> "lineitem_pk")) {
        val t = Tables(spark, sfDir)
        val joined = t.lineitem.join(t.part, col("p_partkey") === col("l_partkey"))
          .groupBy(col("p_brand")).count()
        val plan = joined.queryExecution.executedPlan.toString
        val exchanges = plan.linesIterator.count(_.contains("Exchange"))
        // one exchange for the groupBy on a non-bucket key; ZERO for
        // the join itself
        assert(exchanges <= 1, s"expected the partkey join exchanges gone, got $exchanges:\n${plan.take(800)}")
      } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("co-bucketed lineitem⋈orders joins without an exchange on either side") {
    withWarehouse {
      val t = Tables(spark, sfDir)
      // fixture-sized sides broadcast; force the shuffle-join planner
      // path the bucketing exists for
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val joined = t.lineitem.join(t.orders,
          col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_orderpriority")).count()
        val plan = joined.queryExecution.executedPlan.toString
        val exchanges = plan.linesIterator.count(_.contains("Exchange"))
        // one exchange for the groupBy on a non-bucket key; ZERO for
        // the join itself (plain layout pays three)
        assert(exchanges <= 1, s"expected the join exchanges gone, got $exchanges:\n${plan.take(800)}")
      } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }
}
