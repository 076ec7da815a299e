package graft.sources

/** Per-query layout dispatch (r14): the bucketed-warehouse toggle is
  * process-global (env/sysprop), but the suite wants BOTH layouts at
  * once — orderkey join/agg heads win 2–4× over the exchange-free
  * bucketed scan, while iterative rescanners (q101's PageRank loop at
  * r13) and anything whose parallelism is set by the SCAN shape want
  * the splittable plain parquet (a bucketed catalog scan is pinned to
  * one task per bucket file).
  *
  * A [[graft.QueryDef]] marked `plainLayout` builds inside
  * [[withPlain]], and [[BucketedWarehouse.resolve]] then skips
  * catalog resolution for every table the build touches. Thread-local
  * because query BUILD is single-threaded per query by the engine's
  * session contract (see [[graft.CacheScope]]); resolution happens at
  * build time, so the scope only needs to cover the `run(spark, dir)`
  * call, not the later action.
  */
object LayoutPreference {

  private val pinPlain: ThreadLocal[java.lang.Boolean] =
    ThreadLocal.withInitial(() => java.lang.Boolean.FALSE)

  /** True while the current thread builds a query pinned to the plain
    * parquet layout.
    */
  def plainPinned: Boolean = pinPlain.get.booleanValue

  def withPlain[A](body: => A): A = {
    val prev = pinPlain.get
    pinPlain.set(java.lang.Boolean.TRUE)
    try body finally pinPlain.set(prev)
  }

  // Twin preference (r15): logical table → twin suffix (the key of
  // [[BucketedWarehouse.twins]]). A query whose dominant join runs on
  // a FOREIGN key (q07's lineitem⋈part on partkey, q13's
  // orders⋈customer on custkey) wants the fact re-bucketed on that
  // key — a second projection of the fact, standard practice at
  // 100 TB — while the rest of the suite keeps the primary layout.
  private val twinPref: ThreadLocal[Map[String, String]] =
    ThreadLocal.withInitial(() => Map.empty[String, String])

  /** The twin suffix the current query build prefers for `logical`
    * (None → primary bucketed layout, then plain parquet).
    */
  def twinFor(logical: String): Option[String] =
    twinPref.get.get(logical)

  def withTwins[A](twins: Map[String, String])(body: => A): A = {
    val prev = twinPref.get
    twinPref.set(prev ++ twins)
    try body finally twinPref.set(prev)
  }
}
