package graft.functions

import graft.TestSpark
import graft.operators.TextQueries
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The position-ordered window fold q86/q110 ride
  * ([[TextQueries.posOrderedFold]]) must equal
  * aggregate(sort_array(arr), 0d, acc+v) on rows arriving in shuffled
  * position order, where unordered double addition would differ in
  * the last ulps.
  */
class PosOrderedSumSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  test("identical to sort_array + aggregate on shuffled positions") {
    import spark.implicits._
    val rng = new scala.util.Random(61)
    val rows = Seq.tabulate(200) { i =>
      val n = 1 + rng.nextInt(60)
      val lps = rng.shuffle((1 to n).toList).map { pos =>
        (pos, math.log(rng.nextDouble() + 1e-9)) // wide-magnitude doubles
      }
      (i.toLong, lps)
    }
    val df = rows.toDF("doc_id", "lps")
      .select(col("doc_id"), col("lps").cast("array<struct<pos:int,v:double>>").as("lps"))
    val composed = df.select(col("doc_id"),
      aggregate(sort_array(col("lps")), lit(0.0),
        (acc, x) => acc + x.getField("v")).as("s"),
      size(col("lps")).cast("long").as("n"))
    // one row per (doc, pos), scattered across partitions so the
    // window's sort, not the input order, fixes the add order
    val exploded = df.select(col("doc_id"), inline(col("lps")))
      .withColumnRenamed("v", "logp").repartition(7)
    val windowed = TextQueries.posOrderedFold(exploded)
      .select(col("doc_id"), col("tot").as("s"), col("n"))
    // bit-exact double equality, not approximate: the window must add
    // in exactly the same order
    assert(windowed.count() == rows.size)
    assert(composed.exceptAll(windowed).count() == 0 &&
      windowed.exceptAll(composed).count() == 0)
  }
}
