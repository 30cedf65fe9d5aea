package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generators. Every row is a pure function of its
  * `spark.range` index and the seed, computed in Spark, so nothing of
  * input size passes through the driver and the same seed gives the same
  * inputs on any partitioning. */
object Gen {

  /** Quasi-identifier ranges of the reference's 10k six-attribute table:
    * age, height, weight, blood sugar level, children, exercise hours. */
  val Lo = Array(15, 130, 30, 2, 0, 0)
  val Hi = Array(90, 190, 100, 23, 5, 20)
  val Headers = Seq("age", "height", "weight", "blood_sugar_level", "child",
    "exercise_hours")

  private def hash(seed: Long, salt: Int, cs: Column*): Column =
    xxhash64((cs :+ lit(seed) :+ lit(salt)): _*)

  private def below(h: Column, m: Long): Column = pmod(h, lit(m))

  /** (id, qi: array<double> of 6 integers, label 1..5). Every tenth row
    * is noise, uniform over the whole range; the others fall in `blobs`
    * equal blobs, offset by -1, 0 or 1 per dimension from a centre drawn
    * uniformly from the range. */
  def blobPoints(spark: SparkSession, n: Long, blobs: Int, seed: Long): DataFrame = {
    val id = col("id")
    val isNoise = pmod(id, lit(10)) === 0
    val blob = pmod(id, lit(blobs.toLong))
    val dims = (0 until 6).map { d =>
      val centre = lit(Lo(d) + 1) + below(hash(seed, 10 + d, blob), Hi(d) - Lo(d) - 1)
      val offset = below(hash(seed, 20 + d, id), 3) - 1
      val uniform = lit(Lo(d)) + below(hash(seed, 30 + d, id), Hi(d) - Lo(d) + 1)
      when(isNoise, uniform).otherwise(centre + offset).cast("double")
    }
    spark.range(n).select(id, array(dims: _*).as("qi"),
      (below(hash(seed, 40, id), 5) + 1).cast("int").as("label"))
  }
}
