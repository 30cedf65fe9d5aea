package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.dbscan.{Cc, Dbscan, DbscanModel, Outputs, SweepRecord}
import graft.graph.ConnectedComponents
import graft.kmeans.{ConstrainedKMeans, KMeansModel}
import graft.operators.NeighborJoin

/** A named metric value with its unit. */
final case class Metric(name: String, value: Double, unit: String)

/** One oracle comparison. */
final case class Check(name: String, ok: Boolean, detail: String)

/** Order-insensitive summary of an iteration's outputs. Every timed
  * iteration's digest must match the warm-up's. Floating-point sums are
  * compared to a relative 1e-9, since Spark may add partial sums in any
  * order. `flags` are choices the outputs do not depend on: an iteration
  * whose flags differ from the warm-up's still matches, but is flagged. */
final case class Digest(exact: Seq[(String, Long)], approx: Seq[(String, Double)],
                        flags: Seq[(String, String)] = Nil) {
  def matches(o: Digest): Boolean =
    exact == o.exact && approx.map(_._1) == o.approx.map(_._1) &&
      approx.zip(o.approx).forall { case ((_, x), (_, y)) => Digest.close(x, y) }
  /** Flags that differ from `o`'s, described. */
  def flagChanges(o: Digest): Seq[String] =
    flags.zip(o.flags).collect { case ((k, v), (_, w)) if v != w => s"$k $v (warm-up $w)" }
  override def toString: String =
    (exact.map { case (k, v) => s"$k=$v" } ++ approx.map { case (k, v) => s"$k=$v" } ++
      flags.map { case (k, v) => s"$k=$v" }).mkString(" ")
}

object Digest {
  def close(x: Double, y: Double): Boolean =
    x == y || math.abs(x - y) <= 1e-9 * math.max(math.abs(x), math.abs(y))
}

/** What one pipeline iteration produced. */
trait Output {
  def digest(): Digest
  /** A note on the iteration that the digest leaves out. */
  def info: String = ""
  /** Full comparison against the workload's oracle. */
  def checks(): Seq[Check]
  /** Span metrics beyond the nine every span has. */
  def extras(): Seq[Metric]
  def release(): Unit
}

/** A benchmark workload: inputs made from the seed, then a pipeline of
  * calls into the library, each wrapped in a span. */
trait Workload {
  def name: String
  /** Spans this workload records when traced, probes included. */
  def spanNames: Seq[String]
  /** Input rows, the numerator of rows_per_s. */
  def rows: Long
  /** Untimed iterations after the first, counted in the set-up, that bring
    * the JIT compiler close to its plateau before the timed ones. */
  def warmups: Int
  /** Untraced timed iterations per run, a fixed count. */
  def timedIterations: Int
  def prepare(spark: SparkSession): Unit
  def run(spans: Spans, dir: String): Output
  /** Isolation probes, run only in the traced pass. */
  def probes(tracer: Tracer): Seq[Metric] = Nil
  def unprepare(): Unit
}

object Workload {
  /** Spans every traced run reports, in order. A workload reports 0 for a
    * span it does not run. */
  val ReportedSpans: Seq[String] = Seq("dbscan.sweep", "sink.json",
    "operators.eps_join", "graph.cc", "kmeans.sweep", "sink.parquet")

  /** Span metrics beyond the nine common ones, with their units. */
  val ExtraMetrics: Seq[(String, String)] = Seq(
    "operators.eps_join.pairs" -> "count",
    "operators.eps_join.candidates" -> "count",
    "operators.eps_join.yield" -> "ratio",
    "graph.cc.rounds" -> "count",
    "kmeans.sweep.lloyd_iters" -> "count",
    "sink.json.mb" -> "MB",
    "sink.parquet.mb" -> "MB")

  /** Workloads at scale 1: the sizes BENCHMARK.json describes. */
  def apply(name: String, seed: Long, scale: Double): Workload = {
    val n = math.max(200, math.round(1000 * scale).toInt)
    name match {
      case "anon_dbscan" => new AnonDbscan(n, seed)
      case "anon_kmeans" => new AnonKmeans(n, seed)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode(SaveMode.Overwrite).save()

  def dirMb(dir: String): Double = {
    val s = Files.walk(Paths.get(dir))
    try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_: Path)).sum() / 1e6
    finally s.close()
  }

  def deleteDir(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
      finally s.close()
    }
  }

  def check(name: String, expected: Any, actual: Any): Check =
    Check(name, expected == actual, s"expected $expected, got $actual".take(300))

  def checkClose(name: String, expected: Double, actual: Double): Check =
    Check(name, Digest.close(expected, actual), s"expected $expected, got $actual")
}

/** Output rows of an executed query's join, read from its SQL metrics
  * (adaptive plans included). */
object PlanRows extends AdaptiveSparkPlanHelper {
  def join(qe: QueryExecution): Option[Long] =
    collect(qe.executedPlan) { case j: BaseJoinExec => j.metrics.get("numOutputRows") }
      .flatten.headOption.map(_.value)

  private val ExcludedRules = "spark.sql.optimizer.excludedRules"

  /** Runs `body` with filters kept above joins. */
  def withoutPushdown[T](spark: SparkSession)(body: => T): T = {
    val prev = spark.conf.getOption(ExcludedRules)
    spark.conf.set(ExcludedRules, Seq("PushDownPredicates", "PushPredicateThroughJoin",
      "ReorderJoin").map("org.apache.spark.sql.catalyst.optimizer." + _).mkString(","))
    try body
    finally prev match {
      case Some(v) => spark.conf.set(ExcludedRules, v)
      case None => spark.conf.unset(ExcludedRules)
    }
  }
}

import Workload._

/** Blob-shaped microdata points: (id, qi, label), one blob per 100 points:
  * as many blobs as the smaller k-means fit has clusters. */
abstract class PointsWorkload(n: Int, seed: Long) extends Workload {
  protected var pts: DataFrame = _
  def rows: Long = n

  def prepare(spark: SparkSession): Unit = {
    pts = Gen.blobPoints(spark, n, math.max(1, n / 100), seed)
      .persist(StorageLevel.MEMORY_AND_DISK)
    pts.count()
  }

  def unprepare(): Unit = pts.unpersist(blocking = true)

  /** The points on the driver, ordered by id; for the oracles only. */
  protected lazy val local: Array[(Long, Array[Double])] =
    pts.orderBy("id").collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
}

/** The paper's pipeline: ε sweep of DBSCAN, then the anonymized JSON sink. */
final class AnonDbscan(n: Int, seed: Long) extends PointsWorkload(n, seed) {
  val name = "anon_dbscan"
  val spanNames = Seq("dbscan.sweep", "sink.json", "operators.eps_join", "graph.cc")
  val warmups = 1
  val timedIterations = 3
  private val EpsRange = Seq(6.0, 8.0, 10.0, 12.0)
  private val MinPts = 10
  private val K = 10
  private val BlockDims = 3

  def run(spans: Spans, dir: String): Output = {
    val (recs, best) = spans("dbscan.sweep") {
      Dbscan.sweep(pts, "id", "qi", EpsRange, MinPts, K, Cc, blockDims = BlockDims)
    }
    val (eps, model) = best.getOrElse(throw new IllegalStateException("sweep chose no model"))
    spans("sink.json")(Outputs.writeAnonymizedJson(model, 6, dir, Some("label")))
    new Out(recs, recs.find(_.eps == eps).get, model, dir)
  }

  private final class Out(records: Seq[SweepRecord], rec: SweepRecord, model: DbscanModel,
                          dir: String) extends Output {
    private lazy val written = {
      val coords = (1 to 7).map(i => s"_$i ${if (i == 7) "INT" else "DOUBLE"}").mkString(", ")
      pts.sparkSession.read.schema(s"pt STRUCT<$coords>, an_pt STRUCT<$coords>").json(dir)
    }

    /** Radii whose total error equals the smallest to 1e-9. When several
      * give the same clustering their errors differ only in the order Spark
      * adds partial sums, and the sweep's argmin picks any of them: the
      * digest requires the chosen ε to be one of them and flags which. */
    private def bestRadii: Seq[Double] = {
      val least = records.map(_.totalError).min
      records.filter(r => Digest.close(r.totalError, least)).map(_.eps)
    }

    def digest(): Digest = Digest(
      records.flatMap(r => Seq(s"clusters@${r.eps}" -> r.nClusters, s"noise@${r.eps}" -> r.nNoise)) ++
        Seq("clusters" -> rec.nClusters, "noise" -> rec.nNoise, "json_rows" -> written.count(),
          "best_radii" -> records.zipWithIndex.collect {
            case (r, i) if bestRadii.contains(r.eps) => 1L << i }.sum,
          "chose_a_best_radius" -> (if (bestRadii.contains(rec.eps)) 1L else 0L)),
      records.map(r => s"total_error@${r.eps}" -> r.totalError) :+
        ("total_error" -> rec.totalError),
      Seq("eps" -> rec.eps.toString))

    override def info: String = s"eps=${rec.eps} best=${bestRadii.mkString("/")} " +
      records.map(r => s"${r.eps}:${r.nClusters}/${r.nNoise}/${r.totalError}").mkString(" ")

    def checks(): Seq[Check] = {
      val o = Oracle.dbscan(local.map(_._2), rec.eps, MinPts, K)
      val minMembers = model.centroids.agg(min("n_members")).head().getLong(0)
      val l1 = (1 to 6).map(i => abs(col(s"pt._$i") - col(s"an_pt._$i"))).reduce(_ + _)
      val js = written.agg(count(lit(1)), sum(l1),
        sum(when(col("pt._7") === col("an_pt._7"), 1).otherwise(0))).head()
      Seq(
        check("dbscan.clusters", o.nClusters, rec.nClusters),
        check("dbscan.noise", o.nNoise, rec.nNoise),
        checkClose("dbscan.total_error", o.totalError, rec.totalError),
        Check("dbscan.k_anonymity", minMembers >= K, s"smallest cluster $minMembers, k $K"),
        check("json.rows", n.toLong, js.getLong(0)),
        checkClose("json.anonymization_error", o.totalError, js.getDouble(1)),
        check("json.label_kept", n.toLong, js.getLong(2)))
    }

    def extras(): Seq[Metric] = Seq(Metric("sink.json.mb", dirMb(dir), "MB"))

    def release(): Unit = { model.unpersist(); deleteDir(dir) }
  }

  override def probes(tracer: Tracer): Seq[Metric] = {
    val eps = EpsRange.max
    def join() = NeighborJoin.epsJoinGrid(
      pts.select(col("id"), col("qi"), lit(1L).as("w")), "id", "qi", eps, BlockDims)
    val joined = join()
    tracer("operators.eps_join")(noop(joined))
    val pairs = joined.count()
    // The optimizer folds the L1 predicate into the join, so the join's
    // output row count is the pair count. With predicate push-down off,
    // the same join reports its candidates (equal cell keys) instead.
    val candidates = PlanRows.withoutPushdown(pts.sparkSession) {
      val probe = join()
      probe.queryExecution.toRdd.count()
      PlanRows.join(probe.queryExecution).getOrElse(0L)
    }

    val core = joined.groupBy("a_id").agg(count(lit(1)).as("c"))
      .where(col("c") >= MinPts).select(col("a_id").as("core_id"))
    val edges = joined.join(core, joined("a_id") === core("core_id"), "left_semi")
      .select(col("a_id").as("src"), col("b_id").as("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    edges.count()
    tracer("graph.cc")(noop(ConnectedComponents.run(edges)))
    edges.unpersist(blocking = true)
    Seq(Metric("operators.eps_join.pairs", pairs.toDouble, "count"),
      Metric("operators.eps_join.candidates", candidates.toDouble, "count"),
      Metric("operators.eps_join.yield",
        if (candidates == 0) 0.0 else pairs.toDouble / candidates, "ratio"))
  }
}

/** The constrained k-means variant, then the Parquet sink. */
final class AnonKmeans(n: Int, seed: Long) extends PointsWorkload(n, seed) {
  val name = "anon_kmeans"
  val spanNames = Seq("kmeans.sweep", "sink.parquet")
  val warmups = 4
  val timedIterations = 6
  /** Ten and twenty clusters at the benchmark's 1,000 points; scaled with
    * the input, since the repair loop cannot give k members to more than
    * n / k clusters and then runs to its round cap. */
  private val Clusters = Seq(math.max(2, n / 100), math.max(2, n / 50))
  private val Restarts = 1
  private val KAnon = 10
  private val MaxLloyd = 4

  def run(spans: Spans, dir: String): Output = {
    val model = spans("kmeans.sweep") {
      ConstrainedKMeans.sweep(pts, "id", "qi", Clusters, Restarts, KAnon, seed, MaxLloyd)
    }
    spans("sink.parquet")(Outputs.writeKmeansParquet(model, Gen.Headers, dir))
    new Out(model, dir)
  }

  private final class Out(model: KMeansModel, dir: String) extends Output {
    private def written = pts.sparkSession.read.parquet(dir)

    def digest(): Digest = Digest(
      Seq("lloyd_iters" -> model.lloydIters.toLong, "clusters" -> model.centroids.size.toLong,
        "parquet_rows" -> written.count()),
      Seq("cost" -> model.cost))

    override def info: String =
      s"clusters=${model.centroids.size} lloyd_iters=${model.lloydIters} cost=${model.cost}"

    def checks(): Seq[Check] = {
      val assigned = model.assignment.select("id", "cluster").collect()
        .map(r => r.getLong(0) -> r.getInt(1))
      val clusterOf = assigned.toMap
      val sizes = assigned.groupBy(_._2).view.mapValues(_.length).toMap
      // centroid vector -> rows that carry it, as written
      val parquetCounts = written.collect()
        .groupBy(r => Gen.Headers.indices.map(r.getDouble)).view.mapValues(_.length).toMap
      val expectedCounts = sizes.toSeq
        .groupBy { case (c, _) => model.centroids(c).toIndexedSeq }
        .view.mapValues(_.map(_._2).sum).toMap
      val cost = local.map { case (id, qi) =>
        val c = model.centroids(clusterOf(id))
        require(parquetCounts.contains(c.toIndexedSeq), s"centroid of cluster ${clusterOf(id)} not written")
        qi.indices.map(d => math.abs(qi(d) - c(d))).sum
      }.sum
      val meanDrift = sizes.keys.map { c =>
        val members = local.filter(p => clusterOf(p._1) == c).map(_._2)
        val mean = members.transpose.map(_.sum / members.length)
        mean.indices.map(d => math.abs(mean(d) - model.centroids(c)(d))).max
      }.max
      Seq(
        check("kmeans.rows", n.toLong, assigned.length.toLong),
        check("kmeans.distinct_ids", local.map(_._1).toSet, clusterOf.keySet),
        Check("kmeans.k_anonymity", sizes.values.count(_ < KAnon) <= 1,
          s"clusters under k: ${sizes.values.count(_ < KAnon)}"),
        Check("kmeans.centroid_is_mean", meanDrift < 1e-9, s"max drift $meanDrift"),
        check("parquet.centroid_rows", expectedCounts, parquetCounts),
        checkClose("parquet.cost", cost, model.cost))
    }

    def extras(): Seq[Metric] = Seq(
      Metric("kmeans.sweep.lloyd_iters", model.lloydIters.toDouble, "count"),
      Metric("sink.parquet.mb", dirMb(dir), "MB"))

    def release(): Unit = { model.unpersist(); deleteDir(dir) }
  }
}
