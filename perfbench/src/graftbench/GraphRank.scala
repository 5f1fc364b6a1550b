package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ops.{DedupOps, GraphOps}

/** graph_rank: `GraphOps.pageRank` (one and `iters` iterations),
  * `GraphOps.hits` and `DedupOps.connectedComponents` in turn over a seeded
  * power-law edge list with string node ids and dangling nodes. One
  * operation is one kernel call with its result collected. PageRank is
  * checked against an exact-integer restatement of GraphOps' documented
  * formula, components against union-find, HITS for shape (every node
  * scored, each score column summing to 1). */
final class GraphRank(spark: SparkSession, seed: Long, tr: Tracer) extends Workload {
  import spark.implicits._

  val nodes = 20000
  val edges = 100000
  val iters = 5
  val hitsIters = 3
  private val kernels = Seq("pagerank_1", s"pagerank_$iters", "hits", "cc")

  /** Edges (src, dst) as node indexes; sources skew to low ids with a
    * power law, and the top tenth of ids never sends, so it dangles. */
  private val edgeIdx: Array[(Int, Int)] = {
    val rng = new java.util.SplittableRandom(seed)
    def skewed(n: Int): Int = math.min(n - 1, (n * math.pow(rng.nextDouble(), 2.5)).toInt)
    Array.fill(edges)((skewed(nodes * 9 / 10), skewed(nodes)))
  }
  private def name(i: Int): String = "v" + i
  private var frame: DataFrame = _
  private val callS = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]

  def generate(dir: String): Unit =
    edgeIdx.toSeq.map { case (s, d) => (name(s), name(d)) }.toDF("src", "dst")
      .write.mode("overwrite").parquet(s"$dir/edges")

  def register(dir: String): Unit =
    frame = tr.span("sources.register")(spark.read.parquet(s"$dir/edges"))

  private def run(kernel: String): () => Boolean = {
    val t = System.nanoTime()
    val check: () => Boolean = kernel match {
      case "hits" =>
        val got = tr.span("ops.hits")(GraphOps.hits(frame, iterations = hitsIters).collect())
          .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
        val want = if (Main.corrupt("hits")) nodeCount + 1 else nodeCount
        () => got.length == want && math.abs(got.map(_._2).sum - 1) < 1e-9 &&
          math.abs(got.map(_._3).sum - 1) < 1e-9
      case "cc" =>
        val got = tr.span("ops.cc")(DedupOps.connectedComponents(frame.toDF("d1", "d2")).collect())
          .map(r => r.getString(0) -> r.getString(1)).toMap
        () => got == (if (Main.corrupt("cc")) ccReference.map { case (v, l) => v -> (l + "x") } else ccReference)
      case pr =>
        val n = pr.stripPrefix("pagerank_").toInt
        val got = tr.span("ops.pagerank")(GraphOps.pageRank(frame, iterations = n).collect())
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        () => got == prReference(n)
    }
    callS.getOrElseUpdate(kernel, mutable.ArrayBuffer.empty) += (System.nanoTime() - t) / 1e9
    check
  }

  def warmup(): Unit = kernels.foreach(run)

  override def startWindow(): Unit = callS.clear()

  override def roundSize: Int = kernels.size

  def op(i: Int): Op = {
    val k = kernels(i % kernels.size)
    val work = k match {
      case "hits" => hitsIters
      case "cc" => 1
      case pr => pr.stripPrefix("pagerank_").toInt
    }
    Op(k, edges.toDouble * work, run(k))
  }

  private lazy val distinctEdges = edgeIdx.distinct
  private lazy val nodeCount = (edgeIdx.map(_._1) ++ edgeIdx.map(_._2)).distinct.length

  /** PageRank exactly as GraphOps documents it: integer micro-ranks,
    * `round(r(u)/outdeg(u))` per edge, dangling mass shared as
    * `round(Σ dangling / N)`, Spark's half-up rounding of doubles. */
  private lazy val prRanks: IndexedSeq[Map[String, Long]] = {
    val ids = (distinctEdges.map(_._1) ++ distinctEdges.map(_._2)).distinct.sorted
    val pos = ids.zipWithIndex.toMap
    val n = ids.length
    val outd = new Array[Long](n)
    distinctEdges.foreach { case (s, _) => outd(pos(s)) += 1 }
    val e = distinctEdges.map { case (s, d) => (pos(s), pos(d)) }
    def round(x: Double): Long =
      java.math.BigDecimal.valueOf(x).setScale(0, java.math.RoundingMode.HALF_UP).longValueExact()
    val scale = 1000000000L
    val damping = 0.85
    val base = (1.0 - damping) * scale.toDouble / n
    var r = Array.fill(n)(round(scale.toDouble / n))
    (1 to iters).map { _ =>
      val dangling = (0 until n).filter(outd(_) == 0).map(r(_)).sum
      val share = math.round(dangling.toDouble / n)
      val m = new Array[Long](n)
      e.foreach { case (s, d) => m(d) += round(r(s).toDouble / outd(s)) }
      r = Array.tabulate(n)(v => round(base + damping * (m(v) + share)))
      ids.indices.map(i => name(ids(i)) -> r(i)).toMap
    }
  }
  private def prReference(n: Int): Map[String, Long] =
    if (Main.corrupt("pagerank")) prRanks(n - 1).map { case (v, r) => v -> (r + 1) } else prRanks(n - 1)

  /** Components over the undirected edges; label = the least id (as a
    * string) of each component. */
  private lazy val ccReference: Map[String, String] = {
    val ids = (edgeIdx.map(_._1) ++ edgeIdx.map(_._2)).distinct
    val pos = ids.zipWithIndex.toMap
    val root = Corpus.components(ids.length,
      edgeIdx.filter { case (s, d) => s != d }.map { case (s, d) => (pos(s), pos(d)) })
    ids.indices.groupBy(root(_)).values.flatMap { m =>
      val label = m.map(i => name(ids(i))).min
      m.map(i => name(ids(i)) -> label)
    }.toMap
  }

  override def perLayer(ops: Seq[(Op, Double)]): Map[String, Double] = {
    def med(k: String) = Main.median(callS.getOrElse(k, mutable.ArrayBuffer.empty[Double]).toSeq)
    val prN = med(s"pagerank_$iters")
    Map(
      "ops.pagerank_s" -> prN,
      "ops.pagerank_iter_s" -> (prN - med("pagerank_1")) / (iters - 1),
      "ops.hits_s" -> med("hits"),
      "ops.cc_s" -> med("cc"))
  }

  override def details: Seq[(String, Any)] = Seq(
    "nodes" -> nodeCount, "edges" -> edges, "distinct_edges" -> distinctEdges.length,
    "dangling" -> (nodeCount - distinctEdges.map(_._1).distinct.length),
    "pagerank_iters" -> iters, "hits_iters" -> hitsIters)
}
