package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{SQLContext, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery

import graft.api.Pipelines
import graft.ops.DedupOps
import graft.streaming.{ClusterLoop, NearDupLoop}

final case class DocEvent(doc_id: Long, text: String, removed: Boolean)
final case class PairEvent(d1: Long, d2: Long, removed: Boolean)

/** ingest_stream: seeded document batches arrive in turn. Each batch is
  * curated with `Pipelines.curate` (quality and language gates, near-dup
  * clustering inside the batch); the survivors go through `NearDupLoop.run`
  * over a MemoryStream, which finds near-dups against every earlier batch,
  * and the pairs it emits go through `ClusterLoop.run`, which keeps the
  * cluster map and compacts its edge store after every batch but the first
  * (`compactEvery` = 1), so every timed batch has the same shape.
  * One operation is one batch through all three; after it a seeded sample
  * of ids is read from `ClusterLoop.latestLabels`, timed apart.
  *
  * Checks: each batch's survivors equal the ids a plain-Scala restatement
  * of the gates and clustering keeps, over the exact-Jaccard pairs that
  * curate's LSH stage finds (pairs it misses are counted in the details,
  * since its banding promises 0.9 recall at the threshold, not 1); at
  * the end, the union of emitted pairs equals one-shot `minhashLshDocs`
  * over every folded document and the labels equal
  * `connectedComponents` over those pairs — the loops' exactness contracts. */
final class IngestStream(spark: SparkSession, seed: Long, tr: Tracer) extends Workload {
  import spark.implicits._
  private implicit val sqlCtx: SQLContext = spark.sqlContext

  val batchDocs = 200
  val batches = 12
  val compactEvery = 1
  val (k, bands, threshold) = (8, 4, 0.8)
  private val batchOf: IndexedSeq[IndexedSeq[Doc]] =
    new Corpus(seed).docs(batchDocs * batches, 1L).grouped(batchDocs).toIndexedSeq
  private val text: Map[Long, String] = batchOf.flatten.map(d => d.id -> d.text).toMap
  private val rng = new java.util.SplittableRandom(seed ^ 0x1dea)

  private var input = ""
  private var root = ""
  private var rep = -1
  private var docMem: MemoryStream[DocEvent] = _
  private var pairMem: MemoryStream[PairEvent] = _
  private var queries = Seq.empty[StreamingQuery]
  private var next = 0
  private val folded = mutable.ArrayBuffer.empty[Long]
  private var pairsEmitted = 0L
  private var pairsMissed = 0L
  private val stage = Seq("curate_call", "curate_collect", "neardup", "cluster", "compaction", "read")
    .map(_ -> mutable.ArrayBuffer.empty[Double]).toMap

  def generate(dir: String): Unit = {
    batchOf.zipWithIndex.flatMap { case (b, i) => b.map(d => (d.id, d.text, i)) }
      .toDF("doc_id", "text", "batch").write.partitionBy("batch").parquet(s"$dir/input")
    input = s"$dir/input"
  }

  private def batchFrame(b: Int) = spark.read.parquet(input).where(col("batch") === b).drop("batch")

  /** Starts both loops on fresh state (stopping any earlier pair). */
  def register(dir: String): Unit = {
    queries.foreach(_.stop())
    rep += 1
    root = s"$dir/loops$rep"
    docMem = MemoryStream[DocEvent]
    pairMem = MemoryStream[PairEvent]
    queries = Seq(
      tr.span("streaming.neardup_start") {
        NearDupLoop.run(docMem.toDF(), "doc_id", "text", "removed", s"ingest_idx$rep",
          s"$root/index", s"$root/pairs", s"$root/ckpt_nd", k, bands, threshold, buckets = 8)
      },
      tr.span("streaming.cluster_start") {
        ClusterLoop.run(pairMem.toDF(), "d1", "d2", "removed", s"$root/state", s"$root/edges",
          s"$root/labels", s"$root/ckpt_cl", compactEvery = compactEvery)
      })
  }

  private def time[A](k: String)(body: => A): (A, Double) = {
    val t = System.nanoTime()
    val a = tr.span(s"${if (k.startsWith("curate")) "api" else "streaming"}.$k")(body)
    val s = (System.nanoTime() - t) / 1e9
    stage(k) += s
    (a, s)
  }

  /** One batch through curate and both loops; returns (seconds, check). */
  private def step(): (Double, () => Boolean) = {
    val b = next
    next += 1
    val (res, s1) = time("curate_call")(Pipelines.curate(batchFrame(b)))
    val (kept, s2) = time("curate_collect")(res.curated.select(col("doc_id")).as[Long].collect())
    val (_, s3) = time("neardup") {
      docMem.addData(kept.sorted.toSeq.map(id => DocEvent(id, text(id), removed = false)))
      queries(0).processAllAvailable()
    }
    folded ++= kept
    val pairs = spark.read.parquet(s"$root/pairs/batch=$b").select("d1", "d2").as[(Long, Long)].collect()
    pairsEmitted += pairs.length
    val compacting = b > 0 && b % compactEvery == 0
    val (_, s4) = time("cluster") {
      pairMem.addData(pairs.toSeq.map { case (x, y) => PairEvent(x, y, removed = false) })
      queries(1).processAllAvailable()
    }
    if (compacting) stage("compaction") += s4
    val sample = Seq.fill(20)(folded(rng.nextInt(folded.size)).toString)
    time("read") {
      ClusterLoop.latestLabels(spark, s"$root/state").where(col("doc").isin(sample: _*)).collect()
    }
    val keptSet = kept.toSet
    (s1 + s2 + s3 + s4, () => {
      val (want, falsePairs, missed) = expectedKept(b)
      pairsMissed += missed.size
      if (keptSet != want || falsePairs.nonEmpty)
        System.err.println(s"batch $b: curate kept ${(keptSet -- want).toSeq.sorted.mkString(",")} " +
          s"beyond the reference, missed ${(want -- keptSet).toSeq.sorted.mkString(",")}; " +
          s"LSH pairs below the threshold: ${falsePairs.mkString(",")}")
      keptSet == want && falsePairs.isEmpty && endState
    })
  }

  /** The reference survivors of batch `b`, with the pairs the one-shot
    * LSH stage `curate` uses (`DedupOps.minhashLshDocsAuto` over the
    * gate survivors) finds below the threshold and misses above it. */
  private def expectedKept(b: Int): (Set[Long], Set[(Long, Long)], Set[(Long, Long)]) = {
    val live = batchOf(b).filter(d => Corpus.passesGates(d.text))
    val found = DedupOps.minhashLshDocsAuto(live.map(d => (d.id, d.text)).toDF("doc_id", "text"),
        col("doc_id"), col("text"), threshold)
      .select("d1", "d2").as[(Long, Long)].collect().toSet
    val (want, falsePairs, missed) = Corpus.expectedKept(batchOf(b), found, threshold)
    (if (Main.corrupt("curate")) want - want.min else want, falsePairs, missed)
  }

  def warmup(): Unit = step()

  override def startWindow(): Unit = stage.values.foreach(_.clear())

  def op(i: Int): Op = {
    val (s, check) = step()
    Op("batch", batchDocs.toDouble, check, latency = Some(s))
  }

  /** The loops' exactness contracts over everything folded so far; every
    * batch fed the end state, so each counts as failed if it breaks. */
  private lazy val endState: Boolean = {
    val docs = folded.toSeq.map(id => (id, text(id))).toDF("doc_id", "text")
    val found = DedupOps.minhashLshDocs(docs, col("doc_id"), col("text"), k, bands, threshold)
      .select("d1", "d2").as[(Long, Long)].collect().toSet
    val oneShot = if (Main.corrupt("pairs")) found - found.head else found
    val emitted = spark.read.parquet(s"$root/pairs").select("d1", "d2").as[(Long, Long)].collect()
    val cc = DedupOps.connectedComponents(
      oneShot.toSeq.map { case (a, b) => (a.toString, b.toString) }.toDF("d1", "d2"))
      .as[(String, String)].collect().toMap
      .map { case (d, l) => d -> (if (Main.corrupt("labels")) l + "x" else l) }
    val labels = ClusterLoop.latestLabels(spark, s"$root/state").as[(String, String)].collect().toMap
    emitted.length == emitted.toSet.size && emitted.toSet == oneShot && labels == cc
  }

  override def perLayer(ops: Seq[(Op, Double)]): Map[String, Double] = {
    def bytes(f: java.io.File): Long =
      if (f.isFile) f.length else Option(f.listFiles).map(_.map(bytes).sum).getOrElse(0L)
    def files(f: java.io.File): Long =
      if (f.isFile) 1L else Option(f.listFiles).map(_.map(files).sum).getOrElse(0L)
    val state = Seq("index", "state", "edges").map(s => new java.io.File(s"$root/$s"))
    val inBytes = folded.map(id => text(id).getBytes("UTF-8").length.toLong).sum
    // The audit is read once, after the timed window: its stage counts
    // depend only on the seed, so any change in them is a change in behaviour.
    val audit = Pipelines.curate(batchFrame(0)).audit
      .collect().map(r => s"api.stage_rows.${r.getString(1)}" -> r.getLong(2).toDouble)
    def med(k: String) = Main.median(stage(k).toSeq)
    audit.toMap ++ Map(
      "api.curate_call_s" -> med("curate_call"),
      "api.curate_collect_s" -> med("curate_collect"),
      "streaming.neardup_trigger_s" -> med("neardup"),
      "streaming.cluster_trigger_s" -> med("cluster"),
      "streaming.compaction_trigger_s" -> med("compaction"),
      "streaming.read_s" -> med("read"),
      "streaming.pairs_emitted" -> pairsEmitted.toDouble,
      "sources.state_bytes" -> state.map(bytes).sum.toDouble,
      "sources.state_files" -> state.map(files).sum.toDouble,
      "sources.bytes_stored_per_input_byte" -> state.map(bytes).sum.toDouble / inBytes)
  }

  override def close(): Unit = queries.foreach(_.stop())

  override def details: Seq[(String, Any)] = Seq(
    "batch_docs" -> batchDocs, "batches_ingested" -> next, "docs_folded" -> folded.size,
    "compact_every" -> compactEvery, "compactions" -> stage("compaction").size,
    "read_p50_s" -> Main.median(stage("read").toSeq),
    "curate_pairs_missed" -> pairsMissed,
    "planted" -> batchOf.take(next).flatten.groupBy(_.kind).map { case (k, v) => k -> v.size })
}
